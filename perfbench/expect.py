"""Expected outputs, recomputed from the documented rules rather than by
calling the program.

The stub backend's output rules are documented on
``sutro_spark.operators.backends.StubBackend``; the cost estimate's
formula on ``sutro_spark.plans.cost.estimate_cost``; the loopback HTTP
service's reply is ``http_reply`` below. Each check returns the number of
wrong rows (offline, remote) or whether a whole request is right
(prototype), so failures count into ``failed_frac``.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd

TOPICS = ["data", "query", "stream"]

# Five typed fields, one of each stub rule the unpack step must decode.
EXTRACT_SCHEMA = {
    "type": "object",
    "properties": {
        "title": {"type": "string"},
        "topic": {"type": "string", "enum": TOPICS},
        "rating": {"type": "integer", "minimum": 1, "maximum": 5},
        "weight": {"type": "number"},
        "flag": {"type": "boolean"},
    },
    "required": ["title", "topic", "rating", "weight", "flag"],
}
EXTRACT_FIELDS = list(EXTRACT_SCHEMA["properties"])

CLASSES = ["positive", "negative", "neutral", "mixed"]
SCORE_RANGE = (1, 10)
EMBED_DIM = 8
RANK_LABELS = ["a", "b"]
ROW_ID = "__row_id"


def expected_extract(prompts: pd.Series) -> pd.DataFrame:
    """The stub's structured output for ``EXTRACT_SCHEMA`` (field index
    ``idx`` in declaration order, ``n`` = prompt length in characters)."""
    n = prompts.str.len().to_numpy()
    return pd.DataFrame(
        {
            "title": prompts.str.slice(0, 12).str.upper().to_numpy(),  # idx 0
            "topic": np.array(TOPICS, dtype=object)[n % len(TOPICS)],  # enum
            "rating": 1 + (n + 2) % 5,  # idx 2, minimum 1, maximum 5
            "weight": ((n + 3) % 1000) / 8.0,  # idx 3
            "flag": (n + 4) % 2 == 0,  # idx 4
        }
    )


def _in_row_order(result: pd.DataFrame) -> pd.DataFrame:
    if ROW_ID in result.columns:
        result = result.sort_values(ROW_ID, kind="stable")
    return result.reset_index(drop=True)


def extract_failures(result: pd.DataFrame, prompts: list[str], *, with_inputs: bool,
                     ordered: bool) -> int:
    """Wrong or misaligned rows of an extract result. ``ordered`` results
    must already be in input order; others are put in ``__row_id``
    order first."""
    n = len(prompts)
    need = ["prompt", *EXTRACT_FIELDS] + (["inputs"] if with_inputs else [])
    if len(result) != n or any(c not in result.columns for c in need):
        return n
    if not ordered:
        result = _in_row_order(result)
    result = result.reset_index(drop=True)
    want = expected_extract(pd.Series(prompts, dtype=object))
    bad = result["prompt"].to_numpy() != np.array(prompts, dtype=object)
    if with_inputs:
        bad |= result["inputs"].to_numpy() != np.array(prompts, dtype=object)
    for col in EXTRACT_FIELDS:
        bad |= ~(result[col].to_numpy() == want[col].to_numpy())
    return int(bad.sum())


def column_ok(result: pd.DataFrame, prompts: list[str], column: str, expected: list) -> bool:
    """Row count, alignment (``prompt`` in ``__row_id`` order) and every
    value of ``column``."""
    if len(result) != len(prompts) or column not in result.columns:
        return False
    result = _in_row_order(result)
    if result["prompt"].tolist() != prompts:
        return False
    got = result[column].tolist()
    return all(_same(g, e) for g, e in zip(got, expected))


def _same(got, want) -> bool:
    if isinstance(want, list):
        return got is not None and len(got) == len(want) and all(
            _same(g, w) for g, w in zip(got, want)
        )
    return got == want


def expected_classes(prompts: list[str]) -> list[str]:
    return [CLASSES[len(p) % len(CLASSES)] for p in prompts]


def expected_scores(prompts: list[str]) -> list[int]:
    lo, hi = SCORE_RANGE
    return [lo + len(p) % (hi - lo + 1) for p in prompts]


def expected_embeddings(prompts: list[str]) -> list[list[float]]:
    return [[((len(p) * 31 + i * 17) % 97) / 97.0 for i in range(EMBED_DIM)] for p in prompts]


def rank_prompt(a: str, b: str) -> str:
    """The labeled concat the rank template ships for options a and b."""
    return f"a: {a} b: {b}"


def expected_ratings(ballots: list[tuple[str, str]]) -> dict[str, dict]:
    """Elo ratings for two labels. The stub ranks ``[a, b]`` rotated left
    by ``len(prompt) % 2``; with Laplace 0.5 the two-player
    Bradley-Terry fit is closed form: ``s_a = sqrt(W_ab / W_ba)``."""
    a_wins = sum(1 for a, b in ballots if len(rank_prompt(a, b)) % 2 == 0)
    w_ab = a_wins + 0.5
    w_ba = len(ballots) - a_wins + 0.5
    s_a = math.sqrt(w_ab / w_ba)
    scale = 400.0 / math.log(10.0)
    return {
        "a": {"elo": scale * math.log(s_a) + 1500.0, "wins": w_ab, "losses": w_ba,
              "matches": w_ab + w_ba},
        "b": {"elo": -scale * math.log(s_a) + 1500.0, "wins": w_ba, "losses": w_ab,
              "matches": w_ab + w_ba},
    }


def ratings_ok(result: pd.DataFrame, ballots: list[tuple[str, str]]) -> bool:
    want = expected_ratings(ballots)
    if len(result) != len(want) or set(result["label"]) != set(want):
        return False
    for row in result.to_dict("records"):
        exp = want[row["label"]]
        if not all(math.isclose(row[k], v, rel_tol=0, abs_tol=1e-6) for k, v in exp.items()):
            return False
    return True


def expected_cost(prompts: list[str]) -> dict:
    """``estimate_cost`` for stub-echo: ceil(chars / 4) tokens a row, 128
    output tokens a row, $0.10 / $0.40 per million tokens."""
    rows = len(prompts)
    tokens = sum(math.ceil(len(p) / 4) for p in prompts)
    input_tokens = int(tokens / rows * rows)
    output_tokens = 128 * rows
    cost = input_tokens / 1e6 * 0.10 + output_tokens / 1e6 * 0.40
    return {"rows": rows, "input_tokens": input_tokens, "output_tokens": output_tokens,
            "cost": round(cost, 6), "sampled_rows": rows}


def http_reply(prompt: str) -> str:
    """The loopback service's deterministic output for one prompt."""
    return f"{len(prompt)}:{hashlib.sha1(prompt.encode()).hexdigest()[:16]}"


def http_failures(result: pd.DataFrame, prompts: list[str]) -> int:
    """Rows whose output is not the service's reply to the prompt at the
    same position."""
    n = len(prompts)
    if len(result) != n or "outputs" not in result.columns:
        return n
    got = result["outputs"].tolist()
    return sum(1 for g, p in zip(got, prompts) if g != http_reply(p))
