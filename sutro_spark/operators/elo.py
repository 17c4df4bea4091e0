"""Ranking aggregation: ballots → pairwise counts → Bradley-Terry → Elo
(SURVEY.md §2.4 A1-A3; reference: /root/reference/sutro/templates/evals.py:181-336).

Split by scale:
- **A1 pairwise win/tie counts** is the big-data half — ballots can be
  billions of rows — so it is pure relational Spark: each ballot's
  ranking is exploded twice, winner side then loser side, which pairs
  its labels inside the row with no join, and ONE groupBy counts wins
  and ties together as conditional counts. The input is read once and
  the only shuffle is on (winner, loser), which is high-cardinality and
  unskewed.
- **A2 Bradley-Terry MM → Elo** operates on a |labels|² matrix — never
  big data — so it is deliberately driver-side numpy (the reference does
  the same, evals.py:249-313). Algorithm: Hunter (2004) MM iterations
  for the Bradley-Terry model, ties counted as half-wins both ways,
  Laplace smoothing on directed edges, geometric-mean-1 normalization,
  tol 1e-8, <=1000 iterations; elo = 400/ln(10) * ln(s) centered at 1500.
  The fitted ratings come back to Spark as an Arrow local relation.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sutro_spark.sources.ingest import local_frame


def _labels(df: DataFrame, tie_delimiter: str | None, side: str) -> DataFrame:
    """Add ``{side}_pos`` and ``{side}`` columns: one row per label of
    each element of the ``ballot`` array. An element like ``"A|B"`` is
    a tie group when ``tie_delimiter='|'`` (reference models ties as
    tuples inside the ranking list, evals.py:216-247)."""
    pos, element = f"{side}_pos", f"{side}_element"
    ex = df.select("*", F.posexplode("ballot").alias(pos, element))
    label = F.explode(F.split(element, f"\\{tie_delimiter}")) if tie_delimiter else F.col(element)
    return ex.select(*df.columns, pos, label.alias(side))


def pairwise_counts(
    df: DataFrame, ranking_column: str = "ranking", tie_delimiter: str | None = "|"
) -> DataFrame:
    """A1 — every earlier label beats every later label (+1 win); labels
    sharing a position tie (+1 per unordered pair).

    Returns (winner, loser, wins, ties) — ties are symmetric and reported
    on the lexicographically-ordered pair only. A pair appears when it
    has a win or a tie; both counts come from one grouped aggregate of
    conditional counts over the pairs that are either.

    Pairs are made inside each ballot row: the ranking array is
    exploded twice, once for the winner side and once, on each winner
    row, for the loser side, so there is no join, no ballot id and the
    input plan (a model transform, for ``rank``) is evaluated once.
    Scale shape, MEASURED (local[4], medians of 5 in two sessions):
    over 1.2M parquet ballots with every seventh holding a tie,
    ``collect()`` took 1.1–1.2 s for 3 labels and 1.9–2.1 s for 5,
    against 3.1–3.3 s and 4.3–5.4 s for the posexplode + ballot-id
    self-join it replaced, with identical rows. Both explodes are plain
    ``Generate``s feeding the count aggregate, which stay in
    whole-stage codegen; do not "optimize" them into array lambdas: an
    earlier rewrite via nested higher-order functions
    (flatten/transform/filter generating pair structs) took 30–110 s
    where the self-join took ~21 s, because Catalyst HOF lambdas are
    interpreted per element.
    """
    ballots = df.select(F.col(ranking_column).alias("ballot"))
    pairs = _labels(_labels(ballots, tie_delimiter, "w"), tie_delimiter, "l")
    before = F.col("w_pos") < F.col("l_pos")
    tied = F.col("w_pos") == F.col("l_pos")
    return (
        # label != label guard: a label appearing at two positions in one
        # ballot must not produce a self-win row (reference skips w == l,
        # evals.py:234); a tie counts once, on the ordered pair.
        pairs.where((before & (F.col("w") != F.col("l"))) | (tied & (F.col("w") < F.col("l"))))
        .groupBy(F.col("w").alias("winner"), F.col("l").alias("loser"))
        .agg(F.count_if(before).alias("wins"), F.count_if(tied).alias("ties"))
    )


def bradley_terry_elo(
    counts: list[tuple[str, str, int, int]],
    *,
    laplace: float = 0.5,
    max_iter: int = 1000,
    tol: float = 1e-8,
    elo_mean: float = 1500.0,
) -> list[dict]:
    """A2 — driver-side MM fit on the (winner, loser, wins, ties) counts.

    Pure-Python/numpy on a |labels|² problem; deliberately NOT
    distributed (SURVEY.md §7 risk register).
    """
    labels = sorted({w for w, _, _, _ in counts} | {l for _, l, _, _ in counts})
    idx = {lab: i for i, lab in enumerate(labels)}
    n = len(labels)
    W = np.zeros((n, n))  # W[i, j] = effective wins of i over j
    for winner, loser, wins, ties in counts:
        if winner == loser:  # reference skips self-pairs (evals.py:264)
            continue
        i, j = idx[winner], idx[loser]
        W[i, j] += wins + 0.5 * ties
        W[j, i] += 0.5 * ties
    # Laplace smoothing on every directed edge between distinct labels.
    if laplace:
        W = W + laplace * (1 - np.eye(n))
    matches = W + W.T  # N[i, j] = total comparisons between i and j
    played = matches.sum(axis=1) > 0
    keep = np.flatnonzero(played)
    if keep.size == 0:
        return []
    W = W[np.ix_(keep, keep)]
    matches = matches[np.ix_(keep, keep)]
    labels = [labels[i] for i in keep]
    n = len(labels)
    w_i = W.sum(axis=1)
    s = np.ones(n)
    for _ in range(max_iter):
        denom = (matches / np.add.outer(s, s)).sum(axis=1)
        s_new = w_i / denom
        s_new = s_new / np.exp(np.mean(np.log(s_new)))  # geometric mean 1
        if np.max(np.abs(s_new - s)) < tol:
            s = s_new
            break
        s = s_new
    elo = 400.0 / math.log(10.0) * np.log(s) + elo_mean
    out = []
    for i, lab in enumerate(labels):
        out.append(
            {
                "label": lab,
                "elo": float(elo[i]),
                "strength": float(s[i]),
                "wins": float(W[i].sum()),
                "losses": float(W[:, i].sum()),
                "matches": float(matches[i].sum()),
            }
        )
    out.sort(key=lambda r: -r["elo"])
    return out


def elo(
    df: DataFrame,
    ranking_column: str = "ranking",
    *,
    laplace: float = 0.5,
    max_iter: int = 1000,
    tol: float = 1e-8,
    elo_mean: float = 1500.0,
    tie_delimiter: str | None = "|",
) -> DataFrame:
    """A1+A2+A3 — full pipeline: distributed pairwise counts, driver-side
    BT fit, ratings table sorted by elo desc (reference returns ratings
    only, evals.py:336)."""
    counts = [
        (r["winner"], r["loser"], r["wins"], r["ties"])
        for r in pairwise_counts(df, ranking_column, tie_delimiter).collect()
    ]
    ratings = bradley_terry_elo(
        counts, laplace=laplace, max_iter=max_iter, tol=tol, elo_mean=elo_mean
    )
    schema = "label string, elo double, strength double, wins double, losses double, matches double"
    return local_frame(df.sparkSession, ratings, schema)


def ratings_markdown(ratings: DataFrame) -> str:
    """Render an ``elo()`` ratings table as a pandas-style markdown
    table over (elo, wins, losses, matches), indexed by label — the
    format the reference prints after a ``run_elo`` ranking run
    (evals.py:168-170, ``ratings[["elo","wins","losses","matches"]]
    .to_markdown()``). Driver-side string building over the
    |labels|-row ratings table — never big data."""
    rows = ratings.select("label", "elo", "wins", "losses", "matches").collect()
    cells = [
        [r["label"]]
        + [f"{float(r[c]):g}" for c in ("elo", "wins", "losses", "matches")]
        for r in rows
    ]
    headers = ["", "elo", "wins", "losses", "matches"]
    widths = [
        max(len(headers[i]), *(len(c[i]) for c in cells)) if cells else len(headers[i])
        for i in range(5)
    ]
    def fmt(vals):
        return "| " + " | ".join(v.ljust(w) for v, w in zip(vals, widths)) + " |"

    sep = "|" + "|".join("-" * (w + 2) for w in widths) + "|"
    return "\n".join([fmt(headers), sep] + [fmt(c) for c in cells])
