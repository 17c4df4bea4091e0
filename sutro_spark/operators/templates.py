"""Task templates over ``llm_transform`` (SURVEY.md §2.3 U3-U5).

Reference: /root/reference/sutro/templates/{classification,evals,embed}.py.
Each template is pure composition: a prompt/system-prompt builder, a
forced output schema, the U1 transform, and a post-processing projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sutro_spark.functions.prompt import labeled_concat
from sutro_spark.operators.backends import STUB, Backend
from sutro_spark.operators.transform import embed_transform, llm_transform
from sutro_spark.operators.unpack import decode_ranking, strip_scratchpad


def _format_classes(classes: list[str] | dict[str, str]) -> str:
    """Rubric lines from a list or {label: description} dict
    (reference: templates/classification.py:51-83)."""
    if isinstance(classes, dict):
        return "\n".join(f"- {label}: {desc}" for label, desc in classes.items())
    return "\n".join(f"- {label}" for label in classes)


def classification_schema(classes: list[str] | dict[str, str]) -> dict:
    """Forced {scratchpad, classification} schema
    (reference: templates/classification.py:85-89), with the label set
    surfaced as a JSON-schema enum so constrained decoding — and the
    deterministic stub — can only emit valid labels."""
    labels = list(classes.keys()) if isinstance(classes, dict) else list(classes)
    return {
        "type": "object",
        "properties": {
            "scratchpad": {"type": "string"},
            "classification": {"type": "string", "enum": labels},
        },
        "required": ["scratchpad", "classification"],
    }


def classify(
    df: DataFrame,
    classes: list[str] | dict[str, str],
    column,
    *,
    model: str = "stub-echo",
    output_column: str = "classification",
    keep_scratchpad: bool = False,
    backend: Backend = STUB,
    include_logprobs: bool = False,
) -> DataFrame:
    """U3 — rubric system prompt + constrained {scratchpad,
    classification} output + scratchpad strip
    (reference: templates/classification.py:12-117).
    ``include_logprobs`` carries ``cumulative_logprobs`` through — feed
    it to results.confidence_milli + metrics.calibration_bins for the
    label → judge → calibration-report loop."""
    system_prompt = (
        "Classify the input into exactly one of the following classes:\n"
        + _format_classes(classes)
    )
    schema = classification_schema(classes)
    out = llm_transform(
        df,
        column,
        model=model,
        output_column="outputs",
        system_prompt=system_prompt,
        output_schema=schema,
        backend=backend,
        include_logprobs=include_logprobs,
    )
    if keep_scratchpad:
        return out.withColumnRenamed("outputs", output_column)
    return strip_scratchpad(out, "outputs").withColumnRenamed("outputs", output_column)


def score_schema(score_range: tuple[int, int]) -> dict:
    """Min/max-constrained integer score (reference: evals.py:42-52)."""
    lo, hi = score_range
    return {
        "type": "object",
        "properties": {"score": {"type": "integer", "minimum": lo, "maximum": hi}},
        "required": ["score"],
    }


def score(
    df: DataFrame,
    criteria: str | list[str],
    column,
    *,
    score_range: tuple[int, int] = (1, 10),
    model: str = "stub-echo",
    score_column: str = "score",
    backend: Backend = STUB,
) -> DataFrame:
    """U4 — LLM judge: criteria → judge system prompt, integer score in
    range, score column joined back onto the input
    (reference: templates/evals.py:13-74)."""
    crits = [criteria] if isinstance(criteria, str) else list(criteria)
    system_prompt = (
        "Score the input on the following criteria, returning an integer "
        f"between {score_range[0]} and {score_range[1]}:\n"
        + "\n".join(f"- {c}" for c in crits)
    )
    out = llm_transform(
        df,
        column,
        model=model,
        output_column="__score_raw",
        system_prompt=system_prompt,
        output_schema=score_schema(score_range),
        backend=backend,
    )
    return out.withColumn(
        score_column,
        F.from_json(F.col("__score_raw"), "score bigint").getField("score"),
    ).drop("__score_raw")


def ranking_schema(option_labels: list[str]) -> dict:
    """Array-of-labels output schema (reference: evals.py:112-121)."""
    return {
        "type": "object",
        "properties": {
            "ranking": {"type": "array", "items": {"type": "string", "enum": option_labels}}
        },
        "required": ["ranking"],
    }


def rank(
    df: DataFrame,
    option_labels: list[str],
    criteria: str,
    *,
    model: str = "stub-echo",
    ranking_column: str = "ranking",
    run_elo: bool = False,
    backend: Backend = STUB,
) -> DataFrame:
    """U5 — pairwise/listwise judge: labeled concat of the option columns
    (P3, null option ⇒ null prompt ⇒ null ranking), array-of-labels
    output, optional Elo aggregation done separately via ``elo.elo``
    (reference: templates/evals.py:78-179)."""
    missing = [c for c in option_labels if c not in df.columns]
    if missing:
        raise ValueError(f"option label columns missing from input: {missing}")
    prompt = labeled_concat(df, option_labels)
    src = df.withColumn("__rank_prompt", prompt)
    out = llm_transform(
        src,
        "__rank_prompt",
        model=model,
        output_column="outputs",
        system_prompt=f"Rank the options by: {criteria}",
        output_schema=ranking_schema(option_labels),
        backend=backend,
    ).drop("__rank_prompt")
    out = decode_ranking(out, "outputs", "ranking")
    if ranking_column != "ranking":
        out = out.withColumnRenamed("ranking", ranking_column)
    if run_elo:
        from sutro_spark.operators.elo import elo, ratings_markdown

        ratings = elo(out, ranking_column)
        # reference prints the ratings as a markdown table before
        # returning (evals.py:168-170)
        print(ratings_markdown(ratings))
        return ratings
    return out


def embed(
    df: DataFrame,
    column,
    *,
    model: str = "stub-embed",
    output_column: str = "embedding",
    dim: int = 8,
    backend: Backend = STUB,
) -> DataFrame:
    """U2 wrapper matching the reference template
    (/root/reference/sutro/templates/embed.py:9-53)."""
    return embed_transform(
        df, column, model=model, output_column=output_column, dim=dim, backend=backend
    )


def infer_per_model(
    df: DataFrame,
    column,
    models: list[str],
    *,
    names: list[str] | None = None,
    output_column: str = "outputs",
    backend: Backend = STUB,
) -> DataFrame:
    """U8 — the same dataset fanned out across N models
    (reference: sdk.py:745-851 submits N sequential detached jobs).

    Spark-first: one plan — a union of per-model transforms, each
    tagged with ``model_name`` — so all N runs execute concurrently in
    a single action instead of N sequential submissions. Each model's
    prompt is prefixed "name: " so per-model outputs are distinguishable
    (and oracle-checkable) under the deterministic stub.
    """
    names = names or models
    if len(names) != len(models):
        raise ValueError("names must match models in length")  # sdk.py:788-800
    parts = []
    for model, mname in zip(models, names):
        src = df.withColumn(
            "__fanout_prompt",
            F.concat(F.lit(f"{mname}: "), F.coalesce(F.col(column).cast("string"), F.lit(""))),
        )
        out = llm_transform(
            src, "__fanout_prompt", model=model, output_column=output_column, backend=backend
        ).drop("__fanout_prompt")
        parts.append(out.withColumn("model_name", F.lit(mname)))
    result = parts[0]
    for p in parts[1:]:
        result = result.unionByName(p)
    return result


def run_function(
    record: dict,
    function_name: str,
    *,
    backend: Backend = STUB,
    traced: bool = False,
) -> dict:
    """U6 — online single-record function call
    (reference: sdk.py:539-615 POSTs one record to the serving endpoint
    and returns {response, confidence, predictions, run_id}).

    Driver-side convenience, not a Spark job — one record does not need
    a cluster. ``traced=True`` wraps the call with a latency-capturing
    trace record (O4, reference: observability.py:216-304).
    """
    import hashlib
    import json as _json
    import time as _time

    import pandas as pd

    prompt = _json.dumps(record, ensure_ascii=False)
    t0 = _time.time()
    out = backend.generate(pd.Series([prompt]), model=function_name)
    response = out["outputs"].iloc[0]
    result = {
        "response": response,
        "confidence": 1.0,
        "predictions": [response],
        "run_id": hashlib.sha256(f"{function_name}-{prompt}".encode()).hexdigest()[:32],
    }
    if traced:
        result["trace"] = {
            "name": function_name,
            "latency_s": round(_time.time() - t0, 6),
            "inputs": record,
            "outputs": response,
            "error": None,
        }
    return result


def batch_run_function(
    df: DataFrame,
    function_name: str,
    *,
    output_column: str = "outputs",
    backend: Backend = STUB,
) -> DataFrame:
    """U7 — table rows become JSON records shipped to a named function
    (reference: sdk.py:617-743 converts via to_dict(orient="records")
    and submits with model=function_name, truncate_rows=False).

    Spark-first: the record is ``to_json(struct(*))`` — a pure
    projection — and the function call is the same U1 transform.
    """
    # Exclude internal __-prefixed columns (e.g. __row_id minted by the
    # facade) so the shipped record matches the reference's
    # to_dict(orient="records") of the user-visible frame.
    visible = [c for c in df.columns if not c.startswith("__")]
    src = df.withColumn("__record", F.to_json(F.struct(*visible)))
    return llm_transform(
        src, "__record", model=function_name, output_column=output_column, backend=backend
    ).drop("__record")
