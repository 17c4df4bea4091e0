"""The engine's one custom physical operator: batched row-wise model
transform (SURVEY.md §2.3 U1/U2).

Reference behavior (/root/reference/sutro/sdk.py:465-537): ship N prompts,
receive N outputs positionally aligned, then join back onto the input
table by position (sdk.py:1322-1334).

Spark-first design: instead of "extract prompts → remote call → positional
re-join", the input rows flow **through** an Arrow-batched ``mapInPandas``
and the output column is appended in place. Alignment is then free —
no shuffle, no join, no ordering assumption. The backend is called once
per Arrow batch (``spark.sql.execution.arrow.maxRecordsPerBatch`` rows),
which is the Spark analog of the reference's server-side batching. An
in-memory facade input has one partition per Arrow batch
(``sources.ingest._arrow_frame``), so a small request (up to one batch
of rows) is one task and one backend call, and with an ``HttpBackend``
one remote job, as the reference submits one job per request.

The backend is a value: the caller passes the object, the
``mapInPandas`` closure captures it, and Spark pickles it with every
task, so the Python workers run the backend exactly as the driver
configured it (an ``HttpBackend`` keeps its URL, key and transport).

Scale notes (100 TB):
- the operator is embarrassingly parallel: throughput scales linearly
  with executors; no state, no skew (batches are uniform row slices).
- task retries re-run whole batches; backends must be deterministic /
  idempotent per prompt (see backends.py).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sutro_spark.functions.prompt import concat_prompt
from sutro_spark.operators.backends import STUB, Backend

_PROMPT = "__prompt"


def _prompt_column(df: DataFrame, column) -> DataFrame:
    """Materialize the prompt column from a name, list of names+literals,
    or a Column expression (reference: common.py:77-113 via prompt.py)."""
    if isinstance(column, str) and column in df.columns:
        expr = F.coalesce(F.col(column).cast("string"), F.lit(""))
    else:
        expr = concat_prompt(df, column)
    return df.withColumn(_PROMPT, expr)


def llm_transform(
    df: DataFrame,
    column,
    *,
    model: str = "stub-echo",
    output_column: str = "outputs",
    system_prompt: str = "",
    output_schema: dict | None = None,
    sampling_params: dict | None = None,
    random_seed_per_input: bool = False,
    truncate_chars: int | None = None,
    include_logprobs: bool = False,
    backend: Backend = STUB,
    keep_prompt: bool = False,
    progress_accumulator=None,
) -> DataFrame:
    """U1 — per-row model completion as a streaming Arrow pipeline.

    Parameters mirror ``Sutro.infer`` (/root/reference/sutro/sdk.py:465-537):
    ``model``, ``system_prompt``, ``output_schema`` (JSON-schema-constrained
    decoding), ``sampling_params``, ``random_seed_per_input``, and
    ``truncate_chars`` standing in for the server-side ``truncate_rows``
    (a plain projection: fit the prompt to a context budget *before* the
    expensive call). ``backend`` is called once per Arrow batch on the
    executors.
    """
    if output_column in df.columns:
        raise ValueError(f"output column {output_column!r} already exists in the input")
    src = _prompt_column(df, column)
    if truncate_chars is not None:
        src = src.withColumn(_PROMPT, F.substring(F.col(_PROMPT), 1, truncate_chars))
    out_fields = list(src.schema.fields) + [T.StructField(output_column, T.StringType())]
    if include_logprobs:
        out_fields.append(T.StructField("cumulative_logprobs", T.DoubleType()))
    out_schema = T.StructType(out_fields)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            res = backend.generate(
                pdf[_PROMPT],
                model=model,
                system_prompt=system_prompt,
                output_schema=output_schema,
                sampling_params=sampling_params,
                random_seed_per_input=random_seed_per_input,
            )
            pdf = pdf.copy()
            pdf[output_column] = res["outputs"].to_numpy()
            if include_logprobs:
                pdf["cumulative_logprobs"] = res["cumulative_logprobs"].to_numpy()
            if progress_accumulator is not None:
                # rows-completed stream (C5): accumulator updates flow
                # to the driver per task; JobRegistry.get_job_status
                # reads them with the monotonic-max rule
                progress_accumulator.add(len(pdf))
            yield pdf

    out = src.mapInPandas(run, schema=out_schema)
    return out if keep_prompt else out.drop(_PROMPT)


def embed_transform(
    df: DataFrame,
    column,
    *,
    model: str = "stub-embed",
    output_column: str = "embedding",
    dim: int = 8,
    backend: Backend = STUB,
) -> DataFrame:
    """U2 — per-row embedding (reference: templates/embed.py:9-53).

    Same operator shape as U1 but the output column is array<double>.
    """
    if output_column in df.columns:
        raise ValueError(f"output column {output_column!r} already exists in the input")
    src = _prompt_column(df, column)
    out_schema = T.StructType(
        list(src.schema.fields) + [T.StructField(output_column, T.ArrayType(T.DoubleType()))]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vecs = backend.embed(pdf[_PROMPT], model=model, dim=dim)
            pdf = pdf.copy()
            pdf[output_column] = [list(v) for v in vecs]
            yield pdf

    return src.mapInPandas(run, schema=out_schema).drop(_PROMPT)
