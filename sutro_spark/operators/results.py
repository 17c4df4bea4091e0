"""Results-shaping operators (SURVEY.md §2.2 P5, §2.5 J1, §2.1 S10/S11).

Reference: the SDK's get_job_results (sdk.py:1131-1340) — fixed column
order, positional join back onto the original table, one parquet
results file per job. ``SutroSpark.get_job_results`` composes these
into the one user-facing view of a job's results.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from sutro_spark.sources.ingest import ROW_ID


# column-metadata key under which a job's declared output schema rides
# the ``outputs`` column into the parquet cache (Spark keeps column
# metadata in the file's footer), so any later reader unpacks with it
OUTPUT_SCHEMA_KEY = "sutro_output_schema"


def tag_output_schema(df: DataFrame, output_schema: dict) -> DataFrame:
    """Attach the declared JSON schema to the raw ``outputs`` column."""
    return df.withMetadata("outputs", {OUTPUT_SCHEMA_KEY: json.dumps(output_schema)})


def output_schema_of(df: DataFrame) -> dict | None:
    """The JSON schema stored on ``outputs`` by :func:`tag_output_schema`,
    or None for schema-less outputs."""
    stored = df.schema["outputs"].metadata.get(OUTPUT_SCHEMA_KEY)
    return json.loads(stored) if stored else None


def exp_confidence(
    df: DataFrame,
    logprob_column: str = "cumulative_logprobs",
    out: str = "confidence_score",
) -> DataFrame:
    """confidence_score = exp(cumulative logprob) — the sequence
    probability, the probabilistic reading of the column the reference
    results carry (sdk.py:1255). Double-valued and transcendental, so
    NOT oracle-hashable; for calibration reports use
    :func:`confidence_milli` instead."""
    return df.withColumn(out, F.exp(F.col(logprob_column)))


def confidence_milli(
    df: DataFrame,
    logprob_column: str = "cumulative_logprobs",
    out: str = "conf_milli",
) -> DataFrame:
    """Integer-milli confidence from a cumulative logprob — the
    engine-exact bridge between template outputs and the calibration
    machinery (metrics.calibration_bins / calibration_ece, which
    require pre-quantized integer confidences).

    conf_milli = 1_000_000 div (1000 + trunc(−logprob·1000)): a
    harmonic squash onto (0, 1000] — 1000 at logprob 0, monotone
    decreasing in |logprob| — built from one multiply, one truncating
    cast, and one integer division, so any engine reproduces it
    bit-for-bit (exp() would differ in the last ulp across libm
    implementations and flip truncation boundaries). NOT the sequence
    probability: calibration only needs a deterministic monotone map
    from model confidence to bins; use :func:`exp_confidence` when the
    probabilistic value itself matters. NULL logprob → NULL conf
    (calibration_bins drops those rows by contract)."""
    tmp = "__lp_abs_milli"
    lp_abs = F.greatest(
        (-F.col(logprob_column) * 1000).cast("long"), F.lit(0).cast("long")
    )
    return (
        df.withColumn(
            tmp, F.when(F.col(logprob_column).isNotNull(), lp_abs)
        )
        .withColumn(
            out,
            F.expr(f"CAST(1000000 AS BIGINT) div (CAST(1000 AS BIGINT) + {tmp})"),
        )
        .drop(tmp)
    )


def order_results(
    df: DataFrame,
    output_column: str = "outputs",
    *,
    include_inputs: bool = False,
    include_logprobs: bool = False,
    input_column: str = "inputs",
) -> DataFrame:
    """P5 — fixed results column order (sdk.py:1251-1276):
    [inputs?, user metadata columns..., output, cumulative_logprobs?,
    confidence_score?], rows in input order (= ``__row_id``)."""
    special = {input_column, output_column, "cumulative_logprobs", "confidence_score", ROW_ID}
    meta = [c for c in df.columns if c not in special]
    ordered: list[str] = []
    if include_inputs and input_column in df.columns:
        ordered.append(input_column)
    # the output column is absent when JSON unpack promoted-and-dropped it
    ordered += meta + ([output_column] if output_column in df.columns else [])
    if include_logprobs and "cumulative_logprobs" in df.columns:
        ordered.append("cumulative_logprobs")
    if "confidence_score" in df.columns:
        ordered.append("confidence_score")
    out = df
    if ROW_ID in df.columns:
        out = out.orderBy(ROW_ID)
    return out.select(*ordered)


def positional_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """J1 — horizontal concat by row position (sdk.py:1322-1334).

    Spark has no positional concat; both sides must carry ``__row_id``
    (the engine-wide convention minted at every source). Implemented as
    an equi-join on the id — Catalyst broadcast/sort-merge picks the
    physical strategy, and at 100 TB both sides are already hash
    partitioned by id if they came from the same lineage.

    Column collisions (other than the id) raise, mirroring the unpack
    collision rule (sdk.py:1290-1297).
    """
    for side, df in (("left", left), ("right", right)):
        if ROW_ID not in df.columns:
            raise ValueError(f"{side} side lacks {ROW_ID}; mint it at the source (with_row_id)")
    overlap = sorted((set(left.columns) & set(right.columns)) - {ROW_ID})
    if overlap:
        raise ValueError(f"positional_join column collision: {', '.join(overlap)}")
    return left.join(right, on=ROW_ID, how="inner")


# --- S10: parquet result cache, one file per job ---------------------------
def cache_dir() -> str:
    return os.environ.get(
        "SUTRO_SPARK_CACHE", os.path.expanduser("~/.sutro_spark/job-results")
    )


def cache_path(job_id: str) -> str:
    return os.path.join(cache_dir(), f"{job_id}.parquet")


def is_complete(path: str) -> bool:
    """A results directory counts only once Spark's commit wrote its
    ``_SUCCESS`` marker; a failed, cancelled or killed write leaves
    none."""
    return os.path.isfile(os.path.join(path, "_SUCCESS"))


def write_result_cache(df: DataFrame, job_id: str) -> str:
    """Persist results keyed by job id (sdk.py:1233-1235 writes snappy
    parquet; snappy is Spark's default parquet codec too)."""
    path = cache_path(job_id)
    df.write.mode("overwrite").parquet(path)
    return path


def read_result_cache(
    spark: SparkSession,
    job_id: str,
    path: str | None = None,
    schema: StructType | None = None,
) -> DataFrame | None:
    """The job's complete results file as written, or None.
    ``path`` overrides the job id's cache path; ``schema``, when known,
    is the one the file was written with, which spares the one-task job
    that infers it from a file footer."""
    path = path or cache_path(job_id)
    if not is_complete(path):
        return None
    return (spark.read if schema is None else spark.read.schema(schema)).parquet(path)


def save_results(df: DataFrame, path: str, fmt: str = "parquet") -> None:
    """S11 — CLI save sink (cli.py:253-261): results → parquet or csv."""
    out = df
    if ROW_ID in df.columns:
        out = out.orderBy(ROW_ID).drop(ROW_ID)
    if fmt == "parquet":
        out.write.mode("overwrite").parquet(path)
    elif fmt == "csv":
        out.write.mode("overwrite").option("header", True).csv(path)
    else:
        raise ValueError(f"unsupported save format: {fmt}")
