"""Ingestion operators (SURVEY.md §2.1, S1-S8 + S12).

Reference semantics (/root/reference/sutro/common.py:116-167): accept a
list of prompts, a list of record dicts, a pandas/polars DataFrame, or a
CSV/Parquet/TXT path; everything becomes a table whose rows are processed
in input order, and results are re-attached *positionally*
(sdk.py:1322-1334).

In-memory inputs (lists, records, pandas frames) and the tables the
job path builds from Python rows (row-id offsets, ``list_jobs``, Elo
ratings) enter Spark one way: through Arrow (:func:`local_frame`,
:func:`from_pandas`). Inputs below
``spark.sql.execution.arrow.localRelationThreshold`` (1 MiB in
:func:`~sutro_spark.session.get_spark`) become a ``LocalRelation`` whose
rows live in the driver's plan; larger ones become an RDD of Arrow
batches. No Python worker unpickles rows on a scan. An input to the
facade has one partition per Arrow batch, at most one per task slot,
in row order (:func:`_arrow_frame`): a request of up to
``maxRecordsPerBatch`` rows is one Python task and one backend call,
which is what a per-request prototyping call waits on, and a large
input runs one wave of tasks, one file per slot. Tables the driver
builds for itself are Spark's plain frame, so collecting them runs no
Spark job.

Spark has no implicit row order, so the engine's design rule is: **every
source mints an explicit ``__row_id`` column** and every order-sensitive
operator (positional join-back, final sort) keys on it. Two minting
strategies:

- ``order_by=...`` — deterministic: ``row_number() over (order by keys)``.
  Used whenever a natural key exists (all the oracle-checked queries).
  Costs one shuffle+sort; at 100 TB prefer the key-free strategy below.
- ``order_by=None`` — zero-shuffle: partition-offset + in-partition index
  (same construction Spark uses for ``zipWithIndex`` but computed with
  window-free built-ins via ``monotonically_increasing_id``). Stable for
  a given file listing, which matches the reference's "order of the input
  file" contract without ever shuffling 100 TB.
"""

from __future__ import annotations

import os
from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType, _parse_datatype_string

ROW_ID = "__row_id"


def local_frame(
    spark: SparkSession, rows: list, schema: StructType | str | None = None
) -> DataFrame:
    """Driver-side rows — tuples in schema order, or dicts keyed by
    column — as one Arrow table: a ``LocalRelation`` in the driver's
    plan below ``spark.sql.execution.arrow.localRelationThreshold``
    (1 MiB), an RDD of Arrow batches above it, never a pickled RDD
    re-serialized through a Python worker on every scan. Empty and
    non-empty inputs take the same route, whatever the session's Arrow
    confs say. The frame is Spark's own, with no repartitioning above
    it, so collecting a small table runs no Spark job.

    Without ``schema`` the types come from Spark's own list inference
    (``_inferSchemaFromList``), so each column gets the type
    ``createDataFrame(rows)`` would give it.
    """
    return spark.createDataFrame(*_arrow_table(spark, rows, schema))


def _arrow_table(spark: SparkSession, rows: list, schema: StructType | str | None):
    """``rows`` as a ``pyarrow.Table`` and the Spark schema it carries."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if schema is None:
        schema = spark._inferSchemaFromList(rows, names=None)
    elif isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    names = schema.fieldNames()
    if rows and isinstance(rows[0], dict):
        columns = [[r.get(n) for r in rows] for n in names]
    else:
        columns = [[r[i] for r in rows] for i in range(len(names))]
    arrow_schema = to_arrow_schema(schema)
    table = pa.table(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)], schema=arrow_schema
    )
    return table, schema


def _arrow_frame(spark: SparkSession, table, schema: StructType | None = None) -> DataFrame:
    """An input table as a frame with one partition per Arrow batch, at
    most one per task slot: ``min(slots, ceil(rows / maxRecordsPerBatch))``
    partitions, in ``__row_id`` order.

    A prototyping request of a few hundred rows is thus one partition:
    one Python task and one backend call, where a partition per slot
    would start a task, and a remote job, per slot, each paying the
    task's fixed start-up cost. A 30k-row input gets three 10k-row
    partitions; a 100k-row input 25k rows per slot.

    The table is cut into ``parts * k`` near-equal record batches, ``k``
    the fewest that keep each within ``maxRecordsPerBatch``. Above the
    ``LocalRelation`` threshold Spark makes one partition per record
    batch, so for ``k == 1`` the cut sets the partitions; a
    ``LocalRelation`` scan has ``min(rows, slots)`` partitions instead.
    Either way a ``coalesce`` without a shuffle joins neighbouring
    batches down to ``parts``, so ``__row_id`` order is unchanged. The
    count comes from the driver's row count, not from the plan."""
    import pyarrow as pa

    n = table.num_rows
    slots = spark.sparkContext.defaultParallelism
    per_batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    parts = max(1, min(slots, -(-n // per_batch))) if per_batch > 0 else 1
    k = -(-n // (parts * per_batch)) if per_batch > 0 else 1
    cuts = min(n, parts * k)
    if cuts > 1:
        whole = table.combine_chunks().to_batches()[0]
        bounds = [n * i // cuts for i in range(cuts + 1)]
        table = pa.Table.from_batches([whole.slice(lo, hi - lo) for lo, hi in zip(bounds, bounds[1:])])
    df = spark.createDataFrame(table, schema)
    return df.coalesce(parts) if parts < max(cuts, min(n, slots)) else df


def with_row_id(df: DataFrame, order_by: Sequence[str] | None = None) -> DataFrame:
    """Mint the engine's order column (see module docstring).

    With ``order_by``: contiguous 0-based ids in key order, computed
    scale-safely — range-partition on the keys, sort within partitions,
    per-partition local indexes decoded from
    ``monotonically_increasing_id`` (zero extra shuffle — see inline
    note), then add per-partition offsets from a tiny count aggregate.
    A naive global ``row_number() over (order by ...)`` collapses to an
    Exchange SinglePartition: every row through one task — unusable at
    100 TB. Ids equal the global row_number when the keys are unique
    (ties may order arbitrarily across partition boundaries).

    Without: ``monotonically_increasing_id`` — non-contiguous but
    monotone with file/partition order and computed with zero shuffle;
    the right default at 100 TB where a global sort of ids is pure waste.
    """
    if ROW_ID in df.columns:
        return df
    if not order_by:
        return df.withColumn(ROW_ID, F.monotonically_increasing_id())
    spark = df.sparkSession
    n_parts = max(2, spark.sparkContext.defaultParallelism)
    # r16 optimization round: the per-partition index used to come from
    # a row_number() window partitioned by spark_partition_id(), whose
    # required distribution forced a SECOND full-width hash exchange on
    # __pid right after the range exchange (visible in the flagship
    # plan: Exchange rangepartitioning → Exchange hashpartitioning).
    # sortWithinPartitions + monotonically_increasing_id computes the
    # same (partition, local index) pair with ZERO extra shuffle: the
    # id packs the partition ordinal in the upper 31 bits and a 0-based
    # per-partition counter in the lower 33 (a partition would need
    # 2^33 rows to overflow — not reachable, the range exchange spreads
    # rows over n_parts). monotonically_increasing_id is flagged
    # non-deterministic, so Catalyst will not reorder it below the sort.
    ranged = df.repartitionByRange(n_parts, *order_by).sortWithinPartitions(*order_by)
    mid = F.monotonically_increasing_id()
    local = ranged.withColumn("__mid", mid).select(
        "*",
        F.shiftright(F.col("__mid"), 33).cast("int").alias("__pid"),
        (F.col("__mid").bitwiseAND(F.lit((1 << 33) - 1)) + 1).alias("__local"),
    ).drop("__mid")
    # persist: the count job and the final plan must observe the SAME
    # range boundaries (repartitionByRange SAMPLES on each recompute),
    # and this also avoids computing the upstream twice. A cached block
    # lost and recomputed could shift boundaries — impossible in
    # local mode; on a real cluster set SUTRO_SPARK_CHECKPOINT_DIR and
    # the barrier below swaps in a RELIABLE checkpoint (deterministic
    # blocks regardless of executor loss), or mint ids once at ingest
    # and persist them in the table layout.
    #
    # LIFETIME CONTRACT (r17, VERDICT r16 #4): the cache cannot be
    # released inside this builder — the returned plan still reads it,
    # and unpersisting would re-sample new range boundaries on the
    # final action (silently wrong ids). Callers that mint row ids
    # repeatedly in one session MUST call spark.catalog.clearCache()
    # between queries or accept one pinned table per mint until
    # session end; unlike localCheckpoint blocks, this persist IS
    # cleared by clearCache.
    ckdir = os.environ.get("SUTRO_SPARK_CHECKPOINT_DIR")
    if ckdir:
        from sutro_spark.session import barrier

        local = barrier(local)
    else:
        local = local.persist()
    # per-partition counts are |partitions| rows — a driver-side prefix
    # sum, then a broadcast-sized join back
    counts = sorted(
        (r["__pid"], r["cnt"])
        for r in local.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    offsets, acc = [], 0
    for pid, cnt in counts:
        offsets.append((pid, acc))
        acc += cnt
    off_df = local_frame(spark, offsets, "__pid int, __offset long")
    return (
        local.join(F.broadcast(off_df), "__pid")
        .withColumn(ROW_ID, F.col("__offset") + F.col("__local") - 1)
        .drop("__pid", "__local", "__offset")
    )


# --- S1: list-of-prompts source (common.py:126-127) -----------------------
def from_list(spark: SparkSession, prompts: Iterable[str], column: str = "prompt") -> DataFrame:
    rows = list(enumerate(prompts))
    return _arrow_frame(spark, *_arrow_table(spark, rows, f"{ROW_ID} long, {column} string"))


# --- S2: list-of-records source (sdk.py:701-702) --------------------------
def from_records(spark: SparkSession, records: list[dict]) -> DataFrame:
    rows = [{ROW_ID: i, **r} for i, r in enumerate(records)]
    return _arrow_frame(spark, *_arrow_table(spark, rows, None))


# --- S3: pandas DataFrame source (common.py:128-134) ----------------------
def from_pandas(spark: SparkSession, pdf) -> DataFrame:
    import pyarrow as pa

    pdf = pdf.reset_index(drop=True)
    pdf.insert(0, ROW_ID, range(len(pdf)))
    return _arrow_frame(spark, pa.Table.from_pandas(pdf, preserve_index=False))


# --- S4/S5/S6: file scans (common.py:144-161) ------------------------------
def read_csv(spark: SparkSession, path: str, order_by: Sequence[str] | None = None) -> DataFrame:
    df = spark.read.option("header", True).option("inferSchema", True).csv(path)
    return with_row_id(df, order_by)


def read_parquet(
    spark: SparkSession, path: str, order_by: Sequence[str] | None = None
) -> DataFrame:
    return with_row_id(spark.read.parquet(path), order_by)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    order_by: Sequence[str] | None = None,
) -> DataFrame:
    """JSON-lines scan — the de-facto LLM-pipeline interchange format
    (one JSON object per line; .jsonl / sharded .jsonl.gz).

    Pass an explicit ``schema`` (DDL string) at scale: schema inference
    costs a full extra pass over the data, and a drifting inferred type
    (one shard where an int column is all-null) silently changes the
    result. Inference is allowed here for parity with the ad-hoc SDK
    path, but every production call site should pin the schema.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return with_row_id(reader.json(path), order_by)


def read_text(spark: SparkSession, path: str, column: str = "prompt") -> DataFrame:
    # Reference strips each line (common.py:152). Text files are read in
    # order per-file; row id follows partition order (zero shuffle).
    df = spark.read.text(path).select(F.trim(F.col("value")).alias(column))
    return with_row_id(df)


# --- S7/S8 + S12: dispatcher mirroring prepare_input_data ------------------
def prepare_input_data(spark: SparkSession, data, column: str | None = None) -> DataFrame:
    """Route any supported input shape to a row_id'd DataFrame.

    Mirrors /root/reference/sutro/common.py:116-167 observable behavior:
    - list[str] → prompts table (column ignored)
    - list[dict] → records table
    - pandas DataFrame → table (``column`` must exist if given)
    - str path: .csv/.parquet/.txt/extensionless → the matching reader;
      http(s) URLs route by extension too (S7; Spark reads remote FS
      directly instead of passing the URL to a server);
    - "dataset-<name>" → ``spark.table`` lookup (S8);
    - any other extension or type → ValueError (S12,
      common.py:153-154,162-165).
    """
    if isinstance(data, DataFrame):
        return with_row_id(data)
    if isinstance(data, list):
        if not data:
            raise ValueError("empty input data")
        if isinstance(data[0], dict):
            return from_records(spark, data)
        return from_list(spark, [str(x) for x in data], column or "prompt")
    try:  # pandas without a hard import at module load
        import pandas as pd

        if isinstance(data, pd.DataFrame):
            if column is not None and column not in data.columns:
                raise ValueError(f"column {column!r} not present in the input DataFrame")
            if len(data) == 0:
                raise ValueError("empty input data")
            return from_pandas(spark, data)
    except ImportError:  # pragma: no cover
        pass
    if isinstance(data, str):
        if data.startswith("dataset-"):
            if not column:
                raise ValueError("dataset references require a column name")
            return with_row_id(spark.table(data.removeprefix("dataset-")))
        lower = data.lower()
        if lower.endswith(".csv"):
            return read_csv(spark, data)
        if lower.endswith(".parquet"):
            return read_parquet(spark, data)
        if lower.endswith(".txt") or "." not in data.rsplit("/", 1)[-1]:
            return read_text(spark, data, column or "prompt")
        raise ValueError(f"unsupported file type: {data}")
    raise ValueError(f"unsupported input data type: {type(data).__name__}")


def read_orc(
    spark: SparkSession, path: str, order_by: Sequence[str] | None = None
) -> DataFrame:
    """ORC scan with the repo's __row_id convention — Spark's native
    columnar alternative when upstream systems (Hive/Trino warehouses)
    hand over ORC instead of parquet. Same pushdown/pruning behavior
    as parquet (both are first-class Spark file sources); no oracle
    query is registered because DuckDB cannot read ORC — covered by a
    write/read round-trip test instead."""
    return with_row_id(spark.read.orc(path), order_by=order_by)


def write_orc(df: DataFrame, path: str, *, mode: str = "overwrite") -> None:
    """ORC sink (columns only — __row_id is re-mintable on read)."""
    drop = [c for c in (ROW_ID,) if c in df.columns]
    df.drop(*drop).write.mode(mode).orc(path)
