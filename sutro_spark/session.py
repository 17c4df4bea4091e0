"""SparkSession factory tuned for the local[32] test harness but with
settings that carry to a real cluster (AQE, Arrow, sane shuffle width).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory``: ``SPARK_GRAFT_DRIVER_MEM`` when set,
    else about half the host's ``MemTotal`` (whole MiB, at least 1g), so
    the local-mode JVM — driver and executors in one heap — leaves room
    for the Python workers and the OS. Falls back to 4g where
    ``meminfo`` is unreadable (non-Linux hosts)."""
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    kib = int(line.split()[1])
                    return f"{max(kib // 2048, 1024)}m"
    except OSError:
        pass
    return "4g"


def get_spark(app_name: str = "sutro_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the session.

    Cluster-minded defaults:
    - AQE on (runtime join selection, skew handling, partition coalescing);
    - Arrow on (all our Python-side operators are Arrow-batched pandas);
    - shuffle partitions sized to the local core count — on a real cluster
      this would be executors*cores*2-3, left to the deployer's conf;
    - UTC session timezone so timestamp semantics are environment-free.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    fair_xml = os.path.join(os.path.dirname(__file__), "resources", "fairscheduler.xml")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # An in-memory input above 1 MiB of Arrow batches enters as an
        # RDD of those batches, one partition per batch, which the tasks
        # turn into rows in parallel. Under Spark's 48 MB default it
        # would be a LocalRelation, turned into rows on one driver
        # thread before any task starts. Driver-built tables (job lists,
        # ratings, row-id offsets, 200-row prompt lists) stay local.
        .config("spark.sql.execution.arrow.localRelationThreshold", str(1 << 20))
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SUTRO_SPARK_WAREHOUSE_DIR", os.path.expanduser("~/.sutro_spark/warehouse")
            ),
        )
        # The synthetic events table stores TIMESTAMP(NANOS) parquet,
        # which Spark 4 rejects outright; read nanos as long and convert
        # explicitly (exact integer arithmetic, see streaming.progress).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # C9 priority classes: FAIR pools (jobs.py sets the pool local
        # property per submitted job)
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.scheduler.allocation.file", fair_xml)
        # runtime bloom-filter join pruning (semi-join membership
        # pre-filters pushed into the probe-side scan under AQE) — set
        # once here, never inside a query builder, so plan shapes don't
        # depend on which query ran first in the session
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # r16 optimization round: the compiled-generated-class cache
        # defaults to 100 entries; a session running this engine's full
        # operator surface (20+ distinct multi-stage queries per bench
        # pass) cycles it, so every pass re-pays Janino compilation for
        # every stage (measured ~0.9 s per 20-query pass at sf0.1).
        # Purely a driver-memory knob — identical plans, identical
        # results, and scale-independent (the cache keys on generated
        # source, not data).
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # r16 optimization round: PySpark 4's DataFrame-debugging hook
        # wraps EVERY DataFrame/Column API call with getActiveSession +
        # a JVM conf read + a stack capture + a JVM origin push — 3+
        # py4j round-trips per expression node. Wide builders (simhash's
        # packed-lane projection, text_profile) measured ~1 s of pure
        # plan-CONSTRUCTION time from this alone. The flag only enriches
        # error messages with user call sites; plans and results are
        # identical. Driver-side, data-size-independent.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # reliable checkpoints (SUTRO_SPARK_CHECKPOINT_DIR, see barrier)
        # are files: without this the files of every superseded barrier
        # stay on disk until someone deletes the directory. With it, the
        # ContextCleaner deletes them once their RDD is garbage
        # collected. A static conf, so it must be set here.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_reader_confs(spark: SparkSession) -> None:
    """THE one place the two result-affecting dynamic confs are pinned.

    Sessions built by :func:`get_spark` already carry both statically
    (above), but the external driver runs our queries inside ITS OWN
    session — so every query path re-pins them here at read time:

    - ``spark.sql.session.timeZone=UTC``: keeps date_format /
      unix_timestamp deterministic across host timezones;
    - ``spark.sql.legacy.parquet.nanosAsLong=true``: the synthetic
      events table stores TIMESTAMP(NANOS) parquet, which Spark 4
      otherwise rejects; ts arrives as nanos-since-epoch long and
      queries convert with exact integer division.

    Both are safe to set repeatedly (idempotent dynamic confs).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def barrier(df):
    """Materialization barrier for reused/iterative intermediates.

    Local mode (default): ``localCheckpoint(eager=True)`` — block
    storage on the executors, no lineage. On a REAL cluster,
    localCheckpoint blocks die with their executor and are
    unrecoverable by design (guide §5) — a lost block fails the whole
    job with no recompute path, acceptable on local[n], a job-killer
    at 100 TB. Setting ``SUTRO_SPARK_CHECKPOINT_DIR`` (an HDFS/object
    -store path) routes every barrier in the engine through a RELIABLE
    ``checkpoint()`` instead: blocks live in the fault-tolerant store,
    executor loss is survivable, and ``release_local_checkpoint``
    degrades to a harmless no-op on them. The switch is session-level
    and read per call so a long-lived driver can flip it between jobs.

    Every checkpoint barrier in the repo routes through here (r17,
    VERDICT r16 #4) — ``df.transform(barrier)`` at the call sites; a
    barrier that a returned lazy plan reads is a :func:`cache_barrier`.
    """
    ckdir = os.environ.get("SUTRO_SPARK_CHECKPOINT_DIR")
    if not ckdir:
        return df.localCheckpoint(eager=True)
    _ensure_checkpoint_dir(df, ckdir)
    return df.checkpoint(eager=True)


def cache_barrier(df):
    """Materialization barrier that ``spark.catalog.clearCache()`` reaches.

    ``persist()`` plus one action: plans built on the result read the
    cached blocks instead of re-deriving the subtree, as after
    :func:`barrier`, but the blocks belong to the session's cache, not
    to an unreachable checkpoint RDD, and keep their lineage, so a lost
    block is recomputed. Use it where an operator returns a lazy plan
    that reads the barrier: no action of the operator's own can release
    a ``localCheckpoint`` the caller's plan still needs. Release early
    with ``unpersist()``.
    """
    df = df.persist()
    df.count()
    return df


def _ensure_checkpoint_dir(df, ckdir: str) -> None:
    sc = df.sparkSession.sparkContext
    current = sc._jsc.sc().getCheckpointDir()
    if current.isEmpty():
        sc.setCheckpointDir(ckdir)


def release_local_checkpoint(df) -> None:
    """Free the storage blocks behind a SUPERSEDED ``localCheckpoint``.

    Iterative operators (connected components, PageRank, BPE merge
    rounds, scorer epochs, MMR greedy steps) truncate lineage each
    round with ``localCheckpoint(eager=True)``; Spark never releases
    the superseded round's blocks until the session dies, so a
    long-lived session (streaming driver, many-query benchmark) pins
    O(queries x iterations) partitions of storage memory and slowly
    evicts useful cache. Call this on iteration i's frame AFTER
    iteration i+1's eager checkpoint has materialized — at that point
    nothing can reference it again.

    NEVER call it on a frame that will still be read: localCheckpoint
    truncates lineage, so once the blocks are gone the data is
    unrecoverable (recompute is impossible by design).

    Implementation: a localCheckpointed Dataset's analyzed plan is a
    ``LogicalRDD`` wrapping the checkpointed RDD; unpersist that RDD
    directly (non-blocking). Best-effort by construction — any
    py4j/plan-shape surprise leaves the blocks for session-end cleanup
    rather than failing the query. Spark logs a one-line WARN
    ("was locally checkpointed ... cannot be recomputed") per release;
    that is the point — the frame is superseded and must never be
    recomputed.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        plan.rdd().unpersist(False)
    except Exception:
        pass
