"""Scale-layout utilities: bucketed joins without shuffle, partition
pruning, skew salting."""

from pyspark.sql import functions as F

from sutro_spark.functions.skew import salted_join, two_phase_agg
from sutro_spark.sources.sinks import (
    bucketed_join_ready,
    plan_has_no_shuffle,
    write_bucketed,
    write_partitioned,
)


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(500)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(2000)
    write_bucketed(
        orders, "b_orders", ["o_orderkey"], num_buckets=4, sort_cols=["o_orderkey"]
    )
    write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem",
        ["o_orderkey"],
        num_buckets=4,
        sort_cols=["o_orderkey"],
    )
    # force the sort-merge path (broadcast would win at this toy size
    # and hide the bucketing; at real fact-fact scale broadcast is off
    # the table anyway)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join_ready(spark, "b_orders", "b_lineitem", "o_orderkey")
        # co-located buckets: the join needs no shuffle exchange
        assert plan_has_no_shuffle(joined)
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "docs_by_lang")
    write_partitioned(docs, path, ["lang"])
    pruned = spark.read.parquet(path).where(F.col("lang") == "en")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(lang" in plan
    assert pruned.count() == docs.where(F.col("lang") == "en").count()


def test_salted_join_matches_plain_join(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(3000)
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    # pretend suppkey is skewed; salt it against the small nation table
    small = n.select(F.col("n_nationkey").alias("l_suppkey"), "n_name")
    plain = li.join(small, "l_suppkey").groupBy("n_name").count()
    salted = salted_join(li, small, "l_suppkey", buckets=4).groupBy("n_name").count()
    assert {tuple(r) for r in plain.collect()} == {tuple(r) for r in salted.collect()}


def test_two_phase_agg_matches_direct(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(5000)
    direct = {
        r["l_returnflag"]: (round(r["total"], 4), r["n_rows"])
        for r in li.groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("total"), F.count(F.lit(1)).alias("n_rows"))
        .collect()
    }
    two = {
        r["l_returnflag"]: (round(r["total"], 4), r["n_rows"])
        for r in two_phase_agg(li, "l_returnflag", "l_quantity", buckets=4).collect()
    }
    assert direct == two


def test_zorder_key_known_morton_values(spark):
    from sutro_spark.sources.sinks import zorder_key

    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (3, 5), (65535, 65535)], "x long, y long"
    )
    got = [r.z for r in df.select(zorder_key(F.col("x"), F.col("y")).alias("z")).collect()]

    def morton(x, y):
        z = 0
        for b in range(16):
            z |= ((x >> b) & 1) << (2 * b)
            z |= ((y >> b) & 1) << (2 * b + 1)
        return z

    assert got == [morton(x, y) for x, y in [(0, 0), (1, 0), (0, 1), (3, 5), (65535, 65535)]]


def test_zorder_write_makes_both_columns_selective(spark, tmp_path):
    # uniform grid: a linear sort on x leaves every file covering y's
    # FULL range; the z-order layout bounds both ranges per file
    import itertools

    from sutro_spark.sources.sinks import write_zordered

    rows = [(x, y) for x, y in itertools.product(range(64), range(64))]
    df = spark.createDataFrame(rows, "x long, y long")
    zpath = str(tmp_path / "zordered")
    write_zordered(df, zpath, "x", "y", num_files=16)

    import pyarrow.parquet as pq
    import os

    spans = []
    for f in os.listdir(zpath):
        if not f.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(zpath, f))
        xs, ys = t.column("x").to_pylist(), t.column("y").to_pylist()
        if xs:
            spans.append(((max(xs) - min(xs)), (max(ys) - min(ys))))
    assert len(spans) >= 8
    # every file covers a bounded region in BOTH dims — far below the
    # full 0..63 span (a linear x-sort would give y-span 63 everywhere)
    assert all(sx <= 32 and sy <= 32 for sx, sy in spans), spans


def test_ivf_bq_code_table_partition_prunes(spark, sf_dir, tmp_path):
    """The ivf_bq_topk serving layout claim (SCALING.md r15): persist
    the (cluster, id, code_lo, code_hi) table partitioned by cluster
    and a probe of nprobe buckets prunes at the SCAN — PartitionFilters
    in the plan, bytes read bounded by the probed buckets, results
    identical to scanning everything."""
    from sutro_spark.operators.kmeans import kmeans
    from sutro_spark.operators.similarity import bq_encode, bq_thresholds
    from sutro_spark.sources.sinks import write_partitioned

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assigned, _ = kmeans(emb, k=4, iters=2)
    thr = bq_thresholds(emb, dim=64)
    codes = bq_encode(emb, thr).join(
        assigned.select(F.col("vec_id").alias("id"), "cluster"), "id"
    )
    path = str(tmp_path / "bq_codes_by_bucket")
    write_partitioned(codes, path, ["cluster"])

    probed = spark.read.parquet(path).where(F.col("cluster").isin([0, 1]))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    # the probe reaches the scan as a PARTITION filter (directory
    # pruning), not a post-scan Filter — the claim that matters at
    # 100 TB, where unprobed buckets are never opened
    pf = plan.split("PartitionFilters: [", 1)
    assert len(pf) == 2 and "cluster" in pf[1].split("]")[0], plan
    want = codes.where(F.col("cluster").isin([0, 1]))
    got_ids = {r["id"] for r in probed.collect()}
    assert got_ids == {r["id"] for r in want.collect()}
    assert len(got_ids) > 0
