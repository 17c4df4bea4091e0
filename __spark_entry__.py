"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship pipeline smoke check at sf0.001.
``queries()`` — one entry per implemented operator from SURVEY.md §2.
``oracle_sql()`` — matching DuckDB ANSI-SQL strings.

Column names are aliased identically on both sides; floating-point
aggregates are rounded identically on both sides so value hashes match
bit-for-bit.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from sutro_spark.session import barrier as _barrier
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sutro_spark.functions.prompt import concat_prompt, labeled_concat
from sutro_spark.operators.elo import pairwise_counts
from sutro_spark.operators.results import order_results, positional_join
from sutro_spark.operators.templates import classify, embed, rank, score
from sutro_spark.operators.transform import llm_transform
from sutro_spark.operators.unpack import unpack_json_outputs
from sutro_spark.sources.ingest import ROW_ID, read_csv, with_row_id

FLAGSHIP_SCHEMA = {
    "type": "object",
    "properties": {
        "summary": {"type": "string"},
        "quality": {"type": "integer", "minimum": 1, "maximum": 5},
    },
}

CLASSES = ["news", "blog", "code"]
RANK_LABELS = ["opt_a", "opt_b", "opt_c"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # The driver may run these queries in its own session; the factory
    # pins the same confs statically. One shared helper, documented in
    # sutro_spark/session.py, so the two paths can't diverge.
    from sutro_spark.session import ensure_reader_confs

    ensure_reader_confs(spark)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship: scan → row_id → prompt concat (P2) → stub LLM transform (U1)
# → JSON unpack (P6) → ordered results (P5/J1).
# ---------------------------------------------------------------------------
def _flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = with_row_id(_t(spark, sf_dir, "documents"), order_by=["doc_id"])
    docs = docs.withColumn(
        "prompt", concat_prompt(docs, ["Summarize: ", "text", " [", "lang", "]"])
    )
    out = llm_transform(
        docs, "prompt", output_schema=FLAGSHIP_SCHEMA, include_logprobs=True
    )
    out = unpack_json_outputs(out, "outputs", FLAGSHIP_SCHEMA)
    return order_results(out, "summary", include_logprobs=True).select(
        "doc_id", "summary", "quality", "cumulative_logprobs"
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _flagship(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# individual queries
# ---------------------------------------------------------------------------
def q_select_prompt_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P1 — project the prompt column (common.py:134).
    return _t(spark, sf_dir, "documents").select("doc_id", F.col("text").alias("prompt"))


def q_prompt_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P2 — mixed columns/literals, unknown names → literals, nulls → "".
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        concat_prompt(docs, ["[", "lang", "|", "source", "] ", "text"]).alias("prompt"),
    )


def q_labeled_concat_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P3 — labeled concat with ignore_nulls=False: null option → null prompt.
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring("text", 1, 20).alias("opt_a"),
        F.nullif(F.col("lang"), F.lit("en")).alias("opt_b"),
    )
    return docs.select(
        "doc_id", labeled_concat(docs, ["opt_a", "opt_b"]).alias("prompt")
    )


def q_flagship_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _flagship(spark, sf_dir)


def q_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    # U3 + P7 — classify with scratchpad strip; stub picks
    # classes[length(prompt) % 3].
    docs = _t(spark, sf_dir, "documents")
    out = classify(docs, CLASSES, "text")
    return out.select("doc_id", "classification")


def q_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # U4 — judge score joined back onto the input table.
    docs = _t(spark, sf_dir, "documents")
    out = score(docs, "clarity", "text", score_range=(1, 10))
    return out.select("doc_id", "lang", "score")


def _ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring("text", 1, 10).alias("opt_a"),
        F.substring("text", 11, 10).alias("opt_b"),
        F.substring("text", 21, 10).alias("opt_c"),
    )
    return rank(docs, RANK_LABELS, "brevity")


def q_rank_exploded(spark: SparkSession, sf_dir: str) -> DataFrame:
    # U5 + P8 — ranking array decoded, exploded to (doc_id, pos, label).
    return _ranked(spark, sf_dir).select(
        "doc_id", F.posexplode("ranking").alias("pos", "label")
    )


def q_pairwise_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A1 — ballots → pairwise win counts (pure relational explode+join).
    return pairwise_counts(_ranked(spark, sf_dir), "ranking").select(
        "winner", "loser", "wins", "ties"
    )


def q_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # U2 — stub embedding; expose element 0 and an order-stable sum.
    docs = _t(spark, sf_dir, "documents")
    out = embed(docs, "text", dim=8)
    return out.select(
        "doc_id",
        F.element_at("embedding", 1).alias("v0"),
        F.round(
            F.aggregate("embedding", F.lit(0.0), lambda acc, x: acc + x), 6
        ).alias("vsum"),
    )


def q_positional_zip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # J1 — positional join of two frames via the row_id convention.
    docs = _t(spark, sf_dir, "documents")
    left = with_row_id(docs.select("doc_id", "text"), order_by=["doc_id"])
    right = with_row_id(
        docs.select(F.col("doc_id").alias("d2"), "n_chars"), order_by=["d2"]
    ).drop("d2")
    return positional_join(left, right).select("doc_id", "n_chars")


def q_csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # S4 — CSV scan: round-trip nation through CSV, read with our reader.
    # The fixture is written ONCE per sf_dir (keyed into the tmp path) —
    # a coalesce(1) write belongs in setup, never in a query plan.
    import tempfile

    key = sf_dir.strip("/").replace("/", "_")
    path = os.path.join(tempfile.gettempdir(), f"sutro_spark_nation_csv_{key}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        _t(spark, sf_dir, "nation").orderBy("n_nationkey").coalesce(1).write.mode(
            "overwrite"
        ).option("header", True).csv(path)
    df = read_csv(spark, path)
    return df.select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"),
        "n_name",
        F.col("n_regionkey").cast("long").alias("n_regionkey"),
    )


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Standard relational agg (SURVEY §2.5 note): TPC-H Q1 shape.
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # F1+F2+F3+P9+P10+P12 — the "jobs list" CLI shape over orders:
    # null filter, sort desc, limit 25, date format, currency format.
    o = _t(spark, sf_dir, "orders")
    return (
        o.where(F.col("o_orderdate").isNotNull())
        .orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
        .limit(25)
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("created"),
            F.format_string(
                "$%.5f", F.coalesce(F.col("o_totalprice"), F.lit(0.0))
            ).alias("cost"),
            F.coalesce(F.col("o_orderpriority"), F.lit("")).alias("priority"),
        )
    )


# ---------------------------------------------------------------------------
# north-star extensions: dedup / similarity / text analysis / multimodal
# ---------------------------------------------------------------------------
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sutro_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sutro_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), k=8, threshold=0.1, max_df=100
    )


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sutro_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"),
        k=8,
        num_hashes=16,
        bands=8,
        verify_threshold=None,
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sutro_spark.operators.dedup import simhash

    return simhash(_t(spark, sf_dir, "documents"))


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sutro_spark.operators.dedup import simhash_pairs

    return simhash_pairs(_t(spark, sf_dir, "documents"), max_hamming=8)


def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sutro_spark.functions.text import text_profile

    return text_profile(_t(spark, sf_dir, "documents")).select(
        "doc_id",
        "n_tokens",
        "n_bpe_tokens",
        "punct_ratio",
        "stopword_ratio_en",
        "quality",
        "lang_pred",
        "fingerprint",
    )


def q_term_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sutro_spark.functions.text import term_topk

    return term_topk(_t(spark, sf_dir, "documents"), k=50)


def q_reassemble_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-trip proof: chunk_text → reassemble_text reconstructs every
    # document byte-for-byte (matches_original is 1 on all rows)
    from sutro_spark.functions.text import chunk_text, reassemble_text

    docs = _t(spark, sf_dir, "documents")
    chunks = chunk_text(docs, size=128, overlap=32)
    rebuilt = reassemble_text(chunks, id_column="doc_id", overlap=32)
    return (
        rebuilt.join(docs.select("doc_id", F.col("text").alias("__orig")), "doc_id")
        .select(
            "doc_id",
            "n_chunks",
            F.length("text").cast("bigint").alias("rebuilt_len"),
            (F.col("text") == F.col("__orig")).cast("bigint").alias("matches_original"),
        )
    )


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sutro_spark.operators.similarity import label_centroids

    return label_centroids(_t(spark, sf_dir, "embeddings"))


def q_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sutro_spark.operators.mixture import source_mix

    return source_mix(_t(spark, sf_dir, "documents"))


def q_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sutro_spark.operators.mixture import cap_per_source

    return cap_per_source(
        _t(spark, sf_dir, "documents"), cap=8
    ).select(
        "doc_id", "source", F.col("sample_rank").cast("bigint").alias("sample_rank")
    )


def q_hash_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic content-hash sampling + split assignment: a 20%
    # sample of documents, each assigned train/val/test by an
    # independent salt — both pure projections, zero shuffle.
    from sutro_spark.functions.sampling import deterministic_sample, hash_split

    docs = _t(spark, sf_dir, "documents")
    sampled = deterministic_sample(docs, 20, "doc_id", salt="bench")
    return hash_split(sampled, "doc_id").select("doc_id", "lang", "split")


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # context-window packing: 128-char chunks with 32-char overlap,
    # explode inside the scan stage (no shuffle).
    from sutro_spark.functions.text import chunk_text

    return chunk_text(_t(spark, sf_dir, "documents"), size=128, overlap=32)


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    # PII scrub over deterministically injected spans (the synthetic
    # corpus has none): append an email + phone per doc, then redact
    # and count. Single projection, JVM regex only.
    from sutro_spark.functions.text import redact_pii

    docs = _t(spark, sf_dir, "documents").withColumn(
        "text2",
        F.concat(
            F.col("text"),
            F.lit(" Contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-012-3456."),
        ),
    )
    return redact_pii(docs, "text2").select("doc_id", "n_email", "n_phone", "redacted")


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sutro_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    return brute_force_topk(
        emb, emb.where(F.col("vec_id") < 5), k=3
    ).withColumn("rank", F.col("rank").cast("long"))


def q_sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # int8 scalar-quantized top-k: integer dot products over per-vector
    # max-abs/127 quantized embeddings (4-8x less bandwidth than float
    # arrays; cosine is scale-invariant so the scales cancel). Exact
    # integer arithmetic end to end; one IEEE division per pair.
    from sutro_spark.operators.similarity import sq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return sq_topk(emb, emb.where(F.col("vec_id") < 5), k=3).withColumn(
        "rank", F.col("rank").cast("long")
    )


def q_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sutro_spark.operators.similarity import embedding_dedup_pairs

    return embedding_dedup_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.35)


def q_bucketed_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the 100-TB scale path of embedding near-dup: IVF-bucketed candidate
    # generation (deterministic seed centroids, nprobe probing), zero
    # driver collect — pure Catalyst end to end.
    from sutro_spark.operators.similarity import bucketed_dedup_pairs

    return bucketed_dedup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.3, num_centroids=16, nprobe=2
    )


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sutro_spark.operators.multimodal import attach_fake_media, decode_media

    media = attach_fake_media(_t(spark, sf_dir, "documents"))
    return decode_media(media).select("doc_id", "n_bytes", "mean_byte", "aspect")


# ---------------------------------------------------------------------------
# relational / window / streaming-shape queries + remaining API surface
# ---------------------------------------------------------------------------
def q_infer_per_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    # U8 — fan-out across models as one unioned plan.
    from sutro_spark.operators.templates import infer_per_model

    docs = _t(spark, sf_dir, "documents")
    return infer_per_model(docs, "text", ["stub-echo", "stub-echo"], names=["m1", "m2"]).select(
        "doc_id", "model_name", "outputs"
    )


def q_batch_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    # U7 — records → to_json(struct(*)) → transform.
    from sutro_spark.operators.templates import batch_run_function

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    return batch_run_function(o, "stub-echo").select("o_orderkey", "outputs")


def q_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Tumbling-window event aggregation (streaming-shape, batch-checkable).
    from sutro_spark.streaming.progress import windowed_event_stats

    return windowed_event_stats(_t(spark, sf_dir, "events"), window_seconds=300)


def q_events_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # semi-structured path: the JSON props column is parsed JVM-side
    # with from_json (typed schema, no Python, stays inside codegen) and
    # aggregated in the same stage — at 100 TB the parse cost rides the
    # scan, and only (event_type, partial aggs) reach the shuffle.
    ev = _t(spark, sf_dir, "events")
    k = F.from_json("props", "k bigint")["k"]
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(k).alias("k_sum"),
            F.round(F.avg(k), 6).alias("k_avg"),
            F.min(k).alias("k_min"),
            F.max(k).alias("k_max"),
        )
    )


def q_events_top_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Window functions: highest-value event per user.
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "value")
    )


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    # join: customer (filtered, broadcast) ⋈ orders ⋈ lineitem → top 10.
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < F.lit("1995-03-15"))
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > F.lit("1995-03-15"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
    )


def q_tpch_q5ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    # multi-way join with broadcast dims: revenue by nation in a region.
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


def q_rank_elo(spark: SparkSession, sf_dir: str) -> DataFrame:
    # U5 + A1-A3 full pipeline: ballots → pairwise counts → driver-side
    # Bradley-Terry fit. The iterative elo float stays under analytic
    # pytest (tests/test_elo.py); the oracled projection is the
    # relational half of the ratings table — laplace-smoothed
    # wins/losses/matches per label, closed-form reproducible
    # (wins = raw_wins + laplace*(n_labels-1), exact in binary).
    from sutro_spark.operators.elo import elo

    return elo(_ranked(spark, sf_dir), "ranking").select(
        "label", "wins", "losses", "matches"
    )


def q_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact dedup over whitespace/case-normalized text.
    from sutro_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"), normalized=True)


def q_part_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return p.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.round(F.avg("p_retailprice"), 2).alias("avg_price"),
        F.min("p_size").alias("min_size"),
        F.max("p_size").alias("max_size"),
    )


def q_customer_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
    )


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Sessionization: a >30-minute gap starts a new session (lag +
    # running sum window functions; the streaming-state analog is
    # session_window, this is the batch-relational form).
    from sutro_spark.streaming.progress import epoch_seconds

    ev = _t(spark, sf_dir, "events")
    sec = epoch_seconds(ev, "ts")
    w = Window.partitionBy("user_id").orderBy(sec.asc(), F.col("event_id").asc())
    gapped = ev.select(
        "user_id",
        "event_id",
        sec.alias("sec"),
        F.lag(sec).over(w).alias("prev_sec"),
    ).withColumn(
        "new_session",
        F.when(F.col("prev_sec").isNull() | (F.col("sec") - F.col("prev_sec") > 1800), 1).otherwise(
            0
        ),
    )
    return gapped.groupBy("user_id").agg(
        F.sum("new_session").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


def q_rh_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # random-hyperplane LSH near-dup: 64 deterministic sign-sketch bits
    # per vector, banded 4×16 into an equi-join, exact-cosine verify —
    # the data-independent ANN scale path next to IVF. The synthetic
    # corpus has no high-sim pairs, so the query PLANTS one near-dup
    # per vector (element 0 scaled 1.05×, id offset +100000) and runs
    # the operator at its real operating point (threshold 0.98); the
    # oracle mirrors the same planting, so banding misses — if any —
    # are identical in both engines.
    from sutro_spark.operators.similarity import rh_lsh_dedup_pairs

    base = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    planted = base.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: F.when(i == 0, x * 1.05).otherwise(x)
        ).alias("embedding"),
    )
    return rh_lsh_dedup_pairs(base.unionByName(planted), threshold=0.98)


def q_ivf_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF-bucketed near-dup: assign each vector to its nearest centroid
    # (every 50th vector), then compare only within buckets — the
    # pruned scale path for embedding dedup, fully oracle-mirrored
    # (assignment uses the rounded cosine so both engines agree).
    from sutro_spark.functions.vectors import raw_dot, to_double_array
    from sutro_spark.operators.dedup import spread

    # spread: the single-file embeddings scan otherwise feeds the
    # centroid cross join as ONE partition — every assignment dot
    # product on one core (r16 measured −0.4 s; no-op at scan widths)
    emb = spread(_t(spark, sf_dir, "embeddings"))
    v = emb.select(
        "vec_id",
        to_double_array(F.col("embedding")).alias("e"),
    ).withColumn("n", F.sqrt(raw_dot(F.col("e"), F.col("e"))))
    c = v.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("ce"), F.col("n").alias("cn")
    )
    # score SMALL: (vec_id, cid, sim) only — the 64-double vectors are
    # dropped before any shuffle (carrying e through the n×k assignment
    # rows measured +20% on the whole query). argmax via a map-side-
    # combinable max(struct(sim, -cid)) — max sim, ties to the LOWEST
    # cid — instead of a rank window, so the n×k candidate rows are
    # partially aggregated inside each map task.
    scored = v.crossJoin(F.broadcast(c)).select(
        "vec_id",
        "cid",
        F.round(raw_dot(F.col("e"), F.col("ce")) / (F.col("n") * F.col("cn")), 6).alias("sim"),
    )
    best = scored.groupBy("vec_id").agg(
        F.max(F.struct(F.col("sim"), (-F.col("cid")).alias("ncid"))).alias("b")
    ).select("vec_id", (-F.col("b.ncid")).alias("cid"))
    # persist: the self-join below references `assigned` twice; without
    # it the whole scan+assignment subtree runs once per side (measured
    # ~25% of query time). At 100 TB this is the checkpoint you'd take
    # anyway before a bucket self-join.
    assigned = (
        v.join(best, "vec_id").select("vec_id", "e", "n", "cid").persist()
    )
    a = assigned.select(
        F.col("cid"), F.col("vec_id").alias("id_a"), F.col("e").alias("ea"), F.col("n").alias("na")
    )
    b = assigned.select(
        F.col("cid"), F.col("vec_id").alias("id_b"), F.col("e").alias("eb"), F.col("n").alias("nb")
    )
    return (
        a.join(b, "cid")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(raw_dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 6).alias(
                "sim"
            ),
        )
        .where(F.col("sim") >= 0.3)
    )


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1994-01-01"))
            & (F.col("l_shipdate") < F.lit("1995-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q14 shape: lineitem ⋈ part, revenue split by promo flag.
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .withColumn("promo", F.col("p_type").startswith("PROMO").cast("int"))
        .groupBy("promo")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_tpch_q4ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q4 shape: priority census of orders with ≥1 returned line. EXISTS
    # becomes a LEFT SEMI join — no row multiplication, and Catalyst
    # can shuffle-or-broadcast the filtered lineitem side as stats allow.
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q_tpch_q12ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q12 shape: conditional aggregation — per linestatus, how many
    # lines belong to high- vs low-priority orders. The CASE WHEN sums
    # fold into one map-side-combinable aggregate over a single join.
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    high = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(high).alias("high_line_count"),
            F.sum(1 - high).alias("low_line_count"),
        )
    )


def q_tpch_q18ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q18 shape: large-volume customers. The HAVING subquery is one
    # aggregate over lineitem reused as a key filter: aggregate on
    # orderkey, filter to the top ~0.3% of orders, then join back —
    # the surviving key set is tiny, so AQE converts the orders and
    # customer joins to broadcasts at runtime.
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .where(F.col("total_qty") > 300)
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("o_orderdate_s"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


def q_tpch_q22ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q22 shape: well-funded customers who never placed a large order.
    # The scalar subquery (half the avg positive balance) is a 1-row
    # aggregate broadcast into a cross join — fully lazy, no driver
    # collect — and the "never placed" predicate is a left_anti join,
    # which Spark executes as a broadcast/shuffled hash anti-join
    # (null-safe, no NOT IN trap). The avg is rounded to cents in both
    # engines so the comparison boundary cannot drift on float
    # summation order; the filter on the anti side pushes to the
    # orders scan before the join.
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 300000)
    avg_bal = (
        c.where(F.col("c_acctbal") > 0)
        .agg(F.round(F.avg("c_acctbal") / 2, 2).alias("__avg"))
    )
    rich = c.join(F.broadcast(avg_bal)).where(F.col("c_acctbal") > F.col("__avg"))
    never_ordered = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return (
        never_ordered.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


def q_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact percentiles (linear interpolation on order statistics) per
    # group: one shuffle on the group key; Spark's percentile aggregate
    # and DuckDB's quantile_cont share the (n-1)*p interpolation rule,
    # so the values hash-match without sampling error.
    li = _t(spark, sf_dir, "lineitem")
    pct = F.percentile("l_extendedprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75), F.lit(0.95)))
    return (
        li.groupBy("l_linestatus")
        .agg(pct.alias("__p"), F.count(F.lit(1)).alias("n_lines"))
        .select(
            "l_linestatus",
            F.round(F.col("__p")[0], 4).alias("p25"),
            F.round(F.col("__p")[1], 4).alias("p50"),
            F.round(F.col("__p")[2], 4).alias("p75"),
            F.round(F.col("__p")[3], 4).alias("p95"),
            "n_lines",
        )
    )


def q_tpch_q10ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q10 shape: returned-item revenue per customer, top 20. Fact-fact
    # join shuffles on orderkey; nation is a broadcast dim; the top-k is
    # a TakeOrderedAndProject (no global sort materialization).
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # multimodal frame sampling: one row per sampled frame index, blob
    # dropped after the (stubbed) frame extraction.
    from sutro_spark.operators.multimodal import attach_fake_media, sample_frames

    media = attach_fake_media(_t(spark, sf_dir, "documents"))
    frames = sample_frames(media, every_nth=5)
    return frames.select(
        "doc_id",
        "frame_id",
        F.decode(F.col("frame_bytes"), "UTF-8").alias("frame_text"),
    )


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # multimodal audio path: fake-PCM payload → mapInPandas feature
    # extraction (mean amplitude, RMS), metadata duration carried along.
    from sutro_spark.operators.multimodal import attach_fake_audio, audio_features

    audio = attach_fake_audio(_t(spark, sf_dir, "documents"))
    return audio_features(audio).select(
        "doc_id",
        "n_samples",
        "mean_amp",
        "rms",
        F.col("audio_meta.duration_s").alias("duration_s"),
    )


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    # multimodal video path: per-frame luma features via one Arrow
    # mapInPandas stage, blob column-pruned after extraction. The
    # deterministic byte-slice stub is the oracle-expressible contract
    # here; the REAL YUV4MPEG2 container parse behind the same schema
    # is pytest-verified (tests/test_extensions.py).
    from sutro_spark.operators.multimodal import attach_fake_media, video_frames

    media = attach_fake_media(_t(spark, sf_dir, "documents")).select("doc_id", "media")
    return video_frames(media, every_nth=5).select(
        "doc_id", "frame_id", "mean_luma", "decoder"
    )


def q_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # multimodal image path: per-image perceptual dHash (9x8 grid ->
    # 63 gradient bits) through one Arrow mapInPandas stage. The
    # deterministic stub grid (byte i -> cell i*72//n, cell = byte
    # sum — multimodal.py _stub_cells) is the oracle-expressible
    # contract; real PIL decode behind the same schema is
    # pytest-verified. Completes the oracle-checked modality trio
    # (audio_features, video_frames, image_dhash).
    from sutro_spark.operators.multimodal import attach_fake_media, image_dhash

    media = attach_fake_media(_t(spark, sf_dir, "documents")).select(
        "doc_id", "media"
    )
    return image_dhash(media)


def q_dhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # image near-dup pairs: dHash fingerprints -> pigeonhole-blocked
    # Hamming join (4 equi-joins on 16-bit chunks, exact for ham<=3,
    # never all-pairs). Oracle brute-forces all pairs (fine at oracle
    # scale) — proving the blocked join loses nothing.
    from sutro_spark.operators.multimodal import attach_fake_media, dhash_pairs

    media = attach_fake_media(_t(spark, sf_dir, "documents")).select(
        "doc_id", "media"
    )
    return dhash_pairs(media, max_hamming=3)


def q_image_whash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # frequency-domain perceptual hash: 8x8 grid -> 2-D Walsh-Hadamard
    # transform -> sign bits of the 63 non-DC coefficients. The pHash
    # idea with DCT swapped for the +/-1 WHT basis so every coefficient
    # is an exact integer sum (a DCT's cosines would flip sign bits at
    # near-zero coefficients across libms). Complementary to
    # image_dhash's local-gradient bits; same mapInPandas plumbing,
    # same oracle-expressible stub grid (byte i -> cell i*64//n).
    from sutro_spark.operators.multimodal import attach_fake_media, image_whash

    media = attach_fake_media(_t(spark, sf_dir, "documents")).select(
        "doc_id", "media"
    )
    return image_whash(media)


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # manual skew mitigation for the joins AQE can't re-plan (stream-
    # static joins run without AQE): lineitem salted on xxhash64 of the
    # whole row mod 8, the supplier dim replicated 8x, equi-join on
    # (key, salt). The oracle is the PLAIN join aggregated per nation —
    # the salt must cancel exactly or the operator is wrong. Quantity
    # sums as BIGINT (TPC-H quantities are integral) so aggregation
    # order can't perturb a float sum.
    from sutro_spark.functions.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey", F.col("l_quantity").cast("long").alias("qty")
    )
    dim = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    return (
        salted_join(li, dim, "l_suppkey", buckets=8)
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_li"),
            F.sum("qty").alias("sum_qty"),
        )
        .orderBy("s_nationkey")
    )


def q_two_phase_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # skew-proof aggregation: partial agg on (key, salt) then final on
    # key — for the pathological case where one key's share overflows a
    # single reducer even after map-side combine. Oracle is the plain
    # one-shot groupBy: salting must be invisible in the result.
    # Quantities cast to BIGINT pre-agg (integral in TPC-H) so the
    # two-phase sum is exact regardless of aggregation order.
    from sutro_spark.functions.skew import two_phase_agg

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("long").alias("qty")
    )
    return two_phase_agg(li, "l_returnflag", "qty", buckets=8).orderBy(
        "l_returnflag"
    )


def q_pagerank_redistribute(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Dangling-mass redistribution: docs with doc_id % 5 == 0 emit NO
    # out-edges (genuine dangling sinks — the default variant would
    # drain their damped mass every round); redistribute_dangling=True
    # splits the summed dangling mass uniformly (integer div share per
    # node, added to each incoming sum before damping). 2 iterations;
    # the oracle unrolls both rounds with the scalar dangling-sum CTE
    # per round, proving the redistribution recurrence exactly.
    from sutro_spark.operators.cluster import pagerank

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("id")
    )
    cnt = docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    emitters = docs.crossJoin(F.broadcast(cnt)).where(F.col("id") % 5 != 0)
    edges = (
        emitters.select(
            "id", ((F.col("id") * 31 + 7) % F.col("n")).alias("dst")
        )
        .unionAll(
            emitters.select(
                "id", ((F.col("id") * 17 + 3) % F.col("n")).alias("dst")
            )
        )
        .where(F.col("dst") != F.col("id"))
        .select(F.col("id").alias("src"), "dst")
    )
    return (
        pagerank(edges, iters=2, redistribute_dangling=True)
        .select("node", F.col("rank").alias("rank_scaled"))
        .orderBy("node")
    )


def q_list_source_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    # S1 — list-of-prompts source through the transform, row order kept.
    from sutro_spark.sources.ingest import from_list

    df = from_list(spark, ["alpha beta", "gamma", "delta epsilon zeta"])
    out = llm_transform(df, "prompt")
    return out.select(F.col(ROW_ID).alias("row_id"), "prompt", "outputs")


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    # union + distinct + except set operations.
    ev = _t(spark, sf_dir, "events").select(F.col("event_type").alias("v")).distinct()
    st = _t(spark, sf_dir, "orders").select(F.col("o_orderstatus").alias("v")).distinct()
    minus = spark.createDataFrame([("click",)], "v string")
    return ev.union(st).distinct().exceptAll(minus)


def q_pivot_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pivot: quantity totals by returnflag × linestatus as columns.
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
        .withColumnRenamed("O", "qty_open")
        .withColumnRenamed("F", "qty_filled")
    )


def q_rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rollup: hierarchical subtotals over (returnflag, linestatus).
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


def _events_secs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sutro_spark.streaming.progress import epoch_seconds

    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "user_id", "event_id", "event_type", "value", epoch_seconds(ev, "ts").alias("sec")
    )


def q_asof_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    # as-of join: each click gets the most recent prior purchase value
    # by the same user (union + keyed window — one shuffle, no
    # inequality join).
    from sutro_spark.operators.joins import asof_join

    e = _events_secs(spark, sf_dir)
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("sec").alias("click_sec")
    )
    w = Window.partitionBy("user_id", "sec").orderBy(F.desc("event_id"))
    purchases = (
        e.where(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", F.col("sec").alias("p_sec"), F.col("value").alias("p_value"))
    )
    return asof_join(
        clicks, purchases, on="user_id", left_ts="click_sec", right_ts="p_sec",
        value_columns=["p_value"],
    ).select("click_id", "user_id", "click_sec", F.round("p_value", 4).alias("p_value"))


def q_range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # range join: purchases within 10 minutes after each signup, same
    # user (bucketed equi-join prefilter instead of inequality join).
    from sutro_spark.operators.joins import range_join

    e = _events_secs(spark, sf_dir)
    signups = e.where(F.col("event_type") == "signup").select(
        "user_id", F.col("event_id").alias("signup_id"), F.col("sec").alias("s_sec")
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("sec").alias("p_sec")
    )
    return range_join(
        signups, purchases, on="user_id", left_ts="s_sec", right_ts="p_sec", window=600
    ).select("signup_id", "purchase_id", "user_id")


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # incremental near-dup: docs >= 250 (the "new batch") against docs
    # < 250 (the corpus) — cross-set only.
    from sutro_spark.operators.dedup import incremental_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    return incremental_jaccard_pairs(
        docs.where(F.col("doc_id") < 250),
        docs.where(F.col("doc_id") >= 250),
        k=8,
        threshold=0.05,
        max_df=100,
    )


_DECON_N = 8  # word-gram width: every synthetic doc has >= 10 words


def _decon_bench(docs: DataFrame) -> DataFrame:
    # The synthetic corpus has no eval set, so the query PLANTS one:
    # every 10th doc contributes words 4..13 (N+2 words -> 3 N-grams)
    # as a "benchmark" document. The oracle mirrors the same slice, so
    # which train docs count as contaminated is identical per-engine.
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return docs.where(F.col("doc_id") % 10 == 0).select(
        "doc_id", F.concat_ws(" ", F.slice(toks, 4, _DECON_N + 2)).alias("text")
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # benchmark decontamination (report): per-doc count of distinct
    # word 8-grams shared with the planted benchmark set. Broadcast
    # semi-join plan — the train corpus is never shuffled.
    from sutro_spark.operators.decontaminate import contamination_report

    docs = _t(spark, sf_dir, "documents")
    return contamination_report(docs, _decon_bench(docs), n=_DECON_N)


def q_decontaminate_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    # benchmark decontamination (filter): the surviving training set.
    from sutro_spark.operators.decontaminate import decontaminate

    docs = _t(spark, sf_dir, "documents")
    return decontaminate(docs, _decon_bench(docs), n=_DECON_N).select(
        "doc_id", "lang", "source"
    )


def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Bloom-prefiltered decontamination: per-row bitset probe (NO join,
    # no shuffle on the clean fast path — runs unchanged on a stream),
    # exact broadcast-join verify on the flagged sliver only. Output
    # identical to plain decontaminate (no false negatives by
    # construction), which is exactly what the shared oracle asserts.
    from sutro_spark.operators.decontaminate import bloom_decontaminate

    docs = _t(spark, sf_dir, "documents")
    return bloom_decontaminate(docs, _decon_bench(docs), n=_DECON_N).select(
        "doc_id", "lang", "source"
    )


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gopher quality gate: per-doc surface + repetition metrics, each
    # with the published keep-threshold; one scan + one (doc, 2gram)
    # groupBy for the repetition measure.
    from sutro_spark.operators.quality import gopher_quality

    return gopher_quality(_t(spark, sf_dir, "documents"))


def q_quality_scorer(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hashed-feature linear scorer: sha-bucketed bag-of-words against a
    # broadcast weight table; mean-weight score + sign label.
    from sutro_spark.operators.quality import linear_quality_score

    return linear_quality_score(_t(spark, sf_dir, "documents"))


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # quantized Lloyd k-means, k=8, 2 rounds, deterministic init:
    # integer milli-space makes every step engine-exact (see
    # operators/kmeans.py). Output is per-cluster size + inertia.
    from sutro_spark.operators.kmeans import kmeans, kmeans_summary

    assigned, _ = kmeans(_t(spark, sf_dir, "embeddings"), k=8, iters=2)
    return kmeans_summary(assigned)


def _eval_preds(spark: SparkSession, sf_dir: str) -> DataFrame:
    # predictions from the U3 classify stub vs a deterministic gold
    # labeling — the eval-table shape every metric op consumes.
    docs = _t(spark, sf_dir, "documents")
    pred = classify(docs, CLASSES, "text").select(
        "doc_id", F.col("classification").alias("pred")
    )
    gold = docs.select(
        "doc_id",
        F.element_at(
            F.array(*[F.lit(c) for c in CLASSES]),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("label"),
    )
    return gold.join(pred, "doc_id")


def q_pagerank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # integer PageRank over the supplier<->part bipartite graph
    # (distinct lineitem pairs, both directions), 2 rounds, top-50
    # nodes. Iterative propagation entirely as joins + groupBys.
    from sutro_spark.operators.cluster import pagerank

    li = _t(spark, sf_dir, "lineitem")
    und = li.select(
        (F.col("l_suppkey") * 2).alias("a"),
        (F.col("l_partkey") * 2 + 1).alias("b"),
    ).distinct()
    edges = und.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
        und.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    pr = pagerank(edges, iters=2)
    return pr.orderBy(F.desc("rank"), F.asc("node")).limit(50)


def q_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # remaining Gopher repetition signals: paragraph/line duplication
    # in-scan, top 3-/4-gram coverage via (doc, gram) groupBys.
    from sutro_spark.operators.quality import repetition_profile

    return repetition_profile(_t(spark, sf_dir, "documents"))


def q_eval_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-class precision/recall/F1 — two map-side groupBys joined on
    # the class; every ratio one exact integer division.
    from sutro_spark.operators.metrics import classification_report

    return classification_report(_eval_preds(spark, sf_dir))


def q_eval_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # confusion-matrix cells (label, pred, n).
    from sutro_spark.operators.metrics import confusion_matrix

    return confusion_matrix(_eval_preds(spark, sf_dir))


def q_eval_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    # chance-corrected agreement: Cohen's kappa as one double division
    # of exact integer counts (see operators/metrics.py).
    from sutro_spark.operators.metrics import cohens_kappa

    return cohens_kappa(_eval_preds(spark, sf_dir))


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pack → chunk → shard: the trainer-facing manifest (16 context
    # windows per shard file, per source).
    from sutro_spark.operators.packing import (
        pack_chunk_stats,
        pack_contexts,
        shard_manifest,
    )

    packed = pack_contexts(_t(spark, sf_dir, "documents"), budget=256)
    return shard_manifest(pack_chunk_stats(packed, budget=256), chunks_per_shard=16)


def q_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # line-level web cleanup over deterministically injected
    # boilerplate (the synthetic corpus has none): legal footer,
    # engagement bait, and a too-short line all drop; real content
    # stays verbatim.
    from sutro_spark.functions.web import strip_boilerplate

    docs = _t(spark, sf_dir, "documents").withColumn(
        "text2",
        F.concat(
            F.col("text"),
            F.lit(
                "\nCopyright 2024 Example Corp. All rights reserved"
                "\nSubscribe to the newsletter today"
                "\nshort"
                "\nClosing paragraph with enough characters to survive."
            ),
        ),
    )
    return strip_boilerplate(docs, "text2")


def q_url_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # URL anatomy over synthesized per-doc URLs: host, eTLD+1
    # approximation, path depth — one projection, JVM regex only.
    from sutro_spark.functions.web import url_profile

    docs = _t(spark, sf_dir, "documents").withColumn(
        "url",
        F.concat(
            F.lit("https://www."),
            F.col("source"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".com/"),
            F.col("lang"),
            F.lit("/page/"),
            F.col("doc_id").cast("string"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("/extra")).otherwise(F.lit("")),
        ),
    )
    return url_profile(docs)


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SemDeDup: k-means candidate generation + within-cluster cosine
    # pairs — the semantic-dedup scale pattern (corpus^2/k, not
    # corpus^2).
    from sutro_spark.operators.kmeans import semdedup

    return semdedup(_t(spark, sf_dir, "embeddings"))


def q_tpch_q7ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q7 shape: volume shipping between a nation pair, both
    # directions, by ship year. Fact-fact join on orderkey; both
    # nation legs resolve through broadcast dims.
    n = _t(spark, sf_dir, "nation")
    pair = ("NATION_1", "NATION_2")
    sn = F.broadcast(
        n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    )
    cn = F.broadcast(
        n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    )
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(sn, F.col("s_nationkey") == F.col("s_nk"))
        .join(cn, F.col("c_nationkey") == F.col("c_nk"))
        .where(
            ((F.col("supp_nation") == pair[0]) & (F.col("cust_nation") == pair[1]))
            | ((F.col("supp_nation") == pair[1]) & (F.col("cust_nation") == pair[0]))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_tpch_q17ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q17 shape: correlated per-part average — revenue lost to
    # small orders of one brand. The per-part avg is an aggregate of
    # the same fact table joined back (broadcast: one row per brand
    # part); avg built from exact integer sums so the membership
    # threshold is engine-exact.
    li = _t(spark, sf_dir, "lineitem")
    p = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_brand") == "Brand#1")
        .select("p_partkey")
    )
    li_b = li.join(F.broadcast(p), li.l_partkey == F.col("p_partkey"))
    avg_q = li_b.groupBy("l_partkey").agg(
        (F.sum("l_quantity") / F.count(F.lit(1))).alias("avg_qty")
    )
    return (
        li_b.drop("p_partkey")
        .join(F.broadcast(avg_q), "l_partkey")
        .where(F.col("l_quantity") < F.col("avg_qty") / 5)
        .agg(
            F.round(F.sum("l_extendedprice") / 7, 2).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_small"),
        )
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # data-mixture rebalancing: per-language keep rates applied as a
    # content-hash filter against a broadcast rate table.
    from sutro_spark.functions.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    rates = {"en": 25, "es": 50, "de": 75}  # others keep default 100
    return stratified_sample(docs, "doc_id", "lang", rates).select(
        "doc_id", "lang", "source"
    )


def q_quality_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # keep the top 40% of documents per language by composite quality
    # score: one deterministic percent_rank window per lang.
    from sutro_spark.functions.text import quality_score
    from sutro_spark.operators.quality import percentile_filter

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", quality_score(F.col("text")).alias("quality")
    )
    return percentile_filter(
        docs, "quality", partition_column="lang", keep_top_frac=0.4
    )


def q_pack_contexts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # concat-and-chunk sequence packing: one window cumsum per source
    # gives every doc its span in the packed token stream; chunk
    # membership is integer math — no self-join, no Python.
    from sutro_spark.operators.packing import pack_contexts

    return pack_contexts(_t(spark, sf_dir, "documents"), budget=256)


def q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-context-window occupancy: explode each doc over the windows
    # it touches (bounded by n_tokens/budget + 1), groupBy window.
    from sutro_spark.operators.packing import pack_chunk_stats, pack_contexts

    packed = pack_contexts(_t(spark, sf_dir, "documents"), budget=256)
    return pack_chunk_stats(packed, budget=256)


# ---------------------------------------------------------------------------
# Remaining TPC-H query shapes, adapted to the synthetic schema (no
# partsupp / commitdate columns — each keeps the *plan shape* of the
# original: correlated scalar aggregates, semi/anti self-joins,
# disjunctive join predicates, outer-join distributions).
# ---------------------------------------------------------------------------
def q_tpch_q2ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q2 shape: correlated min — the cheapest part(s) within each type.
    # The per-type min is a small broadcast agg joined back to the dim;
    # at 100 TB this is a map-side join (agg output = |types| rows).
    p = _t(spark, sf_dir, "part")
    m = p.groupBy("p_type").agg(F.min("p_retailprice").alias("min_price"))
    return (
        p.join(F.broadcast(m), "p_type")
        .where(F.col("p_retailprice") == F.col("min_price"))
        .select("p_type", "p_partkey", "p_name", "p_retailprice")
    )


def q_tpch_q8ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q8 shape: market share — NATION_1 suppliers' share of revenue to
    # ASIA customers per order year. Conditional aggregation over a
    # fact-fact join; every dim leg is broadcast.
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    asia_nk = F.broadcast(
        n.join(r, n.n_regionkey == r.r_regionkey)
        .where(F.col("r_name") == "ASIA")
        .select(F.col("n_nationkey").alias("c_nk"))
    )
    sn = F.broadcast(
        n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(asia_nk, F.col("c_nationkey") == F.col("c_nk"))
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(sn, F.col("s_nationkey") == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_1", rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                6,
            ).alias("mkt_share"),
            F.round(F.sum(rev), 2).alias("total_rev"),
        )
    )


def q_tpch_q9ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q9 shape: profit by supplier nation × year over a part-name
    # substring filter. The LIKE prunes the broadcast part dim before
    # the fact join; group-by keys are (nation, year).
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    p = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_name").like("%red%"))
        .select("p_partkey")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == F.col("p_partkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("profit"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_tpch_q11ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q11 shape: group-by HAVING against a global scalar — parts whose
    # lineitem revenue exceeds 1.4× the mean per-part share. The
    # threshold is relative to part count so the query returns a stable
    # fraction of parts at every scale factor; the scalar is a 1-row
    # broadcast cross join, not a driver collect.
    li = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_part = li.groupBy("l_partkey").agg(F.sum(rev).alias("part_rev"))
    stats = per_part.agg(
        F.sum("part_rev").alias("total_rev"), F.count(F.lit(1)).alias("n_parts")
    )
    return (
        per_part.crossJoin(F.broadcast(stats))
        .where(F.col("part_rev") > F.lit(1.4) * F.col("total_rev") / F.col("n_parts"))
        .select("l_partkey", F.round("part_rev", 2).alias("part_value"))
    )


def q_tpch_q13ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q13 shape: orders-per-customer distribution including zero-order
    # customers — left outer join, count non-null, then count-of-counts.
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


def q_tpch_q15ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q15 shape: top supplier(s) — per-supplier revenue in a window,
    # kept where equal to the global max (scalar subquery → 1-row
    # broadcast). Ties survive, exactly like the view-based original.
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    s = _t(spark, sf_dir, "supplier")
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("total_rev"))
    )
    mx = rev.agg(F.max("total_rev").alias("max_rev"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("total_rev") == F.col("max_rev"))
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev")
    )


def q_tpch_q16ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q16 shape: distinct-supplier counts per part attribute, with an
    # excluded-supplier anti-join (NOT IN → left_anti on the fact side).
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_brand") != "Brand#1")
    bad = (
        _t(spark, sf_dir, "supplier")
        .where(F.col("s_name").like("%000000000%"))
        .select(F.col("s_suppkey").alias("bad_suppkey"))
    )
    return (
        li.join(F.broadcast(bad), li.l_suppkey == F.col("bad_suppkey"), "left_anti")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q_tpch_q19ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q19 shape: disjunctive join predicates — three OR'd brand/size/
    # quantity bands evaluated after a single broadcast part join (the
    # join key stays an equi-join; the disjunction is a post-filter, so
    # no nested-loop join materializes).
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    band = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30) & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50) & F.col("l_quantity").between(20, 40))
    )
    return j.where(band).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q_tpch_q20ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q20 shape: semi-join chain — suppliers who shipped > 300 units of
    # 'small %' parts in 1997, resolved to (name, nation). Each hop is
    # a semi-join or broadcast; nothing wide survives the chain.
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    p = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    heavy = (
        li.join(F.broadcast(p), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .where(F.col("qty") > 300)
        .select("l_suppkey")
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        s.join(heavy, s.s_suppkey == heavy.l_suppkey, "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", F.col("n_name").alias("nation"))
    )


def q_tpch_q21ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q21 shape: exists + not-exists self-joins on the fact table —
    # suppliers solely responsible for returns on multi-supplier
    # finished orders. l2 (exists: another supplier on the order) is a
    # left_semi; l3 (not exists: another supplier also returned) is a
    # left_anti; both are shuffle joins keyed on l_orderkey.
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F").select("o_orderkey")
    l1 = li.where(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey")
    l2 = li.select(F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2"))
    l3 = (
        li.where(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3"))
    )
    blamed = (
        l1.join(o, l1.l_orderkey == o.o_orderkey, "left_semi")
        .join(
            l2,
            (F.col("l_orderkey") == F.col("o2")) & (F.col("l_suppkey") != F.col("s2")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("o3")) & (F.col("l_suppkey") != F.col("s3")),
            "left_anti",
        )
    )
    s = _t(spark, sf_dir, "supplier")
    return (
        blamed.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select("s_name", "numwait")
    )


def q_events_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rolling range-frame window: per-user 10-minute trailing event
    # count and value sum (RANGE BETWEEN on epoch seconds — frame
    # includes all ties, identically in both engines). Values summed
    # as exact integer cents so float association order can't matter.
    from sutro_spark.streaming.progress import epoch_seconds

    ev = _t(spark, sf_dir, "events")
    sec = epoch_seconds(ev, "ts")
    cents = F.round(F.col("value") * 100).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy(sec)
        .rangeBetween(-600, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        sec.alias("sec"),
        F.count(F.lit(1)).over(w).alias("roll_cnt"),
        F.sum(cents).over(w).alias("roll_cents"),
    )


def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # document length histogram: fixed-width buckets computed with
    # integer math in the scan stage, one map-side-combinable groupBy.
    docs = _t(spark, sf_dir, "documents")
    bucket = F.least(F.floor(F.length(F.coalesce(F.col("text"), F.lit(""))) / 200), F.lit(9)).cast("long")
    return (
        docs.groupBy(bucket.alias("len_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length(F.coalesce(F.col("text"), F.lit(""))).cast("long")).alias("total_chars"),
        )
    )


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    # canonical-survivor selection: fuzzy-dedup clusters (simhash →
    # connected components) then keep the HIGHEST-QUALITY doc per
    # cluster rather than the min-id — the policy step a curation
    # pipeline actually runs. Argmax = one rank window per cluster.
    from sutro_spark.functions.text import quality_score
    from sutro_spark.operators.cluster import keep_best
    from sutro_spark.operators.dedup import simhash_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = simhash_pairs(docs, max_hamming=8).select("id_a", "id_b")
    return keep_best(
        docs, pairs, quality_score(F.coalesce(F.col("text"), F.lit("")))
    )


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-doc salient terms: tf × N/df weighting (exact-arithmetic
    # stand-in for ln-idf), bounded rank window per doc.
    from sutro_spark.functions.text import tfidf_topk

    return tfidf_topk(_t(spark, sf_dir, "documents"), k=3)


def q_word_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    # corpus collocations: adjacent-pair counting (the BPE-merge /
    # phrase-mining primitive), built in-scan with transform+explode.
    from sutro_spark.functions.text import word_bigrams

    return word_bigrams(_t(spark, sf_dir, "documents"), k=40)


def q_domain_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    # leakage-safe train/val/test split: the hash key is the registered
    # DOMAIN, not the doc id, so every page of a site lands in the same
    # split — the grouping that keeps near-identical site boilerplate
    # from straddling train and test. One projection, zero shuffles.
    from sutro_spark.functions.sampling import hash_split
    from sutro_spark.functions.web import registered_domain, url_host

    docs = _t(spark, sf_dir, "documents").withColumn(
        "url",
        F.concat(
            F.lit("https://www."),
            F.col("source"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".com/"),
            F.col("lang"),
            F.lit("/page/"),
            F.col("doc_id").cast("string"),
        ),
    )
    docs = docs.withColumn("domain", registered_domain(url_host(F.col("url"))))
    return hash_split(docs, "domain").select("doc_id", "domain", "split")


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CDC apply (Delta-MERGE shape): a synthetic changes feed derived
    # from orders — updates (with a stale earlier version that must
    # lose), deletes, and inserts — merged latest-wins onto the base.
    # Anti-join + union; the base table is never shuffled twice.
    from sutro_spark.operators.cdc import merge_upsert

    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("total")
    )
    upd = base.where(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("total") + 100, 2).alias("total"),
        F.lit("U").alias("op"),
        F.lit(2).alias("v"),
    )
    stale = base.where(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("total") + 999, 2).alias("total"),
        F.lit("U").alias("op"),
        F.lit(1).alias("v"),
    )
    dele = base.where(F.col("o_orderkey") % 10 == 1).select(
        "o_orderkey", "o_orderstatus", "total", F.lit("D").alias("op"), F.lit(2).alias("v")
    )
    ins = base.where(F.col("o_orderkey") % 10 == 2).select(
        (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        "total",
        F.lit("I").alias("op"),
        F.lit(2).alias("v"),
    )
    changes = upd.unionByName(stale).unionByName(dele).unionByName(ins)
    return merge_upsert(base, changes, ["o_orderkey"], order_column="v")


def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    # time-series resample: per-user hourly buckets between first and
    # last activity, empty buckets gap-filled (n=0) and forward-filled
    # with the last seen bucket sum — sequence()/explode generates the
    # calendar distributed, never on the driver.
    from sutro_spark.operators.timeseries import resample_ffill

    return resample_ffill(_events_secs(spark, sf_dir), bucket_seconds=3600)


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ordered conversion funnel signup → click → purchase: each stage is
    # the earliest qualifying event at-or-after the previous stage's
    # time; chained min-aggregations, one job, no per-user collect.
    from sutro_spark.operators.timeseries import funnel_stages

    return funnel_stages(_events_secs(spark, sf_dir), ["signup", "click", "purchase"])


def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cohort retention matrix: users keyed by first-activity day,
    # distinct-counted per (cohort day, day offset).
    from sutro_spark.operators.timeseries import retention_cohorts

    return retention_cohorts(_events_secs(spark, sf_dir), period_seconds=86400)


def q_fuzzy_join_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    # approximate string join: supplier names vs a corrupted copy (last
    # char dropped, every 3rd name also loses its first digit) matched
    # at edit distance ≤ 2 via length-band + prefix blocking — the
    # candidates-then-verify shape, never a cross join. The blocking is
    # lossless here (shared prefix, |Δlen| ≤ 2), so the naive oracle
    # finds the identical pair set.
    from sutro_spark.operators.joins import fuzzy_join

    # Bounded demo set: the synthetic names share a uniform
    # "Supplier#NNNNNNNNN" format, so at larger SF nearly every pair is
    # a true distance-≤2 match — the OUTPUT is inherently quadratic in
    # the supplier count, which benchmarks the data shape, not the
    # operator. 400 keys keeps the true-pair set representative (the
    # sf0.01 oracle sees all 100 suppliers either way).
    s = _t(spark, sf_dir, "supplier").where(F.col("s_suppkey") <= 400).select(
        "s_suppkey", "s_name"
    )
    corrupted = s.select(
        (F.col("s_suppkey") + 100000).alias("c_suppkey"),
        F.when(
            F.col("s_suppkey") % 3 == 0,
            F.concat(
                F.substring("s_name", 1, 9),
                F.substring("s_name", 11, F.length("s_name") - 11),
            ),
        )
        .otherwise(F.substring("s_name", 1, F.length("s_name") - 1))
        .alias("c_name"),
    )
    return fuzzy_join(
        s, corrupted, left_text="s_name", right_text="c_name", max_distance=2
    ).select(
        "s_suppkey", "c_suppkey", "s_name", "c_name",
        F.col("distance").cast("long").alias("distance"),
    )


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic weighted sampling: priority = hash32/weight, keep
    # the k smallest — longer documents proportionally likelier, yet the
    # sample is reproducible across engines and partitionings
    # (TakeOrderedAndProject top-k, no global sort).
    from sutro_spark.functions.sampling import weighted_topk

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", (F.length(F.coalesce(F.col("text"), F.lit(""))) + 1).alias("weight")
    )
    return weighted_topk(docs, "doc_id", "weight", 200)


def q_winsorize_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-group winsorization: clip extended price to its linestatus
    # [p05, p95] band — bounds are one tiny aggregate broadcast back,
    # the clip is a projection in the probe stage.
    from sutro_spark.functions.stats import winsorize

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_linestatus", "l_extendedprice"
    )
    return winsorize(li, "l_extendedprice", "l_linestatus").select(
        "l_orderkey", "l_linenumber", "l_linestatus", "clipped"
    )


def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-group anomaly flags: z-scores from exact integer aggregates
    # (cents sums / squared sums) so both engines derive bit-identical
    # doubles; only |z| > 2.5 rows leave the probe stage.
    from sutro_spark.functions.stats import zscore_outliers

    return zscore_outliers(
        _t(spark, sf_dir, "events"), "value", "event_type", "event_id", threshold=2.5
    )


def q_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CUBE: all four grouping levels over (returnflag, linestatus) in
    # one pass — Spark expands grouping sets map-side, one shuffle.
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


def q_jsonl_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # S4-adjacent — JSONL scan (the LLM-pipeline interchange format):
    # round-trip a 3-column orders projection through .jsonl with an
    # explicit schema (no inference pass), read with our reader. The
    # fixture is written once per sf_dir; integer/string columns only so
    # the round-trip is bit-exact by construction.
    import tempfile

    from sutro_spark.sources.ingest import read_jsonl

    key = sf_dir.strip("/").replace("/", "_")
    path = os.path.join(tempfile.gettempdir(), f"sutro_spark_orders_jsonl_{key}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus"
        ).write.mode("overwrite").json(path)
    df = read_jsonl(
        spark, path, schema="o_orderkey bigint, o_custkey bigint, o_orderstatus string"
    )
    return df.select("o_orderkey", "o_custkey", "o_orderstatus")


def q_fuzzy_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # FUZZY decontamination: benchmark = perturbed copies of every 11th
    # doc (first two chars replaced — every 13-gram containing them
    # changes, defeating exact decon, but most minhash bands survive).
    # Cross-set LSH: bench band keys broadcast; train never shuffles.
    from sutro_spark.operators.decontaminate import fuzzy_contamination

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.concat(F.lit("Z"), F.expr("substring(text, 3)")).alias("text"),
    )
    return fuzzy_contamination(docs, bench)


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DSIR importance scoring (Xie et al. 2023): hashed-unigram
    # log-likelihood ratio of every document toward the German subset
    # as the target distribution — model table ≤4096 rows, broadcast;
    # the corpus shuffles only (id, bucket) count rows.
    from sutro_spark.operators.selection import dsir_weights

    docs = _t(spark, sf_dir, "documents")
    return dsir_weights(docs, docs.where(F.col("lang") == "de"))


def q_charlm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CCNet-style LM quality proxy with no external model: corpus-fit
    # character-bigram LM, per-doc mean log-prob of its transitions.
    # Model = |alphabet|² rows, broadcast back to per-doc gram counts.
    from sutro_spark.operators.selection import charlm_score

    return charlm_score(_t(spark, sf_dir, "documents"))


def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    # corpus-wide line dedup (C4 rule): each distinct line survives
    # once, at its first (doc, pos) occurrence; docs rebuilt from
    # surviving lines in order. One digest shuffle + one groupBy(doc).
    from sutro_spark.operators.dedup import dedup_lines_global

    return dedup_lines_global(_t(spark, sf_dir, "documents"))


def q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # paragraph-granularity corpus dedup (Gopher/MassiveText variant of
    # the C4 rule). The synthetic corpus has no newlines, so paragraph
    # structure is synthesized deterministically (every ' table '
    # becomes a blank-line break) before the dedup — both engines apply
    # the identical transform.
    from sutro_spark.operators.dedup import dedup_lines_global

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.replace(
            F.coalesce(F.col("text"), F.lit("")), F.lit(" table "), F.lit("\n\n")
        ).alias("text"),
    )
    return dedup_lines_global(docs, unit="paragraph")


def q_dup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ExactSubstr-style duplicate-passage profile (Lee et al. 2022):
    # per-doc count + interval-union token coverage of 6-token windows
    # that occur more than once corpus-wide. Window digests are
    # sha256-derived so the oracle reproduces them bit-for-bit.
    from sutro_spark.operators.passages import dup_passage_stats

    return dup_passage_stats(_t(spark, sf_dir, "documents"), k=6)


def q_strip_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    # remove every duplicated 6-token window occurrence except the
    # corpus-wide canonical (min (doc_id, pos)) copy; rebuild documents
    # order-preservingly from the surviving tokens.
    from sutro_spark.operators.passages import strip_dup_passages

    return strip_dup_passages(_t(spark, sf_dir, "documents"), k=6)


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    # corpus snapshot diff: old = documents; new = documents with
    # %7==0 docs dropped (→removed), %7==1 docs re-texted (→changed),
    # and a +1000000 id block appended (→added). Full-outer join on
    # (key, digest) pairs only — payloads never shuffle.
    from sutro_spark.operators.cdc import snapshot_diff

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    new = docs.where(F.col("doc_id") % 7 != 0).withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 1, F.concat(F.lit("v2 "), F.col("text"))).otherwise(
            F.col("text")
        ),
    )
    added = docs.where(F.col("doc_id") % 7 == 2).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text", "lang"
    )
    return snapshot_diff(docs, new.unionByName(added), ["doc_id"])


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # temperature-flattened mixture rates (share^0.5 renormalized to a
    # 50% overall keep target): the multilingual-corpus rebalance rule;
    # two tiny aggregates with broadcast cross joins, IEEE-sqrt exact.
    from sutro_spark.operators.mixture import temperature_rates

    return temperature_rates(
        _t(spark, sf_dir, "documents"), "source", alpha_pct=50, target_pct=50
    )


def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    # forward as-of with tolerance: each click gets the EARLIEST
    # subsequent purchase value by the same user within 1 hour (pandas
    # merge_asof direction='forward' semantics) — same union + keyed
    # window plan as the backward variant, one shuffle.
    from sutro_spark.operators.joins import asof_join

    e = _events_secs(spark, sf_dir)
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("sec").alias("click_sec")
    )
    w = Window.partitionBy("user_id", "sec").orderBy(F.asc("event_id"))
    purchases = (
        e.where(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", F.col("sec").alias("p_sec"), F.col("value").alias("p_value"))
    )
    return asof_join(
        clicks, purchases, on="user_id", left_ts="click_sec", right_ts="p_sec",
        value_columns=["p_value"], direction="forward", tolerance=3600,
    ).select("click_id", "user_id", "click_sec", F.round("p_value", 4).alias("p_value"))


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # behavioral transition matrix: consecutive event-type pairs per
    # user in time order (the Markov-chain / page-path primitive) —
    # one lag window + one map-side-combinable groupBy.
    from sutro_spark.streaming.progress import epoch_seconds

    ev = _t(spark, sf_dir, "events")
    sec = epoch_seconds(ev, "ts")
    w = Window.partitionBy("user_id").orderBy(sec.asc(), F.col("event_id").asc())
    return (
        ev.select(
            "user_id",
            F.col("event_type").alias("to_type"),
            F.lag("event_type").over(w).alias("from_type"),
        )
        .where(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


def q_shuffled_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic global training-order shuffle: (shard, position)
    # address per doc from two independent content hashes — N local
    # sorts (one per shard), never a cluster-wide total order.
    from sutro_spark.operators.packing import shuffled_shards

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return shuffled_shards(docs, "doc_id", num_shards=16).select(
        "doc_id", F.col("shard").cast("long").alias("shard"), "position"
    )


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # KMV cardinality sketch: distinct users per event type estimated
    # from the 64 smallest portable key hashes — constant state per
    # group vs COUNT(DISTINCT)'s full key shuffle; the estimate itself
    # is engine-reproducible (hash-derived), hence oracle-checkable.
    from sutro_spark.functions.sketches import kmv_distinct

    return kmv_distinct(_t(spark, sf_dir, "events"), "event_type", "user_id", k=64)


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # HyperLogLog with engine-reproducible registers (64 registers,
    # rho from length(bin(rem)) — identical semantics in both engines);
    # harmonic sum kept as an exact scaled integer so the estimate is
    # bit-identical IEEE math, not an engine-private sketch.
    from sutro_spark.functions.sketches import hll_distinct

    return hll_distinct(_t(spark, sf_dir, "events"), "event_type", "user_id")


def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # honesty metric for the approximate dedup path: recall/precision
    # of MinHash-LSH candidate pairs against exact n-gram Jaccard >= 0.1
    # ground truth. One full-outer join over the two pair sets.
    from sutro_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs
    from sutro_spark.operators.metrics import candidate_recall

    docs = _t(spark, sf_dir, "documents")
    truth = ngram_jaccard_pairs(docs, k=8, threshold=0.1, max_df=100)
    cand = minhash_lsh_pairs(docs, k=8, num_hashes=16, bands=8, verify_threshold=None)
    return candidate_recall(truth, cand)


def q_bigram_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # collocations by lift = P(ab)/(P(a)P(b)) — the log-free PMI core
    # (monotone in PMI, no libm ln); min_count=5 suppresses hapax
    # pairs. Corpus totals are 1-row broadcast cross joins.
    from sutro_spark.functions.text import bigram_lift

    return bigram_lift(_t(spark, sf_dir, "documents"), k=20, min_count=5)


def q_validate_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # data-quality expectations over orders: all row-level checks
    # compile into ONE aggregate scan; unique = count-vs-distinct;
    # foreign_key = broadcast anti-join against customer keys.
    from sutro_spark.operators.validate import expect, validate

    return validate(
        _t(spark, sf_dir, "orders"),
        [
            expect("o_orderkey", "not_null"),
            expect("o_totalprice", "min", value=0),
            expect(
                "o_orderpriority",
                "in_set",
                values=["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            ),
            expect("o_orderstatus", "regex", pattern="^[A-Z]$"),
            expect("o_orderkey", "unique"),
            expect(
                "o_custkey",
                "foreign_key",
                ref=_t(spark, sf_dir, "customer"),
                ref_column="c_custkey",
            ),
        ],
    )


def q_mixture_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # composition drift: new snapshot = documents minus %3==0 docs plus
    # a re-sourced block, vs the original mixture — per-source
    # chi-squared contributions (row-deterministic; no cross-row float
    # sum, which would be accumulation-order-dependent).
    from sutro_spark.operators.mixture import mixture_drift

    docs = _t(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % 3 != 0).withColumn(
        "source",
        F.when(F.col("doc_id") % 7 == 1, F.lit("src_injected")).otherwise(
            F.col("source")
        ),
    )
    return mixture_drift(docs, new, "source")


def q_corr_tokens_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-source Pearson r over the same exact moments as the OLS —
    # IEEE sqrt is correctly rounded, so identical exact operands give
    # bit-identical r on any engine (unlike F.corr's order-dependent
    # running moments).
    from sutro_spark.functions.stats import corr_by_group
    from sutro_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents").select(
        "source",
        F.col("n_chars").cast("long").alias("x"),
        F.size(tokens(F.coalesce(F.col("text"), F.lit("")))).cast("long").alias("y"),
    )
    return corr_by_group(docs, "x", "y", group_column="source")


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic per-column profile (the df.summary() shape, but
    # engine-reproducible): null counts ride one global aggregate;
    # integer/string columns only so min/max strings match exactly.
    from sutro_spark.operators.validate import table_profile

    return table_profile(
        _t(spark, sf_dir, "orders"),
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
    )


def q_ols_tokens_vs_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-source closed-form OLS of token count on char count — the
    # trend-analysis shape (one combinable moments aggregate, two IEEE
    # divisions at the end; DECIMAL(38,0) moment sums).
    from sutro_spark.functions.stats import ols_by_group
    from sutro_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents").select(
        "source",
        F.col("n_chars").cast("long").alias("x"),
        F.size(tokens(F.coalesce(F.col("text"), F.lit("")))).cast("long").alias("y"),
    )
    return ols_by_group(docs, "x", "y", group_column="source")


def q_lang_confidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    # language ID with a confidence margin (winner hits − runner-up
    # hits); margin 0 = coin flip → route to an 'und' bucket before
    # per-language processing.
    from sutro_spark.functions.text import lang_id_margin

    docs = _t(spark, sf_dir, "documents")
    s = lang_id_margin(F.col("text"))
    return docs.select(
        "doc_id",
        s["lang_pred"].alias("lang_pred"),
        s["hits"].alias("hits"),
        s["margin"].alias("margin"),
    )


def q_curation_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-4 composition proof: Gopher quality filter → ExactSubstr
    passage stripping over the survivors → per-source retention
    report. One lazy DAG; `kept` persists because the strip path reads
    it on several legs (token spine, window digests, doc roster).

    r16 optimization: the keep list materializes through an eager
    localCheckpoint of the slim (doc_id, keep) projection BEFORE the
    filter. Filtering directly on `keep` pushed the ENTIRE
    interpreted-HOF metric expression tree below gopher's projection
    (PushDownPredicate inlines the whole keep condition — the
    top-2gram run-length scan three times over), measured 10.4 s vs
    2.7 s for this query at sf0.1 with identical output. 16 bytes/row
    to materialize, once, at any scale."""
    from sutro_spark.operators.passages import strip_dup_passages
    from sutro_spark.operators.quality import gopher_quality

    docs = _t(spark, sf_dir, "documents")
    keep_ids = (
        gopher_quality(docs).select("doc_id", "keep")
        .transform(_barrier)
        .where(F.col("keep") == 1).select("doc_id")
    )
    kept = docs.join(keep_ids, "doc_id").persist()
    stripped = strip_dup_passages(kept, k=6)
    return (
        stripped.join(kept.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("tokens_in"),
            F.sum("n_kept").cast("long").alias("tokens_kept"),
            F.round(
                F.when(
                    F.sum("n_tokens") > 0,
                    F.sum("n_kept").cast("double") / F.sum("n_tokens"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("keep_ratio"),
        )
    )


def q_curation_pipeline_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-12 flagship composition (VERDICT #7): the v2 pipeline with
    the fixed-window passage APPROXIMATION swapped for the r11 exact
    machinery — Gopher quality filter → exact ExactSubstr strip (Lee et
    al. suffix-array semantics, every duplicated >=60-char span cut) →
    span-level benchmark decontamination of the result (every-7th doc
    held out as the benchmark) → per-source retention report in
    CHARACTERS (the exact operators' native unit; v2 reports token
    windows). ``corpus`` and the first strip are barriers because each
    is read on two legs (strip input + report join; contamination input
    + dup-cut column) — eager localCheckpoint rather than persist()
    (r16: within one action the two cache references race to populate
    the InMemoryRelation and replay lineage; the eager row-format
    barrier measured 6.65 s → 5.39 s for this query at sf0.1)."""
    from sutro_spark.operators.exact_substr import (
        strip_contaminated_spans,
        strip_exact_substr,
    )
    from sutro_spark.operators.quality import gopher_quality

    docs = _t(spark, sf_dir, "documents")
    # same keep-list barrier as v2 (r16): checkpoint (doc_id, keep)
    # before filtering so PushDownPredicate cannot inline the
    # interpreted gopher metric tree into a filter evaluated per leg
    keep_ids = (
        gopher_quality(docs).select("doc_id", "keep")
        .transform(_barrier)
        .where(F.col("keep") == 1).select("doc_id")
    )
    ref = docs.where(F.col("doc_id") % 7 == 0)
    corpus = (
        docs.join(keep_ids, "doc_id")
        .where(F.col("doc_id") % 7 != 0)
        .transform(_barrier)
    )
    s1 = strip_exact_substr(corpus, min_length=60, min_count=2).transform(
        _barrier
    )
    s2 = strip_contaminated_spans(
        s1.select("doc_id", F.col("clean_text").alias("text")),
        ref,
        min_length=60,
    )
    return (
        s2.join(
            s1.select(
                "doc_id",
                F.col("n_chars").alias("chars_orig"),
                F.col("n_removed").alias("cut_dup"),
            ),
            "doc_id",
        )
        .join(corpus.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("chars_orig").cast("long").alias("chars_in"),
            F.sum("cut_dup").cast("long").alias("chars_cut_dup"),
            F.sum("n_removed").cast("long").alias("chars_cut_contam"),
            F.sum(F.length("clean_text")).cast("long").alias("chars_kept"),
            F.round(
                F.when(
                    F.sum("chars_orig") > 0,
                    F.sum(F.length("clean_text")).cast("double")
                    / F.sum("chars_orig"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("keep_ratio"),
        )
    )


def q_time_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    # temporal holdout: last 20% of events by timestamp become the
    # eval window (a random split would leak the future). Cutoff found
    # exactly on the distinct-ts spine, broadcast into a projection.
    from sutro_spark.functions.sampling import time_split

    out = time_split(_t(spark, sf_dir, "events"), "ts", holdout_pct=20)
    return out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("ts_min"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("ts_max"),
    )


def q_sql_interface(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the literal-SQL façade: register the tables as temp views and run
    # ANSI SQL through spark.sql — Catalyst plans it identically to the
    # DataFrame API (same pushdown/broadcast/AQE), which is the point:
    # users can bring raw SQL instead of the DataFrame DSL.
    for t in ["region", "nation", "customer", "orders", "lineitem"]:
        _t(spark, sf_dir, t).createOrReplaceTempView(f"sql_{t}")
    return spark.sql(
        """
        SELECT n.n_name AS nation,
               count(*) AS n_orders,
               CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS revenue_cents
        FROM sql_orders o
        JOIN sql_customer c ON o.o_custkey = c.c_custkey
        JOIN sql_nation n ON c.c_nationkey = n.n_nationkey
        JOIN sql_region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA' AND o.o_totalprice IS NOT NULL
        GROUP BY n.n_name
        ORDER BY revenue_cents DESC, nation ASC
        """
    )


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # join/agg-key skew diagnosis: top keys + max/avg skew factor —
    # the "should I salt this join?" evidence. One combinable groupBy
    # plus a 1-row broadcast stats cross join.
    from sutro_spark.functions.skew import skew_report

    return skew_report(_t(spark, sf_dir, "events"), "event_type", top=10)


def q_price_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # portable approximate quantiles: integer-binned histogram (1000
    # bins) over order totals in cents, per priority class — mergeable
    # by addition (unlike percentile_approx's engine-private KLL
    # sketch) and bit-identical across engines.
    from sutro_spark.functions.stats import histogram_quantiles

    orders = _t(spark, sf_dir, "orders").where(F.col("o_totalprice").isNotNull())
    cents = orders.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return histogram_quantiles(
        cents, "cents", group_column="o_orderpriority", quantiles=(0.5, 0.95, 0.99)
    )


def q_length_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    # corpus concentration diagnostic: exact Gini of document lengths
    # per source via the sorted-rank identity — integer arithmetic up
    # to one IEEE division (tie-insensitive, engine-reproducible).
    from sutro_spark.functions.stats import gini_concentration

    return gini_concentration(
        _t(spark, sf_dir, "documents"), "n_chars", group_column="source"
    )


def q_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # recall trilogy, part 3: IVF-probed top-3 (nprobe=2 of the
    # every-50th-vector centroids) vs exact brute-force cosine top-3 —
    # measures what the bucket pruning actually costs in recall.
    from sutro_spark.operators.metrics import candidate_recall
    from sutro_spark.operators.similarity import brute_force_topk, ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    cents = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    queries = emb.where(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, queries, k=3)
    approx = ivf_topk(emb, queries, cents, k=3, nprobe=2)
    return candidate_recall(exact, approx, keys=("query_id", "neighbor_id"))


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    # train/val/test keyed on the duplicate-cluster id (simhash near-dup
    # components), so near-copies never straddle splits; singletons
    # degrade to a plain per-doc hash split.
    from sutro_spark.operators.cluster import leakage_safe_split
    from sutro_spark.operators.dedup import simhash_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = simhash_pairs(docs, max_hamming=8).select("id_a", "id_b")
    return leakage_safe_split(docs, pairs)


def q_sq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # honesty metric for the quantized ANN path: recall/precision of
    # int8 scalar-quantized top-3 neighbor sets against exact
    # brute-force cosine top-3 over the same queries.
    from sutro_spark.operators.metrics import candidate_recall
    from sutro_spark.operators.similarity import brute_force_topk, sq_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, queries, k=3)
    approx = sq_topk(emb, queries, k=3)
    return candidate_recall(exact, approx, keys=("query_id", "neighbor_id"))


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    # product quantization (Jegou 2011) train + encode: 8x8-dim
    # subspace codebooks (k=16, 2 integer Lloyd rounds) and the
    # compressed (vec_id, sub, code) corpus — the memory-side ANN
    # scale path (corpus state = m bytes/vector + an m*k codebook).
    from sutro_spark.operators.pq import pq_encode, pq_train

    emb = _t(spark, sf_dir, "embeddings")
    cb = pq_train(emb, m=8, k=16, iters=2)
    return pq_encode(emb, cb).select("vec_id", "sub", "code")


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # asymmetric-distance top-3: the query's m*k exact distance table
    # joins corpus CODES only — raw corpus vectors never touched at
    # query time.
    from sutro_spark.operators.pq import pq_topk, pq_train

    emb = _t(spark, sf_dir, "embeddings")
    cb = pq_train(emb, m=8, k=16, iters=2)
    return pq_topk(emb, emb.where(F.col("vec_id") < 5), cb, k=3)


def q_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # recall trilogy, part 4: PQ-ADC top-3 vs exact integer L2 top-3
    # over the SAME milli quantization — metric and quantization held
    # constant, so the number isolates the PQ approximation itself.
    from sutro_spark.operators.metrics import candidate_recall
    from sutro_spark.operators.pq import exact_l2_topk, pq_topk, pq_train

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    cb = pq_train(emb, m=8, k=16, iters=2)
    exact = exact_l2_topk(emb, queries, k=3)
    approx = pq_topk(emb, queries, cb, k=3)
    return candidate_recall(exact, approx, keys=("query_id", "neighbor_id"))


def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the full billion-scale ANN stack: coarse integer-k-means bucket
    # routing (nprobe=2 of 8) then PQ-ADC only within probed buckets.
    # Non-residual IVF-PQ (one codebook serves every bucket). Oracle =
    # the kmeans chain + the PQ chain + the probe/ADC tail, spliced.
    from sutro_spark.operators.pq import ivfpq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivfpq_topk(emb, emb.where(F.col("vec_id") < 5), k=3)


def q_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    # true IVFADC (Jegou 2011 SIII, Faiss by_residual=True): PQ trains
    # on and encodes v - centroid(bucket) residuals, with a per-probed-
    # bucket query distance table — the variant whose recall holds up
    # as nlist grows. Oracle = kmeans chain + residual CTE + the SAME
    # PQ chain re-sourced from residuals + the bucket-keyed ADC tail.
    from sutro_spark.operators.pq import ivfpq_residual_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivfpq_residual_topk(emb, emb.where(F.col("vec_id") < 5), k=3)


def q_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # recall trilogy, part 5: residual IVFADC top-3 vs exact integer
    # L2 top-3 at the same quantization — the honesty number for the
    # full billion-scale stack (compare against pq_recall/ivf_recall
    # to see what routing + residual coding each cost or buy).
    from sutro_spark.operators.metrics import candidate_recall
    from sutro_spark.operators.pq import exact_l2_topk, ivfpq_residual_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    exact = exact_l2_topk(emb, queries, k=3)
    approx = ivfpq_residual_topk(emb, queries, k=3)
    return candidate_recall(exact, approx, keys=("query_id", "neighbor_id"))


def q_ivfpq_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-bucket ADC early-abandon (Jegou 2011 SV): bucket lower bound
    # = sum of per-subspace distance-table minima; buckets whose bound
    # exceeds the primary bucket's k-th distance are skipped BEFORE the
    # ADC join. One row (n_queries, cand_full, cand_pruned); result
    # equality is the pruning theorem (pytest) and the oracle replays
    # bound/tau/surviving exactly. HONESTY: on the synthetic uniform
    # embeddings table the bound never beats tau (cand_pruned ==
    # cand_full at sf0.01 AND sf0.1 — probed buckets overlap heavily),
    # so this [Q] proves the bound arithmetic, not a saving; the
    # measured reduction shows on separable data
    # (tests/test_pq.py::test_ivfpq_pruned_equals_unpruned_*, where
    # cand_pruned < cand_full strictly).
    from sutro_spark.operators.pq import ivfpq_prune_stats

    emb = _t(spark, sf_dir, "embeddings")
    return ivfpq_prune_stats(emb, emb.where(F.col("vec_id") < 5), k=3)


def q_ivfpq_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact-rescore refinement (r12, VERDICT #1): residual IVFADC keeps
    # a top-10 ADC shortlist per query, then the raw vectors of JUST
    # those ids re-rank by exact integer L2 (broadcast shortlist into
    # one corpus scan — O(queries x 10), corpus-size independent). The
    # oracle replays the residual chain, cuts the same shortlist, and
    # recomputes the exact distances — so both the ADC tie-breaks and
    # the rescore arithmetic are pinned end-to-end.
    from sutro_spark.operators.pq import ivfpq_residual_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivfpq_residual_topk(
        emb, emb.where(F.col("vec_id") < 5), k=3, rescore_k=10
    )


def q_ivfpq_rescore_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # recall trilogy, part 6 — the honesty number for the rescore knob:
    # rescored residual IVFADC top-3 vs exact integer L2 top-3. Compare
    # against ivfpq_recall (same routing, no rescore) to read off what
    # the exact re-rank buys back of the PQ quantization loss.
    from sutro_spark.operators.metrics import candidate_recall
    from sutro_spark.operators.pq import exact_l2_topk, ivfpq_residual_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    exact = exact_l2_topk(emb, queries, k=3)
    approx = ivfpq_residual_topk(emb, queries, k=3, rescore_k=10)
    return candidate_recall(exact, approx, keys=("query_id", "neighbor_id"))


def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Morton/Z-order layout key (Delta OPTIMIZE ZORDER's core, absent
    # from plain Spark): shift/mask bit interleave — pure codegen
    # integer ops, bit-for-bit reproducible in the oracle. The sort key
    # that makes parquet min/max stats selective on BOTH columns.
    from sutro_spark.sources.sinks import zorder_key

    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        zorder_key(F.col("o_custkey"), F.col("o_orderkey")).alias("zkey"),
    )


def q_jaccard_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # threshold-sweep evidence for dedup tuning: candidate-pair Jaccard
    # distribution in one pass. Buckets are pure integer division —
    # immune to double-rounding at bucket edges; n_pairs_ge gives the
    # would-merge count at each threshold via one 10-row window.
    from sutro_spark.operators.dedup import jaccard_histogram

    return jaccard_histogram(_t(spark, sf_dir, "documents"), k=8, max_df=100)


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cross-source n-gram duplication report: shared 6-gram digests per
    # source pair with Jaccard — the mixture-decision evidence. Source
    # sets per digest are bounded collect_sets; pairs explode in
    # |sources|², never in corpus size.
    from sutro_spark.operators.mixture import source_overlap

    return source_overlap(_t(spark, sf_dir, "documents"), k=6)


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Count-Min sketch point queries for the top-10 exact heavy hitters
    # (deterministic candidate pick). est_count >= n_exact always (CMS
    # upper-bound property); cells are portable-hash sums so the whole
    # sketch is engine-reproducible.
    from sutro_spark.functions.sketches import cms_counts, cms_estimate

    ev = _t(spark, sf_dir, "events")
    sketch = cms_counts(ev, "user_id", depth=4, width=256)
    cands = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.desc("n_exact"), F.asc("user_id"))
        .limit(10)
    )
    est = cms_estimate(sketch, cands, "user_id", depth=4, width=256)
    return cands.select(
        F.col("user_id").cast("string").alias("key"), "n_exact"
    ).join(est, "key").select("key", F.col("n_exact").cast("long").alias("n_exact"), "est_count")


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # distributed BPE merge induction (Sennrich et al. 2016): 4 unrolled
    # rounds over the distinct-word vocabulary (corpus size stops
    # mattering after the first shuffle); per round, the argmax pair is
    # a 1-row broadcast cross join and the merge is a boundary-safe
    # string replace — greedy left-to-right in both engines.
    from sutro_spark.operators.bpe import bpe_merges

    return bpe_merges(_t(spark, sf_dir, "documents"), rounds=4)


def q_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the APPLY step: segment the distinct-word vocabulary with the 4
    # learned merges and report the top-20 subwords by weighted corpus
    # frequency (deterministic tie-break).
    from sutro_spark.operators.bpe import bpe_vocab

    return bpe_vocab(_t(spark, sf_dir, "documents"), rounds=4, top=20)


def q_weighted_sample_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-group weighted quota sampling: k smallest hash-priorities per
    # source (WindowGroupLimit keeps ≤ k rows per group through the
    # sort) — the per-source curation quota, deterministic across runs.
    from sutro_spark.functions.sampling import weighted_topk_per_group

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source",
        (F.length(F.coalesce(F.col("text"), F.lit(""))) + 1).alias("weight"),
    )
    return weighted_topk_per_group(docs, "source", "doc_id", "weight", 5).select(
        "doc_id", "source", F.col("sample_rank").cast("long").alias("sample_rank")
    )


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    # mixture planning: per-source token allocation under a global
    # budget with a 1.5-epoch repeat cap; capped sources' freed tokens
    # redistribute to headroom in one pass. Pure integer/one-division
    # arithmetic — engine-reproducible.
    from sutro_spark.operators.mixture import token_budget_allocation

    return token_budget_allocation(
        _t(spark, sf_dir, "documents"), budget=38_000, max_epochs_milli=1500
    )


def q_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # stride-scheduled (WFQ virtual-time) shard interleave: every
    # prefix of the schedule tracks each source's token share. The
    # manifest here is a per-(source, 50-doc shard) rollup; the global
    # rank runs over the manifest, never the corpus.
    from sutro_spark.operators.packing import epoch_plan

    docs = _t(spark, sf_dir, "documents")
    manifest = docs.groupBy(
        "source", F.expr("doc_id div 50").alias("shard_id")
    ).agg(F.sum("n_chars").alias("n_tokens"))
    return epoch_plan(manifest)


def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-label embedding norm profile on milli-quantized exact
    # integers — the drift check before cosine dedup/ANN.
    from sutro_spark.operators.similarity import embedding_norm_stats

    return embedding_norm_stats(_t(spark, sf_dir, "embeddings"))


def q_embedding_anisotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    # corpus anisotropy: expected random-pair dot / mean squared norm,
    # via ||sum v||^2 - sum||v||^2 on milli-quantized exact integers —
    # the cosine-threshold sanity check before any embedding dedup/ANN.
    from sutro_spark.operators.similarity import embedding_anisotropy

    return embedding_anisotropy(_t(spark, sf_dir, "embeddings"))


def q_center_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    # all-but-the-top step 1: exact mean-centering in (n*scale)-ths —
    # centered_d = n*q_d - S_d, pure BIGINT, direction-preserving so
    # cosine consumers read it directly. Sliced to vec_id < 100 to keep
    # the compare payload bounded (the centering math is row-local).
    from sutro_spark.operators.similarity import center_embeddings

    emb = _t(spark, sf_dir, "embeddings")
    out = center_embeddings(emb).where(F.col("vec_id") < 100)
    # exploded to scalar rows for the driver compare (the jl_project
    # convention — no [Q] ships array cells to the value-hash)
    return out.select(
        "vec_id",
        "denom",
        F.posexplode("centered").alias("d", "c"),
    )


def _centered_as_double(cent: DataFrame) -> DataFrame:
    # center_embeddings output renormalized to doubles (one IEEE
    # division per element, engine-reproducible) so pca_top_direction
    # consumes the CENTERED corpus — Mu & Viswanath prescribe PCA
    # after mean removal; PCA on the raw corpus finds a direction
    # dominated by the mean, redundant with the centering step
    # (ADVICE r10).
    return cent.select(
        "vec_id",
        F.expr(
            "transform(centered,"
            " x -> CAST(x AS DOUBLE) / CAST(denom AS DOUBLE))"
        ).alias("embedding"),
    )


def q_pca_direction(spark: SparkSession, sf_dir: str) -> DataFrame:
    # distributed PCA power iteration (all-but-the-top step 2), run on
    # the exactly-CENTERED corpus (step 1's output, renormalized by
    # one IEEE division): two rounds of
    # v <- round(scale * A^T A v / ||A^T A v||) on quantized BIGINTs —
    # the only floats are dimension-ordered left-folds, one IEEE sqrt
    # and one division per dim, all re-quantized per round, so the
    # DuckDB oracle unrolls the identical arithmetic. d = -1 carries
    # the pre-normalization magnitude.
    from sutro_spark.operators.similarity import (
        center_embeddings,
        pca_top_direction,
    )

    cent = center_embeddings(_t(spark, sf_dir, "embeddings"))
    return pca_top_direction(_centered_as_double(cent), rounds=2)


def q_remove_direction(spark: SparkSession, sf_dir: str) -> DataFrame:
    # all-but-the-top composed end-to-end under the oracle: exact
    # centering -> 2-round power-iteration direction ON THE CENTERED
    # corpus (the paper's recipe; ADVICE r10) -> pure-BIGINT
    # projection r_d = c_d*||v||^2 - (c.v)*v_d. Residuals are exactly
    # orthogonal to the removed direction (integer theorem). Sliced
    # and exploded to scalar rows for the driver compare.
    from sutro_spark.operators.similarity import (
        center_embeddings,
        pca_top_direction,
        remove_top_direction,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cent = center_embeddings(emb)
    out = remove_top_direction(
        cent, pca_top_direction(_centered_as_double(cent), rounds=2)
    )
    return out.where(F.col("vec_id") < 50).select(
        "vec_id", "denom", F.posexplode("residual").alias("d", "r")
    )


def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    # HITS hubs/authorities over the directed part co-purchase graph
    # (both directions of parts sharing an order, every-5th-order
    # slice, deduped): 2 rounds of pure-BIGINT max-normalized power
    # iteration — no sqrt, no float sum, the oracle unrolls identical
    # rounds. Catalog-hub vs connector-authority separation.
    from sutro_spark.operators.cluster import hits_scores

    li = (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 5 == 0)
        .select("l_orderkey", "l_partkey")
    )
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p1"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p2"))
    edges = (
        a.join(b, "o")
        .where(F.col("p1") != F.col("p2"))
        .select(F.col("p1").alias("s"), F.col("p2").alias("d"))
        .distinct()
    )
    return hits_scores(edges, src_column="s", dst_column="d", rounds=2)


def q_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic synchronous label propagation (3 rounds) over the
    # co-purchase graph: most-frequent neighbor label, ties to the
    # smallest — an associative max(struct(cnt, -label)) argmax, all
    # BIGINT, oracle-replayed round for round. Communities = edge
    # density, the complement of connected components.
    from sutro_spark.operators.cluster import label_propagation

    li = (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 5 == 0)
        .select("l_orderkey", "l_partkey")
    )
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p1"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p2"))
    edges = (
        a.join(b, "o")
        .where(F.col("p1") != F.col("p2"))
        .select(F.col("p1").alias("s"), F.col("p2").alias("d"))
        .distinct()
    )
    return label_propagation(edges, src_column="s", dst_column="d", rounds=3)


def q_exact_substr_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EXACT ExactSubstr dedup (Lee et al. 2022 suffix-array semantics,
    # distributed): maximal character spans covered by any substring of
    # length >= 60 occurring >= 2 times corpus-wide. Hash-prefilter
    # (xxhash64 in-stage, 8-byte shuffle rows) + byte-verify + interval
    # union — the oracle re-derives the spans from raw substrings, so
    # the hash stage is provably output-invisible.
    from sutro_spark.operators.exact_substr import exact_substr_spans

    return exact_substr_spans(
        _t(spark, sf_dir, "documents"), min_length=60, min_count=2
    )


def q_exact_substr_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the removal half of exact ExactSubstr: every duplicated span cut
    # from every occurrence, documents rebuilt from the surviving
    # segments by one Catalyst aggregate fold. The oracle re-derives
    # the spans from raw substrings and reassembles with an ordered
    # string_agg over the gap segments — full end-to-end parity
    # including the reassembled text bytes.
    from sutro_spark.operators.exact_substr import strip_exact_substr

    return strip_exact_substr(
        _t(spark, sf_dir, "documents"), min_length=60, min_count=2
    )


def q_contaminated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SPAN-level decontamination (the surgical counterpart to the
    # whole-doc decontaminate [Q]s): every-7th doc plays the held-out
    # benchmark; the remaining corpus gets its maximal >=60-char
    # verbatim-overlap spans marked. Hash-prefilter + byte-verify, so
    # the oracle's raw-substring derivation must match exactly.
    from sutro_spark.operators.exact_substr import contaminated_spans

    docs = _t(spark, sf_dir, "documents")
    return contaminated_spans(
        docs.where(F.col("doc_id") % 7 != 0),
        docs.where(F.col("doc_id") % 7 == 0),
        min_length=60,
    )


def q_exact_substr_fixpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the Lee et al. GUARANTEE (r12, VERDICT #5): strip re-run on its
    # own output until no duplicated span remains — cut edges can
    # splice fresh length-60 repeats that a single pass leaves behind.
    # max_iters=2 pins the pass count so the oracle can unroll both
    # passes as CTEs (the pagerank/kcore unrolled-rounds discipline);
    # n_passes is 2 iff pass 1 found any span, else 1 — replayed by the
    # oracle as an EXISTS over pass 1's matched windows.
    from sutro_spark.operators.exact_substr import strip_exact_substr_fixpoint

    return strip_exact_substr_fixpoint(
        _t(spark, sf_dir, "documents"), min_length=60, min_count=2,
        max_iters=2,
    )


def q_contaminated_strip_fixpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the ABSOLUTE decontamination guarantee (r12, VERDICT #6): cutting
    # a contaminated span can splice the surrounding bytes into a NEW
    # verbatim benchmark match; this fixpoint loop (machinery shared
    # with exact_substr_fixpoint) re-scrubs until no length->=60 ref
    # substring survives. Same every-7th-doc benchmark split as
    # contaminated_spans; oracle unrolls both passes against the ONE
    # constant ref gram set.
    from sutro_spark.operators.exact_substr import (
        strip_contaminated_spans_fixpoint,
    )

    docs = _t(spark, sf_dir, "documents")
    return strip_contaminated_spans_fixpoint(
        docs.where(F.col("doc_id") % 7 != 0),
        docs.where(F.col("doc_id") % 7 == 0),
        min_length=60,
        max_iters=2,
    )


def q_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # MOSS-style winnowing fingerprint overlap: local-min sampling of
    # rolling char-8-gram hashes (window 4), df-capped inverted-index
    # self-join — any shared substring of length >= 11 guarantees a
    # shared fingerprint.
    from sutro_spark.operators.dedup import winnow_overlap

    return winnow_overlap(
        _t(spark, sf_dir, "documents").select("doc_id", "text"), min_shared=2
    )


def q_winnow_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # honesty metric for the winnowing path (same discipline as
    # lsh_recall / ivf_recall): recall/precision of winnow candidate
    # pairs against exact n-gram Jaccard >= 0.1 ground truth.
    from sutro_spark.operators.dedup import ngram_jaccard_pairs, winnow_overlap
    from sutro_spark.operators.metrics import candidate_recall

    docs = _t(spark, sf_dir, "documents")
    truth = ngram_jaccard_pairs(docs, k=8, threshold=0.1, max_df=100)
    cand = winnow_overlap(docs.select("doc_id", "text"), min_shared=2)
    return candidate_recall(truth, cand)


def q_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cross-engine mergeability proof: Spark builds per-DAY partial HLL
    # registers and max-merges them into the global registers; the
    # oracle computes the sketch DIRECTLY over all events. Equal
    # finished estimates == the associativity/idempotence property
    # that makes the sketch the 100 TB COUNT-DISTINCT answer.
    from sutro_spark.functions.sketches import hll_from_registers, hll_registers

    ev = _t(spark, sf_dir, "events").select(
        F.concat(
            F.col("event_type"), F.lit("|"), F.to_date("ts").cast("string")
        ).alias("gd"),
        "user_id",
    )
    daily = hll_registers(ev, "gd", "user_id")
    merged = (
        daily.select(F.split("grp", r"\|")[0].alias("grp"), "j", "M")
        .groupBy("grp", "j")
        .agg(F.max("M").alias("M"))
    )
    return hll_from_registers(merged)


def q_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-doc sentence segmentation stats (lookbehind-free split so
    # RE2 and Java regex segment identically).
    from sutro_spark.functions.text import sentence_stats

    return sentence_stats(_t(spark, sf_dir, "documents")).select(
        F.col("id").alias("doc_id"), "n_sentences", "mean_sentence_chars"
    )


def q_nfc_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Unicode NFC audit (mapInPandas unicodedata vs DuckDB
    # nfc_normalize — same Unicode standard). The ASCII corpus is
    # trivially NFC, so the query injects decomposed/composed seed
    # rows to exercise the normalizer on both engines.
    from sutro_spark.operators.quality import nfc_report

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    seeds = spark.createDataFrame(
        [
            (9000001, "cafe\u0301 papers"),  # decomposed: NOT NFC
            (9000002, "caf\u00e9 papers"),  # composed: already NFC
            (9000003, "A\u030angstro\u0308m units"),  # decomposed
            (9000004, None),
        ],
        "doc_id long, text string",
    )
    return nfc_report(docs.unionByName(seeds)).select(
        F.col("id").alias("doc_id"), "is_nfc", "raw_len", "nfc_len"
    )


def q_winnow_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the consumer of winnow_overlap's candidate pairs: transitive
    # closure (large-star/small-star CC) then highest-quality survivor
    # per cluster — the same canonical-survivor discipline the
    # simhash path exercises in dedup_keep_best, now fed by MOSS
    # fingerprint overlap. Completes the winnow pipeline from
    # fingerprints to an actionable keep-list.
    from sutro_spark.functions.text import quality_score
    from sutro_spark.operators.cluster import keep_best
    from sutro_spark.operators.dedup import winnow_overlap

    docs = _t(spark, sf_dir, "documents")
    # min_shared=32: the keep-list bar is HEAVY fingerprint overlap
    # (>=32 shared rare fingerprints ~ a long shared substring), not
    # the candidate-generation bar (2) winnow_overlap reports — at 2
    # the synthetic corpus collapses into one giant component and the
    # survivor policy has nothing to decide.
    pairs = winnow_overlap(docs, min_shared=32).select("id_a", "id_b")
    return keep_best(
        docs, pairs, quality_score(F.coalesce(F.col("text"), F.lit("")))
    )


def _quality_train_parts(spark: SparkSession, sf_dir: str):
    # shared by q_quality_train / q_quality_train_eval: 80/20
    # doc_id-hash split, teacher label = "is English" (the standard
    # fastText recipe labels by curated-source membership; lang is
    # this corpus's stand-in), integer perceptron training on the
    # train split only.
    from sutro_spark.functions.sampling import hash_split
    from sutro_spark.operators.quality import (
        hashed_token_features,
        train_linear_scorer,
    )

    docs = hash_split(
        _t(spark, sf_dir, "documents"), "doc_id", {"train": 4, "holdout": 1}
    )
    label = F.when(F.col("lang") == "en", 1).otherwise(-1)
    weights = train_linear_scorer(
        docs.where(F.col("split") == "train"), label, dim=1024, epochs=2
    )
    holdout = docs.where(F.col("split") == "holdout")
    feats_h = hashed_token_features(holdout, dim=1024)
    labels_h = holdout.select(
        F.col("doc_id").alias("id"), label.cast("long").alias("y")
    )
    return weights, feats_h, labels_h


def q_quality_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the TRAINED model itself: integer perceptron weights over hashed
    # bag-of-words (closed-form init + 2 correction epochs), exactly
    # reproduced by the DuckDB oracle's unrolled-epoch SQL — proof the
    # distributed training loop is engine-exact, not approximately so.
    weights, _, _ = _quality_train_parts(spark, sf_dir)
    return weights.select("bucket", F.col("w").cast("long").alias("w"))


def q_quality_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # held-out accuracy of the trained scorer (operators/metrics.py
    # accuracy over the 20% holdout split) — the quality-filter loop's
    # acceptance gate: label -> train -> score -> filter, end to end
    # in-engine.
    from sutro_spark.operators.metrics import accuracy
    from sutro_spark.operators.quality import score_with_weights

    weights, feats_h, labels_h = _quality_train_parts(spark, sf_dir)
    scored = score_with_weights(feats_h, weights)
    return accuracy(labels_h.join(scored, "id"), label_column="y")


def q_dup_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # duplicate-cluster size distribution over normalized text — two
    # shrinking map-side-combinable aggregations. The synthetic corpus
    # has no exact dups, so the query re-injects every 7th doc (and
    # every 21st twice) under fresh ids to exercise sizes {1,2,3}.
    from sutro_spark.operators.dedup import dup_size_histogram

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup7 = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    dup21 = docs.where(F.col("doc_id") % 21 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
    )
    return dup_size_histogram(docs.unionByName(dup7).unionByName(dup21))


def q_ann_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ORDERED honesty metric for the quantized ANN path: MRR@3 and
    # hit@3 of the int8-SQ ranked list against exact brute-force
    # cosine truth. candidate_recall scores the SET; this scores how
    # early the first true neighbor appears — reciprocal ranks summed
    # as exact lcm-scaled integers, ONE trailing IEEE division.
    from sutro_spark.operators.metrics import rank_metrics
    from sutro_spark.operators.similarity import brute_force_topk, sq_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, queries_df, k=3)
    approx = sq_topk(emb, queries_df, k=3)
    return rank_metrics(exact, approx, k=3)


def q_hll_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    # HLL twin of kmv_set_ops on the same populations: constant-state
    # (64-register) sketches, register-max union, inclusion-exclusion
    # intersection/differences — the streaming-friendly set algebra.
    from sutro_spark.functions.sketches import hll_set_estimates

    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("user_id")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id"
    )
    return hll_set_estimates(clicks, purchases, "user_id")


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Frozen-merge BPE tokenization: the 4 merges learned on the
    # documents corpus (bounded driver collect — a tokenizer's merge
    # table is a plan constant) applied back as a literal replace
    # chain; per-doc subword counts are the REAL token budget the
    # whitespace/BPE-ish proxies approximate.
    from sutro_spark.operators.bpe import bpe_apply, bpe_merges

    docs = _t(spark, sf_dir, "documents")
    merges = [
        (r["lhs"], r["rhs"])
        for r in bpe_merges(docs, rounds=4).orderBy("round").collect()
    ]
    return bpe_apply(docs, merges).orderBy("doc_id")


def q_json_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Nested-JSON schema profile of events.props: per top-level key,
    # presence (over ALL rows, broken JSON included) and numeric
    # share — the producer-drift alarm table_profile can't see inside
    # a string column.
    from sutro_spark.operators.validate import json_key_profile

    return json_key_profile(_t(spark, sf_dir, "events"), "props")


def q_incremental_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Incremental cluster maintenance: CC labels from the even-order
    # "old" edge batch + the odd-order "new" batch re-clustered FROM
    # THE LABEL TABLE (one row per node, never the accumulated pair
    # set) — provably equal to from-scratch CC on the union, which is
    # exactly what the recursive-CTE oracle computes.
    from sutro_spark.operators.cluster import (
        connected_components,
        incremental_components,
    )

    o = _t(spark, sf_dir, "orders").select("o_orderkey")
    old = o.where(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("id_a"),
        (F.col("o_orderkey") - F.col("o_orderkey") % 64).alias("id_b"),
    )
    new = o.where(F.col("o_orderkey") % 2 == 1).select(
        F.col("o_orderkey").alias("id_a"),
        (F.col("o_orderkey") - F.col("o_orderkey") % 128).alias("id_b"),
    )
    labels = connected_components(old)
    return incremental_components(labels, new).orderBy("node")


def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Benford first-digit audit of order totals: observed milli shares
    # vs the FIXED log10(1+1/d) milli literals (no engine evaluates a
    # log) — the fabricated-data / unit-mangling detector a pipeline
    # runs on every new numeric source.
    from sutro_spark.functions.stats import benford_profile

    return benford_profile(_t(spark, sf_dir, "orders"), "o_totalprice")


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Last-touch marketing attribution: each purchase joins its
    # user's most recent prior click (asof backward), campaign =
    # click's props.k % 4; conversions + revenue cents per campaign,
    # unattributed purchases reported as campaign -1 (never dropped).
    # Pure composition of shipped primitives: asof_join + one groupBy.
    from sutro_spark.operators.joins import asof_join
    from sutro_spark.streaming.progress import epoch_seconds

    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        "props",
        epoch_seconds(ev, "ts").alias("sec"),
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("sec").alias("p_sec"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("sec").alias("c_sec"),
        (F.get_json_object("props", "$.k").cast("long") % 4).alias(
            "campaign"
        ),
    )
    # deterministic: one click per (user, sec) — keep the max campaign
    w = Window.partitionBy("user_id", "c_sec").orderBy(F.desc("campaign"))
    clicks = (
        clicks.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    attributed = asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="p_sec",
        right_ts="c_sec",
        value_columns=["campaign"],
        direction="backward",
    )
    return (
        attributed.groupBy(
            F.coalesce(F.col("campaign"), F.lit(-1)).alias("campaign")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("conversions"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
        .orderBy("campaign")
    )


def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Cross-source score calibration: each source's n_chars
    # distribution mapped onto the pooled one (right-continuous
    # empirical quantile, ceil(rn*N/ng) — all integer), so one global
    # threshold means the same thing in every source.
    from sutro_spark.functions.stats import quantile_normalize

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return quantile_normalize(docs, "source", "n_chars", "doc_id").orderBy(
        "doc_id"
    )


def q_ann_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    # WHOLE-LIST honesty for the quantized ANN path: MAP@3 of int8-SQ
    # rankings vs exact brute-force truth — ann_mrr scores only the
    # first hit; AP rewards every true neighbor by how early it lands.
    # Per-query AP as lcm-scaled integers, milli-quantized MAP.
    from sutro_spark.operators.metrics import average_precision
    from sutro_spark.operators.similarity import brute_force_topk, sq_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, queries_df, k=3)
    approx = sq_topk(emb, queries_df, k=3)
    return average_precision(exact, approx, k=3)


def _eval_preds_conf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # eval predictions + deterministic integer-milli confidence
    # (doc_id * 37 % 1001 spans the full [0, 1000] range) — the
    # pre-quantized confidence discipline calibration ops require.
    return _eval_preds(spark, sf_dir).withColumn(
        "conf_milli", (F.col("doc_id") * 37 % 1001).cast("long")
    )


def q_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    # reliability diagram over 10 integer-milli confidence bins: per-bin
    # accuracy and mean confidence as single exact-integer divisions;
    # gap_scaled is the exact ECE numerator contribution. One map-side
    # combinable groupBy on <= 10 keys.
    from sutro_spark.operators.metrics import calibration_bins

    return calibration_bins(_eval_preds_conf(spark, sf_dir))


def q_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one-row expected calibration error: sum of exact integer bin
    # gaps, divided ONCE by 1000*N — no per-bin float ratios summed.
    from sutro_spark.operators.metrics import calibration_ece

    return calibration_ece(_eval_preds_conf(spark, sf_dir))


def q_classify_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the closed loop a training-data pipeline actually runs: classify
    # (U3) with cumulative_logprobs carried through -> engine-exact
    # integer-milli confidence (results.confidence_milli harmonic
    # squash — one multiply, one truncating cast, one integer div; exp
    # would break oracle bit-parity) -> judged against doc_id-keyed
    # gold -> reliability diagram. Template confidence finally feeds
    # the calibration machinery instead of living beside it.
    from sutro_spark.operators.metrics import calibration_bins
    from sutro_spark.operators.results import confidence_milli

    docs = _t(spark, sf_dir, "documents")
    out = confidence_milli(classify(docs, CLASSES, "text", include_logprobs=True))
    gold = F.element_at(
        F.array(*[F.lit(c) for c in CLASSES]),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    preds = out.select(
        gold.alias("label"),
        F.col("classification").alias("pred"),
        "conf_milli",
    )
    return calibration_bins(preds)


def q_keyword_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    # blocklist tagging over documents: total/distinct term hits +
    # threshold flag. Term list is small, so this takes the in-scan
    # higher-order-function path — zero joins, zero shuffles.
    from sutro_spark.functions.text import keyword_hits

    return keyword_hits(
        _t(spark, sf_dir, "documents"),
        ["slow", "legacy", "spam", "merge", "hash"],
        threshold=3,
    )


def q_rollup_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    # materialized-view maintenance: per-priority (n, cents) rollup of
    # a base snapshot (orders with o_orderkey % 5 != 0), updated by a
    # CDC delta (inserts: % 5 == 0; deletes: % 7 == 0 of the base)
    # WITHOUT re-reading the base corpus — work is O(|delta| + |keys|).
    # The oracle recomputes the merged corpus directly; equality is the
    # proof the incremental path is exact.
    from sutro_spark.operators.cdc import incremental_rollup

    orders = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    base = orders.where(F.col("o_orderkey") % 5 != 0)
    rollup = base.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(cents).cast("long").alias("cents"),
    )
    inserts = orders.where(F.col("o_orderkey") % 5 == 0).select(
        "o_orderpriority", cents.alias("v"), F.lit(1).alias("op")
    )
    deletes = base.where(F.col("o_orderkey") % 7 == 0).select(
        "o_orderpriority", cents.alias("v"), F.lit(-1).alias("op")
    )
    changes = inserts.unionByName(deletes)
    return incremental_rollup(
        rollup, changes, ["o_orderpriority"], {"cents": "v"}
    ).orderBy("o_orderpriority")


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # BM25 ranked retrieval: three fixed term queries over documents,
    # top-10 each. Query terms are filtered INSIDE the scan (literal-
    # array HOF, keyword_hits idiom), so the only token-volume shuffle
    # is the matched-postings groupBy; scoring is exact integer
    # arithmetic (rational idf surrogate — see bm25_topk docstring).
    from sutro_spark.functions.text import bm25_topk

    return bm25_topk(
        _t(spark, sf_dir, "documents"),
        [(1, ["spark", "join"]),
         (2, ["vector", "hash", "stream"]),
         (3, ["customer", "window"])],
        k=10,
    )


def q_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Hybrid lexical+semantic retrieval: the SAME three BM25 term
    # queries as q_bm25_topk fused (reciprocal-rank, Cormack 2009)
    # with each query id's exact cosine top-10 over the embeddings
    # table — the standard two-tower curation composition. Fusion is
    # exact-integer (lcm(61..70) scaling), touches only the two
    # top-10 lists, and its shuffle is O(queries x k) regardless of
    # corpus size; the oracle replays BOTH retrievers and the fusion
    # arithmetic verbatim in SQL.
    from sutro_spark.functions.text import bm25_topk
    from sutro_spark.operators.retrieval import rrf_fuse
    from sutro_spark.operators.similarity import brute_force_topk

    lex = bm25_topk(
        _t(spark, sf_dir, "documents"),
        [(1, ["spark", "join"]),
         (2, ["vector", "hash", "stream"]),
         (3, ["customer", "window"])],
        k=10,
    ).select("query_id", "doc_id", "rank")
    emb = _t(spark, sf_dir, "embeddings")
    sem = brute_force_topk(
        emb, emb.where(F.col("vec_id").isin(1, 2, 3)), k=10
    ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rank")
    return rrf_fuse([lex, sem], k_const=60, rank_cap=10, k=10)


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # MMR diversification of a retrieval list: cosine top-8 candidates
    # per query (vec_ids 1-3), then 4 greedy picks trading relevance
    # (linear rank decay, integer micro-units) against max similarity
    # to the already-picked set at lambda=1/2. The oracle unrolls all
    # four greedy steps as chained CTEs over the same integer
    # arithmetic — proving the checkpointed selection loop computes
    # exactly the greedy recurrence (pagerank's unrolled-CTE
    # discipline applied to subset selection).
    from sutro_spark.operators.retrieval import mmr_rerank
    from sutro_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    cand = brute_force_topk(
        emb, emb.where(F.col("vec_id").isin(1, 2, 3)), k=8
    ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rank")
    return mmr_rerank(
        cand, emb, k=4, rank_cap=8, lam=(1, 2)
    ).orderBy("query_id", "mmr_rank")


def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Content-defined chunking: boundaries where the (prev, word)
    # pair-hash % 8 == 0 — chunk identity survives prefix/infix edits
    # (unlike fixed-offset chunk_text), making chunk_hash equality a
    # shift-robust near-dup signal. max_words=16 exercises the
    # relational post-split (sub_seq) that bounds worst-case chunks.
    from sutro_spark.functions.text import content_chunks

    return content_chunks(
        _t(spark, sf_dir, "documents"), divisor=8, max_words=16
    )


def q_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Multi-rater chance-corrected agreement: three synthetic raters
    # per document (category = (doc_id * (rater+2)) % 3, rebuilt
    # verbatim by the oracle), Fleiss' kappa as one IEEE division of
    # exact BIGINT rationals — the >2-rater complement of eval_kappa.
    from sutro_spark.operators.metrics import fleiss_kappa

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("item")
    )
    rated = docs.select(
        "item",
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("rater"),
    ).select(
        "item",
        "rater",
        F.element_at(
            F.array(F.lit("a"), F.lit("b"), F.lit("c")),
            ((F.col("item") * (F.col("rater") + 2)) % 3 + 1).cast("int"),
        ).alias("category"),
    )
    return fleiss_kappa(rated)


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Quantized Flesch reading-ease per doc: word/sentence/vowel-group
    # counts as in-scan expressions, two milli floor-divisions — the
    # C4/Gopher-style readability gate, map-only at any scale.
    from sutro_spark.functions.text import readability_profile

    return readability_profile(_t(spark, sf_dir, "documents")).orderBy(
        "id"
    )


def q_hamilton_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact-size proportional eval-set draw: 137 documents allocated
    # across sources by largest-remainder (Hamilton), picks ranked by
    # the sha content hash — stratified_sample's binomial size made
    # exact. Pure integer allocation, fully deterministic.
    from sutro_spark.functions.sampling import hamilton_allocation

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return hamilton_allocation(docs, "source", "doc_id", 137).orderBy(
        "doc_id"
    )


def q_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LOSSLESS Jaccard join at 850 milli by AllPairs prefix filtering:
    # unlike minhash_lsh/ngram_jaccard (recall < 1 by design), every
    # qualifying pair is guaranteed found — the certifiably-complete
    # dedup path. All arithmetic integer-exact. Every-10th-doc slice:
    # the synthetic corpus is dup-group-dense, and qualifying pairs
    # (real output, not overhead) grow quadratically within groups —
    # the slice keeps the [Q]/bench cost pair-bounded.
    from sutro_spark.operators.dedup import prefix_filter_pairs

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 10 == 0)
    return prefix_filter_pairs(docs, threshold_milli=850).orderBy(
        "id_a", "id_b"
    )


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 12-core of the part co-purchase graph: 5 bounded peel rounds
    # (round 5 is the fixed point at sf0.01, so converged = true and
    # the result IS the core, which the unrolled 5-round oracle
    # reproduces exactly). Honesty: converged=false would mean budget
    # exhausted mid-peel.
    from sutro_spark.operators.cluster import kcore

    li = (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 5 == 0)
        .select("l_orderkey", "l_partkey")
    )
    a = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p1")
    )
    b = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p2")
    )
    edges = a.join(b, "o").where(F.col("p1") < F.col("p2"))
    return kcore(
        edges, k=12, rounds=5, src_column="p1", dst_column="p2"
    ).orderBy("node")


def q_jl_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Johnson-Lindenstrauss 64->16 reduction on every 10th embedding:
    # deterministic sha-derived Rademacher matrix, integer-quantized
    # matmul (associative int64 sums — numpy blocked == DuckDB
    # left-to-right, zero float hazard). Output exploded to
    # (id, j, p) rows for the hash compare.
    from sutro_spark.operators.similarity import jl_project

    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") % 10 == 0)
    proj = jl_project(emb, out_dim=16)
    return proj.select(
        "id", F.posexplode("projected").alias("j", "p")
    ).orderBy("id", "j")


def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Sketch-level set algebra: click-users vs purchase-users overlap
    # from KMV sketches (k=64) — union via lossless sketch merge,
    # intersection/differences by inclusion-exclusion, clamped at 0.
    # Each base estimate is one IEEE division of exact integers.
    from sutro_spark.functions.sketches import kmv_set_estimates

    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("user_id")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id"
    )
    return kmv_set_estimates(clicks, purchases, "user_id", k=64)


def q_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Triangle census of the part co-purchase graph (parts sharing an
    # order, every-5th-order slice): degree-ordered orientation keeps
    # the wedge join sum(outdeg^2)-sized — hub parts can't blow it up.
    # Clustering coefficient = one IEEE division of exact BIGINTs.
    from sutro_spark.operators.cluster import triangle_count

    li = (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 5 == 0)
        .select("l_orderkey", "l_partkey")
    )
    a = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p1")
    )
    b = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p2")
    )
    edges = a.join(b, "o").where(F.col("p1") < F.col("p2"))
    return triangle_count(edges, src_column="p1", dst_column="p2")


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Type-2 SCD build over the events log: per-user event_type
    # episodes with half-open [valid_from, valid_to) validity chains,
    # consecutive re-assertions compressed, version-numbered, single
    # is_current row per user. One Exchange on user_id (all windows
    # share the partitioning).
    from sutro_spark.operators.cdc import scd2_history

    # epoch-seconds longs in and out (repo ts idiom — the hash compare
    # must not see pandas ns-vs-us timestamp resolution); the operator
    # is agnostic over any orderable ts type
    from sutro_spark.streaming.progress import epoch_seconds

    raw = _t(spark, sf_dir, "events")
    ev = raw.select(
        F.col("user_id").alias("entity"),
        epoch_seconds(raw, "ts").cast("long").alias("ts"),
        F.col("event_type").alias("state"),
    )
    return (
        scd2_history(ev)
        .withColumnsRenamed(
            {"valid_from": "valid_from_s", "valid_to": "valid_to_s"}
        )
        .orderBy("entity", "version")
    )


def q_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Missing-data agreement: VARIABLE rater counts per item (2..4,
    # m = 2 + doc_id % 3 — the shape Fleiss excludes and alpha is
    # built for), category = (item * (rater+2)) % 3 rebuilt verbatim
    # by the oracle. Alpha as one IEEE division of exact BIGINTs,
    # per-item fractions made exact by the fixed lcm(1..9) scaling.
    from sutro_spark.operators.metrics import krippendorff_alpha

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("item")
    )
    rated = docs.select(
        "item",
        F.explode(
            F.sequence(F.lit(0), (F.lit(1) + F.col("item") % 3).cast("int"))
        ).alias("rater"),
    ).select(
        "item",
        "rater",
        F.element_at(
            F.array(F.lit("a"), F.lit("b"), F.lit("c")),
            ((F.col("item") * (F.col("rater") + 2)) % 3 + 1).cast("int"),
        ).alias("category"),
    )
    return krippendorff_alpha(rated)


def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Asymmetric near-dup: the smaller doc's shingles >= 60% inside
    # the larger's — catches subset duplicates (quotes, wrapped
    # copies) that the union-normalized Jaccard threshold misses.
    # Same inverted-index plan as ngram_jaccard; raw-division parity.
    from sutro_spark.operators.dedup import containment_pairs

    return containment_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.6
    ).orderBy("id_a", "id_b")


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Novelty vs a reference corpus (every 10th doc): fraction of each
    # document's word trigrams absent from the reference — the
    # memorization/novelty diagnostic. Sub-3-token docs report NULL
    # (no basis), integer-milli rational otherwise.
    from sutro_spark.functions.text import ngram_novelty

    docs = _t(spark, sf_dir, "documents")
    return ngram_novelty(
        docs, docs.where(F.col("doc_id") % 10 == 0), n=3
    ).orderBy("id")


def q_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Corpus vocabulary saturation: Chao1 species estimate +
    # Good-Turing unseen mass over the documents table — the
    # "is more crawl from this source worth it?" statistic. Both
    # doubles are single IEEE divisions of exact BIGINTs.
    from sutro_spark.functions.text import vocab_richness

    return vocab_richness(_t(spark, sf_dir, "documents"))


def q_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Corpus lexical-repetitiveness: Yule's K over the documents
    # table — size-invariant "same page over and over" detector,
    # the cross-document complement of repetition_profile. One IEEE
    # division of exact BIGINTs (10^4*(S2-N))/N^2.
    from sutro_spark.functions.text import yule_k

    return yule_k(_t(spark, sf_dir, "documents"))


def q_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-doc unigram-LM surprisal in floor-log2 bits: the ln()-free
    # perplexity-filter stand-in (CCNet/Gopher role). Exact integer
    # bits via length(bin(N div c)) - 1 == floor(log2(N/c)); output
    # ordered by doc for the hash compare.
    from sutro_spark.functions.text import unigram_surprisal

    return unigram_surprisal(_t(spark, sf_dir, "documents")).orderBy(
        "doc_id"
    )


def q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Batch-inference padding plan: token-length buckets (32/64/128)
    # with exact padded-token totals under bucketed vs naive global
    # batching — the serving-cost lever for the reference's batch-LLM
    # workload. padded_bucket <= padded_global row by row; the gap is
    # the (lower-bound) saving.
    from sutro_spark.operators.packing import length_buckets

    return length_buckets(
        _t(spark, sf_dir, "documents"),
        boundaries=[32, 64, 128],
        batch_size=16,
    )


def q_kmv_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    # KMV mergeability proof (the kmv twin of hll_merge): Spark builds
    # per-(type, day) partial sketches and merges them; the oracle
    # computes the sketch DIRECTLY per type. KMV merge is LOSSLESS
    # (k-smallest of unioned k-smallest == global k-smallest), so the
    # estimates are equal EXACTLY, not approximately.
    from sutro_spark.functions.sketches import kmv_from_partials, kmv_partials

    ev = _t(spark, sf_dir, "events").select(
        F.concat(
            F.col("event_type"), F.lit("|"), F.to_date("ts").cast("string")
        ).alias("gd"),
        "user_id",
    )
    daily = kmv_partials(ev, "gd", "user_id", k=64)
    merged = daily.select(F.split("grp", r"\|")[0].alias("grp"), "h")
    return kmv_from_partials(merged, k=64).orderBy("grp")


def q_precision_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Curation-gate tuning: the least-strict token-count cutoff whose
    # keep-set is >= 90% long documents (label = chars > 200). The
    # qualifying test is the pure-integer 1000*cum_tp >= 900*cum_n —
    # no division until the reported precision_milli.
    from sutro_spark.functions.text import token_count
    from sutro_spark.operators.metrics import precision_threshold

    docs = _t(spark, sf_dir, "documents").select(
        token_count(F.coalesce(F.col("text"), F.lit(""))).alias("score"),
        (F.length(F.coalesce(F.col("text"), F.lit(""))) > 200)
        .cast("long")
        .alias("label"),
    )
    return precision_threshold(docs, target_milli=900)


def q_label_propagate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Cheap supervision over clusters: docs grouped in arithmetic
    # clusters of 10, langs known only for doc_id % 3 == 0; every
    # other member inherits the cluster majority (ties -> smallest
    # label), clusters with no labeled member stay NULL. The operator
    # is the post-dup_clusters labeling step; the arithmetic clusters
    # keep the oracle independent of the CC chain (which dup_clusters
    # already proves).
    from sutro_spark.operators.cluster import propagate_cluster_labels

    docs = _t(spark, sf_dir, "documents")
    assignments = docs.select(
        F.col("doc_id").alias("id"),
        (F.col("doc_id") / 10).cast("long").alias("cluster"),
    )
    labels = docs.where(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").alias("id"), F.col("lang").alias("label")
    )
    return propagate_cluster_labels(assignments, labels).orderBy("id")


def q_histogram_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Distribution drift between snapshots: all orders vs the
    # < 100k-totalprice slice (a truncated tail = real shape change).
    # Exact-integer L1 over equi-width cent histograms on the combined
    # range; drift_milli = 1000 x L1 in [0, 2000] — the ln()-free PSI
    # stand-in that can't cross-libm flake.
    from sutro_spark.functions.stats import histogram_drift

    o = _t(spark, sf_dir, "orders")
    return histogram_drift(
        o, o.where(F.col("o_totalprice") < 100000), "o_totalprice", bins=20
    )


def q_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Sorted-neighborhood ER: customers ranked by name string, each
    # paired with its 3 successors, kept when levenshtein <= 2 —
    # the blocking-free candidate generator (composition of the
    # scale-safe global rank and the rank-bucketed range join).
    from sutro_spark.operators.joins import sorted_neighborhood_pairs

    return sorted_neighborhood_pairs(
        _t(spark, sf_dir, "customer"),
        "c_name",
        "c_custkey",
        window=3,
        max_edit=2,
    ).orderBy("id_a", "id_b")


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Robust outliers: order totals beyond 2 MADs of their
    # priority-group median (k=2 flags a real tail — 178 rows at
    # sf0.01 — where the conventional 3.5 flags none on TPC-H's
    # near-uniform totals; the arithmetic is identical). Exact-integer order statistics via the
    # 2x-median trick (doubled medians are always integers), flag rule
    # multiplied out to a pure BIGINT comparison — zscore_outliers'
    # robust sibling (breakdown point 50% vs 0%).
    from sutro_spark.functions.stats import mad_outliers

    return mad_outliers(
        _t(spark, sf_dir, "orders"),
        "o_totalprice",
        "o_orderpriority",
        "o_orderkey",
        k=(2, 1),
    ).orderBy("grp", "id")


def q_cdc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The purpose of content-defined chunks: shift-robust duplicate
    # passages. Chunks of >= 3 words shared by >= 2 docs, grouped by
    # chunk hash — unlike fixed-offset chunks, a doc that gained a
    # prefix still collides with its original here.
    from sutro_spark.functions.text import content_chunks

    chunks = content_chunks(
        _t(spark, sf_dir, "documents"), divisor=8, max_words=16
    )
    return (
        chunks.where(F.col("n_words") >= 3)
        .groupBy("chunk_hash")
        .agg(
            F.countDistinct("id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.min("id").cast("long").alias("min_doc"),
            F.max("id").cast("long").alias("max_doc"),
        )
        .where(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), "chunk_hash")
    )


def q_kmv_join_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Join-cardinality estimation from constant-state KMV sketches
    # (Beyer 2007 set resemblance + uniform-multiplicity factors),
    # all-integer milli-unit arithmetic, with the exact join count as
    # the in-row honesty column — the pre-join planner evidence
    # (pairs with skew_report: size from here, shape from there).
    from sutro_spark.functions.sketches import kmv_join_estimate

    return kmv_join_estimate(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        "l_orderkey",
        "o_orderkey",
        k=128,
        exact=True,
    )


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Hard-negative mining (DPR-style): each anchor's cosine top-10,
    # minus its labeled positives (arithmetic: anchor q's positives
    # are vec_ids 2q+1 and 3q+2 — rebuilt verbatim by the oracle),
    # renumbered 1..3 hardest-first. One anti-join of two
    # O(queries x k) lists — corpus cost stays in the upstream ANN.
    from sutro_spark.operators.retrieval import hard_negatives
    from sutro_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.where(F.col("vec_id") < 5)
    nb = brute_force_topk(emb, anchors, k=10).select(
        "query_id", F.col("neighbor_id").alias("doc_id"), "rank"
    )
    pos = anchors.select(F.col("vec_id").alias("query_id")).select(
        "query_id",
        F.explode(
            F.array(
                (F.col("query_id") * 2 + 1).cast("long"),
                (F.col("query_id") * 3 + 2).cast("long"),
            )
        ).alias("doc_id"),
    )
    return hard_negatives(nb, pos, n=3).orderBy("query_id", "neg_rank")


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Link-graph centrality at depth: the SAME integer pagerank
    # operator pagerank_suppliers proves at 2 rounds, driven 6 power
    # iterations deep with per-round localCheckpoint lineage cuts —
    # over a deterministic synthetic citation graph (doc i links to
    # (31i+7, 17i+3, 101i+13) mod N, self-loops dropped). The graph
    # is arithmetic so DuckDB rebuilds it verbatim; the oracle unrolls
    # all six iterations as chained CTEs, proving the checkpointed
    # iterative loop computes exactly the closed-form recurrence.
    from sutro_spark.operators.cluster import pagerank

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("src")
    )
    cnt = docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    edges = (
        docs.crossJoin(F.broadcast(cnt))
        .select(
            "src",
            F.explode(
                F.expr(
                    "array((src*31+7) % n, (src*17+3) % n, (src*101+13) % n)"
                )
            ).alias("dst"),
        )
        .where(F.col("dst") != F.col("src"))
    )
    return (
        pagerank(edges, iters=6, checkpoint=True)
        .select("node", F.col("rank").alias("rank_scaled"))
        .orderBy("node")
    )


def q_ffd_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Whole-document context packing: blocked first-fit-decreasing
    # (Ding et al. 2024's no-truncation packing; FFD is the classic
    # 11/9*OPT+6/9 heuristic). Global (n_tokens desc, id) rank via the
    # scale-safe with_row_id (range exchange + parallel windows, never
    # Exchange SinglePartition), then 64-doc blocks pack independently
    # in one bounded applyInPandas. The oracle REPLAYS first-fit in a
    # recursive CTE carrying the open-bin fill list as row state —
    # assignment parity is bit-for-bit. Docs over budget flag (-1,-1).
    from sutro_spark.operators.packing import ffd_pack

    docs = _t(spark, sf_dir, "documents")
    return ffd_pack(docs, budget=96, group_size=64).orderBy(
        "grp", "bin", "doc_id"
    )


def q_ffd_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the packing honesty number: bin count vs the ceil(total/budget)
    # lower bound, zero-overflow and half-empty checks (first-fit
    # guarantees at most ONE bin <= budget/2 per independent block —
    # two half-empty bins would have merged), integer per-mille fill.
    from sutro_spark.operators.packing import ffd_pack, ffd_stats

    docs = _t(spark, sf_dir, "documents")
    return ffd_stats(ffd_pack(docs, budget=96, group_size=64), budget=96)


def q_mg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Mergeable Misra-Gries heavy hitters (Agarwal et al., PODS 2012):
    # 8 deterministic row-hash buckets, each MG-truncated to k=4
    # counters (subtract the (k+1)-th largest — the closed-form MG
    # summary of a known multiset), folded left-to-right in bucket
    # order. The stream key is event_id's lowest set bit — an exact
    # power-law (key 2^j has ~n/2^(j+1) occurrences) both engines
    # derive arithmetically, so the sketch is exercised on genuine
    # skew. Underestimates only, total error <= n/(k+1) over ANY
    # merge tree; complements cms_heavy_hitters (overestimates only).
    from sutro_spark.functions.sketches import mg_heavy_hitters

    ev = _t(spark, sf_dir, "events").withColumn(
        "skew_key", F.expr("event_id & -event_id")
    )
    return (
        mg_heavy_hitters(ev, "skew_key", "event_id", k=4, buckets=8)
        .select("key", F.col("est").alias("est_count"))
        .orderBy(F.desc("est_count"), "key")
    )


def q_mg_guarantee(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the sketch's honesty row: join the folded summary to exact
    # counts; every estimate must underestimate, and the worst
    # underestimate (absent keys read 0) must stay within n/(k+1) —
    # the Agarwal et al. 2012 mergeability bound, which holds for any
    # merge tree; the fold order only fixes WHICH valid summary.
    from sutro_spark.functions.sketches import mg_heavy_hitters

    k = 4
    ev = _t(spark, sf_dir, "events").withColumn(
        "skew_key", F.expr("event_id & -event_id")
    )
    summary = mg_heavy_hitters(ev, "skew_key", "event_id", k=k, buckets=8)
    exact = (
        ev.where(F.col("skew_key").isNotNull())
        .select(F.col("skew_key").cast("string").alias("key"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).cast("long").alias("n_true"))
    )
    joined = exact.join(F.broadcast(summary), "key", "left").select(
        "n_true", F.coalesce(F.col("est"), F.lit(0)).alias("est")
    )
    return joined.agg(
        F.lit(k).cast("long").alias("k"),
        F.sum("n_true").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(F.when(F.col("est") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_summary"),
        F.max(F.col("n_true") - F.col("est")).cast("long").alias("max_underest"),
        (F.max(F.col("est") - F.col("n_true")) <= 0).alias("no_overestimate"),
    ).select(
        "k",
        "n_total",
        "n_keys",
        "n_summary",
        F.expr(f"n_total div {k + 1}").alias("bound"),
        "max_underest",
        "no_overestimate",
        (F.col("max_underest") <= F.expr(f"n_total div {k + 1}")).alias(
            "within_bound"
        ),
    )


def q_weighted_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the weighted pairs plugged into the established dedup tail:
    # transitive closure (large-star/small-star CC) + highest-quality
    # survivor per cluster — same keep_best discipline as winnow_dedup
    # and dedup_keep_best, now keyed on multiset evidence at the 0.3
    # merge bar (the synthetic corpus's true near-dup pairs sit far
    # above it; chance shingle overlap sits far below).
    from sutro_spark.functions.text import quality_score
    from sutro_spark.operators.cluster import keep_best
    from sutro_spark.operators.dedup import weighted_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = weighted_jaccard_pairs(
        docs, k=8, threshold=0.3, max_df=100
    ).select("id_a", "id_b")
    return keep_best(
        docs, pairs, quality_score(F.coalesce(F.col("text"), F.lit("")))
    )


def q_wordpiece_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # WordPiece greedy longest-match-first segmentation (Devlin et al.
    # 2019; Schuster & Nakajima 2012) under a frequency-induced
    # 64-piece vocab + char fallback — the OTHER production tokenizer
    # family next to the learned BPE merges. Runs on the DISTINCT-WORD
    # table (corpus size stops mattering after one tokenize+count
    # shuffle); the walk is one Arrow-batched UDF with the vocab
    # broadcast; the oracle replays it as a recursive CTE over a
    # precomputed longest-match step table — bit-for-bit parity.
    from sutro_spark.operators.wordpiece import wordpiece_segment

    docs = _t(spark, sf_dir, "documents")
    return wordpiece_segment(docs, top=64).orderBy("w")


def q_wordpiece_subwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the bpe_vocab-shaped usage report: top-20 pieces by weighted
    # occurrences in the SEGMENTED corpus — evidence the greedy walk
    # actually reuses the induced pieces (ties -> smaller piece).
    from sutro_spark.operators.wordpiece import wordpiece_subwords

    docs = _t(spark, sf_dir, "documents")
    return wordpiece_subwords(docs, top=64, report_top=20)


#: deterministic per-script injections for q_script_gate: (modulus,
#: snippet). Single source of truth for Spark AND the oracle — every
#: char is inside its SCRIPT_CLASSES BMP block, so both engines count
#: identically. Base text is truncated to 60 chars so the minority
#: scripts can push the dominant ratio under the gate threshold and
#: the mixed flag fires non-vacuously.
_SCRIPT_GATE_INJECT = [
    (5, " привет мир"
        " привет мир"),  # ru x2
    (9, " 你好世界你好世界"),  # zh x2
    (7, " مرحبا"
        " بالعالم"),  # ar
    (11, " नमस्ते"),  # hi
    (13, " 안녕하세요"),  # ko
    (17, " γεια σου"
         " κόσμε"),  # el
    (19, " שלום עולם"),  # he
    (23, " สวัสดี"
         "ชาวโลก"),  # th
]


def q_script_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Full multilingual script gate (r13, VERDICT #4): all nine
    # SCRIPT_CLASSES counted per doc by regexp-strip arithmetic (pure
    # projection — zero joins/shuffles, stream-safe), dominant script
    # with the FIXED class-order tie-break, exact integer dominant
    # milli ratio, and the mixed anomaly flag (dominant < 800 per
    # mille of letters -> route to language-ID review). Input rebuilt
    # deterministically in both engines from _SCRIPT_GATE_INJECT.
    from sutro_spark.functions.text import script_gate

    docs = _t(spark, sf_dir, "documents")
    # every 25th doc keeps only 10 base chars so its injections DOMINATE
    # — exercises the non-latin dominant branches, not just the flag
    ct = F.expr(
        "substring(coalesce(text, ''), 1,"
        " CASE WHEN doc_id % 25 = 0 THEN 10 ELSE 60 END)"
    )
    for mod, snip in _SCRIPT_GATE_INJECT:
        ct = F.concat(
            ct,
            F.when(F.col("doc_id") % mod == 0, F.lit(snip)).otherwise(
                F.lit("")
            ),
        )
    return script_gate(
        docs.select("doc_id", ct.alias("text")), dominant_threshold_milli=800
    ).orderBy("id")


def q_unigram_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cross-corpus tokenizer application (the production shape: train
    # once, apply to every later shard) — and the [Q] proof of the UNK
    # path: the apply corpus uppercases vowels, chars the induction
    # never saw, so the Laplace-count-1 fallback (cost ml(T')) fires
    # mid-word; n_unk per word is the drift signal. The oracle runs
    # one more Viterbi pass whose l=1 slot coalesces to the unk cost.
    from sutro_spark.operators.unigram import unigram_apply

    docs = _t(spark, sf_dir, "documents")
    shifted = docs.select(
        "doc_id",
        F.translate(F.col("text"), "aeiou", "AEIOU").alias("text"),
    )
    return unigram_apply(docs, shifted, seed_top=48, target=24).orderBy("w")


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Population Stability Index — the industry drift score
    # histogram_drift's docstring used to declare ln()-bound; closed
    # with the unigram milli-log2 surrogate so the whole score is
    # BIGINT in both engines (Laplace +1 per observed bin, base-2
    # thresholds as integer nano literals). Same fixture as
    # histogram_drift: all orders vs the truncated-tail slice.
    from sutro_spark.functions.stats import psi_drift

    o = _t(spark, sf_dir, "orders")
    return psi_drift(
        o, o.where(F.col("o_totalprice") < 100000), "o_totalprice", bins=20
    )


def q_psi_drift_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-group PSI in ONE pass (per-priority price stability — the
    # per-source/per-language drift monitor a curation pipeline
    # wants): the qdigest_by_group discipline applied to psi_drift —
    # per-group bin ranges from one broadcast meta aggregate, every
    # count keyed on (group, bin), same milli-log2 integer surrogate,
    # zero collects. Same fixture as psi_drift, split by priority.
    from sutro_spark.functions.stats import psi_drift_grouped

    o = _t(spark, sf_dir, "orders")
    return psi_drift_grouped(
        o,
        o.where(F.col("o_totalprice") < 100000),
        "o_orderpriority",
        "o_totalprice",
        bins=20,
    ).orderBy("o_orderpriority")


def q_psi_drift_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # PSI under equal-mass REFERENCE bins (binning='quantile') — the
    # industry convention equi-width binning fails on heavy tails
    # (one outlier stretches the range until the body sits in one bin
    # and real shifts score ~zero; pytest pins the divergence). Edges
    # are EXACT ceil(j*n/20) order statistics of the reference cents
    # from the distinct-value cumsum (span-free, unlike a fine
    # histogram), searchsorted in-plan; the Laplace/milli-log2 finish
    # is byte-shared with psi_drift. Same fixture as psi_drift so the
    # two [Q]s adjudicate the binning rules against each other.
    from sutro_spark.functions.stats import psi_drift

    o = _t(spark, sf_dir, "orders")
    return psi_drift(
        o,
        o.where(F.col("o_totalprice") < 100000),
        "o_totalprice",
        bins=20,
        binning="quantile",
    )


def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the QA gate AFTER a split is chosen: duplicate pairs counted by
    # (canonical) split pair — cross-split pairs ARE eval leakage, the
    # hole a per-doc hash split leaves open and leakage_safe_split
    # closes by construction. The sf tables carry no exact-duplicate
    # texts (r14's [Q] returned 0 rows — a trivially-matching oracle),
    # so the fixture SEEDS duplicates: every doc_id % 7 == 0 doc's text
    # collapses to one of 13 shared seeds, giving ~duplicate groups of
    # 5+ members that a per-doc 2/1/1 hash split provably scatters
    # across splits — leaked=true rows exist at every sf. The split
    # drops doc_id % 97 == 0 (doc 0 is a seeded rep) so the
    # __unassigned__ no-silent-caps leg is exercised, never dropped.
    from sutro_spark.functions.sampling import hash_split
    from sutro_spark.operators.cluster import split_leakage_audit
    from sutro_spark.operators.dedup import normalize_text

    docs = _t(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit("dup seed "), (F.col("doc_id") % 13).cast("string")
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    hashed = seeded.select(
        "doc_id", F.sha2(normalize_text(F.col("text")), 256).alias("h")
    )
    rep = hashed.withColumn(
        "rep", F.min("doc_id").over(Window.partitionBy("h"))
    )
    pairs = rep.where(F.col("doc_id") != F.col("rep")).select(
        F.col("rep").alias("id_a"), F.col("doc_id").alias("id_b")
    )
    assignments = hash_split(
        docs.where(F.col("doc_id") % 97 != 0).select("doc_id"),
        "doc_id",
        {"train": 2, "val": 1, "test": 1},
    )
    return split_leakage_audit(pairs, assignments).orderBy(
        "split_a", "split_b"
    )


def q_adaptive_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # MG-sketch-driven skew salting: one bounded Misra–Gries pass
    # picks the heavy join keys (guaranteed to include every key with
    # share > 1/(k+1)); ONLY those rows salt and ONLY their dim rows
    # replicate — B·|heavy| extra rows instead of plain salting's
    # B·|small|. The result is invariant (each row meets exactly one
    # replica), so the oracle is the PLAIN join — correctness of the
    # adaptive machinery is exactly result-equality.
    from sutro_spark.functions.skew import adaptive_salted_join

    li = _t(spark, sf_dir, "lineitem")
    fact = li.select(
        F.expr(
            "CASE WHEN l_linenumber >= 3 THEN CAST(0 AS BIGINT)"
            " ELSE CAST(l_partkey % 50 AS BIGINT) END"
        ).alias("k"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    dim = spark.range(0, 50).select(
        F.col("id").alias("k"),
        F.concat(F.lit("g"), (F.col("id") % 5).cast("string")).alias(
            "label"
        ),
    )
    joined = adaptive_salted_join(fact, dim, "k", buckets=8, k=8)
    return (
        joined.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("qty").cast("long").alias("total_qty"),
        )
        .orderBy("label")
    )


def q_bq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # binary quantization + Hamming scan + exact rescore: the cheapest
    # rung of the SQ(int8)/PQ/IVF ladder (32x compression; candidate
    # generation is xor+popcount inside whole-stage codegen, zero
    # Python). Mean-centered sign bits (exact integer thresholds, the
    # floored-div spelled out — Spark div truncates, DuckDB // floors)
    # keep all-positive spaces from collapsing to all-ones codes.
    from sutro_spark.operators.similarity import bq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return bq_topk(
        emb, emb.where(F.col("vec_id") < 5), k=3, rescore_multiple=4
    ).orderBy("query_id", "rank")


def q_bq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # honesty metric for the binary-quantized path (recall trilogy
    # member): BQ top-3 after exact rescore vs brute-force cosine
    # top-3 — measures what the Hamming proxy's candidate generation
    # loses at rescore_multiple=4 (the lever bq_topk documents).
    from sutro_spark.operators.metrics import candidate_recall
    from sutro_spark.operators.similarity import bq_topk, brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, queries, k=3)
    approx = bq_topk(emb, queries, k=3, rescore_multiple=4)
    return candidate_recall(exact, approx, keys=("query_id", "neighbor_id"))


def q_ivf_bq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # binary-quantized codes INSIDE IVF buckets — the memory-bound
    # 100-TB serving composition (faiss IndexBinaryIVF + refine): IVF
    # kmeans routing prunes the corpus to nprobe=2 of 8 buckets, the
    # within-bucket scan is xor+popcount Hamming over two-BIGINT codes
    # (32x compression, zero Python, no codebook join), exact-cosine
    # rescore of the 4k shortlist restores precision. The oracle
    # splices the kmeans routing + BQ codes + Hamming + rescore chains.
    from sutro_spark.operators.similarity import ivf_bq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_bq_topk(
        emb,
        emb.where(F.col("vec_id") < 5),
        k=3,
        coarse_k=8,
        coarse_iters=2,
        nprobe=2,
        rescore_multiple=4,
    ).orderBy("query_id", "rank")


def q_ivf_bq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # honesty probe for the IVF+BQ composition: what the bucket prune
    # AND the Hamming proxy together lose vs brute-force cosine top-3
    # — comparable at matched candidate budget against bq_recall (no
    # prune) and ivf_recall/ivfpq recall rows (same routing, ADC scan).
    from sutro_spark.operators.metrics import candidate_recall
    from sutro_spark.operators.similarity import (
        brute_force_topk,
        ivf_bq_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, queries, k=3)
    approx = ivf_bq_topk(
        emb, queries, k=3, coarse_k=8, coarse_iters=2, nprobe=2,
        rescore_multiple=4,
    )
    return candidate_recall(exact, approx, keys=("query_id", "neighbor_id"))


def q_ivf_bq_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    # incremental ANN index maintenance (operators/similarity.py
    # ivf_bq_index/ivf_bq_route/ivf_bq_append): build the bucketed
    # code table on the base slice (vec_id % 4 != 0), then route the
    # held-out quarter into the FROZEN centroids/thresholds — the
    # 100-TB index you can afford to update (append reads only the
    # new batch + one id-guard scan; a rebuild re-reads the corpus).
    # The proof is cross-engine: Spark APPENDS incrementally, the
    # oracle REBUILDS from scratch at the same frozen parameters
    # (kmeans + thresholds trained on base, every vector assigned/
    # encoded against them) — driver hash-equality IS append==rebuild.
    from sutro_spark.operators.similarity import ivf_bq_append, ivf_bq_index

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 4 != 0)
    new = emb.where(F.col("vec_id") % 4 == 0)
    index, cents, thr = ivf_bq_index(base, coarse_k=8, coarse_iters=2)
    return ivf_bq_append(index, new, cents, thr).orderBy("id")


def q_ivf_routing_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the staleness monitor for a frozen IVF quantizer: bucket
    # occupancy of the appended batch vs the build snapshot as
    # categorical PSI (cluster id AS the bin — psi_drift's Laplace +
    # milli-log2 integer surrogate verbatim), plus raw micro shares
    # per bucket. 'major' band = new mass crowds few buckets = the
    # rebuild trigger ivf_bq_append's docstring states. Same fixture
    # as ivf_bq_append; the same-distribution quarter lands 'stable'.
    from sutro_spark.operators.similarity import (
        ivf_bq_index,
        ivf_bq_route,
        ivf_routing_balance,
    )

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 4 != 0)
    new = emb.where(F.col("vec_id") % 4 == 0)
    index, cents, thr = ivf_bq_index(base, coarse_k=8, coarse_iters=2)
    routed = ivf_bq_route(new, cents, thr)
    return ivf_routing_balance(index, routed).orderBy("cluster")


def q_unigram_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-language tokenizer fertility (Rust et al. 2021): pieces per
    # word (milli) + pieces per 1000 chars under ONE corpus-trained
    # unigram vocab — the eval that decides vocab size / language
    # mixture before a run. Exact integers; one extra map-side-
    # combinable shuffle; the join stays on the distinct-word table.
    from sutro_spark.operators.unigram import unigram_fertility

    docs = _t(spark, sf_dir, "documents")
    return unigram_fertility(
        docs, "text", "lang", seed_top=48, target=24
    ).orderBy("grp")


#: the deterministic messy-URL fixture for q_url_canonical: six
#: shapes per doc_id % 6 — tracking params + default port + fragment +
#: uppercase host; clean; not-a-URL; double trailing slash + :443 +
#: fbclid; hash-routed SPA URL whose ONLY '?' lives inside the
#: fragment (the r13-advice leak case — fragment content must NOT
#: become a query); query + a fragment that itself contains '?'.
#: One literal both engines rebuild.
_URL_FIXTURE_CASE = (
    "CASE CAST(doc_id % 6 AS INT)"
    " WHEN 0 THEN concat('HTTP://WWW.', upper(source), '.COM:80/',"
    " lang, '/page/', CAST(doc_id AS STRING), '/?utm_source=feed&b=',"
    " CAST(doc_id % 5 AS STRING), '&a=1#frag')"
    " WHEN 1 THEN concat('https://www.', source, '.com/', lang,"
    " '/page/', CAST(doc_id AS STRING))"
    " WHEN 2 THEN concat('not-a-url-', CAST(doc_id AS STRING))"
    " WHEN 3 THEN concat('https://Www.', source, '.com:443/', lang, '//',"
    " '?fbclid=x&z=9&a=2')"
    " WHEN 4 THEN concat('https://app.', source, '.com/#/route?id=',"
    " CAST(doc_id % 7 AS STRING), '&utm_x=1')"
    " ELSE concat('http://', source, '.com/p?b=2&utm_id=9#sec?x=',"
    " CAST(doc_id % 3 AS STRING)) END"
)


def q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    # URL canonicalization — the dedup-key normalizer every CC-style
    # crawl pipeline runs before exact URL dedup: lowercase scheme/
    # host, default ports + fragments stripped, trailing slashes
    # folded, tracking params dropped and the surviving query SORTED.
    # Pure regex/HOF projection, zero shuffles, stream-safe; rows
    # without a scheme://host shape pass through with is_url=false,
    # never silently rewritten.
    from sutro_spark.functions.web import canonical_url

    docs = _t(spark, sf_dir, "documents")
    url = F.expr(_URL_FIXTURE_CASE)
    return canonical_url(docs.select("doc_id", url.alias("url"))).orderBy(
        "id"
    )


#: the deterministic multi-label-suffix host fixture for q_psl_domain:
#: eight shapes per doc_id % 8 — classic .co.uk; mixed-case .COM.AU;
#: plain .com (the default rule); a deeper .ac.jp subdomain; a BARE
#: public suffix (no registered domain exists — must yield '');
#: the deepest 3-label snapshot suffix (pvt.k12.ma.us); a
#: private-section suffix NOT in the ICANN snapshot (github.io —
#: documents the stated snapshot boundary: resolves under the .io
#: default rule); empty. One literal both engines rebuild.
_PSL_FIXTURE_CASE = (
    "CASE CAST(doc_id % 8 AS INT)"
    " WHEN 0 THEN concat('www.', source, '.co.uk')"
    " WHEN 1 THEN concat('News.', upper(source), '.COM.AU')"
    " WHEN 2 THEN concat(source, CAST(doc_id % 7 AS STRING), '.com')"
    " WHEN 3 THEN concat('a.b.', source, '.ac.jp')"
    " WHEN 4 THEN 'co.uk'"
    " WHEN 5 THEN concat(source, '.pvt.k12.ma.us')"
    " WHEN 6 THEN concat('www.', source, '.github.io')"
    " ELSE '' END"
)


def _psl_in(k: int) -> str:
    """SQL IN-list of the k-label public-suffix snapshot — the SAME
    Python tuples web.registered_domain probes, so both engines share
    one source of truth for the suffix set."""
    from sutro_spark.functions.web import _PSL_2, _PSL_3, _PSL_4

    tup = {2: _PSL_2, 3: _PSL_3, 4: _PSL_4}[k]
    if not tup:  # an empty IN () is a parse error, and IN ('') would
        # falsely match the n<k sentinel '' — fail loudly instead
        raise ValueError(f"PSL snapshot tier {k} is empty")
    return ", ".join(f"'{s}'" for s in tup)


def q_psl_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    # public-suffix-aware eTLD+1 (the r13-verdict registered_domain
    # fix): longest-suffix match against the bundled PSL snapshot so
    # co.uk/com.au/ac.jp families do NOT collapse into one dedup key,
    # bare public suffixes yield '' (no registered domain), and
    # out-of-snapshot private suffixes (github.io) resolve under the
    # default rule — the documented boundary. Pure Catalyst: label
    # split + constant-folded literal IN-probes, zero joins/shuffles.
    from sutro_spark.functions.web import registered_domain

    docs = _t(spark, sf_dir, "documents")
    host = F.expr(_PSL_FIXTURE_CASE)
    return docs.select(
        F.col("doc_id").alias("id"),
        host.alias("host"),
        registered_domain(host).alias("domain"),
    ).orderBy("id")


def q_hadamard_rotate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # OPQ-lite structured rotation (Ge et al. 2013's goal, the
    # Fast-JL/QuickADC Hadamard mechanism): h(i,j) = (-1)^popcount(i&j)
    # is a ±1 integer matrix with H·Hᵀ = d·I, so exact-L2 top-k is
    # preserved while PQ subspaces see balanced energy — the rotation
    # SCALING.md names as the codebook lever for correlated
    # embeddings. Every rotated component is an exact integer
    # (bit_count + sum over the quantized centered vector), zero
    # shuffles, O(d²) per row JVM-side. The driver contract requires
    # scalar top-level columns (its canonicalizer can't sort an
    # array<bigint>), so the [Q] posexplodes rvec into one
    # (id, pos, component) row per component — values unchanged.
    from sutro_spark.operators.pq import hadamard_rotate_q

    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 40)
    rot = hadamard_rotate_q(emb, dim=64)
    return rot.select(
        "id", F.posexplode("rvec").alias("pos", "component")
    ).withColumn("pos", F.col("pos").cast("long")).orderBy("id", "pos")


def q_qdigest_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-group q-digests in ONE pass (per-priority price quantiles —
    # the per-source/per-language shape a curation pipeline needs):
    # group key threaded through the whole compression, per-group
    # floor(n_g/k) thresholds carried as a COLUMN from a broadcast
    # meta table (zero driver scalars), and the quantile cumsum
    # windows PARTITION BY group — no single-partition sort anywhere.
    from sutro_spark.functions.sketches import (
        qdigest_build_grouped,
        qdigest_quantiles_grouped,
    )

    orders = _t(spark, sf_dir, "orders")
    vals = orders.select(
        F.col("o_orderpriority").alias("grp"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT) div 64").alias(
            "v"
        ),
    )
    dig = qdigest_build_grouped(vals, "grp", "v", bits=20, k=32)
    return qdigest_quantiles_grouped(dig, bits=20).orderBy("grp", "q_milli")


def q_luhn_cards(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Luhn-validated payment-card PII (ISO/IEC 7812): the redact_pii
    # family member where a bare regex is NOT enough — most 13-19
    # digit runs are order ids, and scrubbing them destroys data; only
    # checksum-valid runs redact. Candidates + checksum + redaction
    # fold are all integer/string HOF arithmetic: zero joins, zero
    # shuffles, zero Python — scan-speed. Deterministic injections
    # (valid card / invalid card / short run) both engines rebuild.
    from sutro_spark.functions.text import card_hits

    docs = _t(spark, sf_dir, "documents")
    ct = F.concat(
        F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 40),
        F.when(
            F.col("doc_id") % 6 == 0, F.lit(" card 4539578763621486")
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 8 == 0, F.lit(" ref 4539578763621487")
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 9 == 0, F.lit(" pan 4111111111111111 x")
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 10 == 0, F.lit(" id 123456789012")).otherwise(
            F.lit("")
        ),
    )
    return (
        card_hits(docs.select("doc_id", ct.alias("text")))
        .select(
            F.col("doc_id").alias("id"),
            "n_card_candidates",
            "n_valid_cards",
            "has_card",
            "redacted",
        )
        .orderBy("id")
    )


def _qdigest_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    # order prices in 64-cent units: < 2^20, so bits=20 covers the
    # universe (the build raises loudly on out-of-range, never folds)
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT) div 64").alias("v")
    )


def q_qdigest_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # q-digest (Shrivastava et al. 2004): the QUANTILE member of the
    # mergeable-sketch family next to KMV/HLL (distinct), CMS (over-
    # counts), MG (under-counts) — deterministic bounded-space rank
    # queries where the fixed-bin histogram needs a-priori widths.
    # One corpus groupBy(value), then every table is <= min(distinct,
    # 2^bits) rows; compression is 20 bounded set-algebra levels; the
    # oracle unrolls them CTE-for-CTE (the _mg_sql fold discipline),
    # so the digest — not just the answers — matches bit-for-bit.
    from sutro_spark.functions.sketches import (
        qdigest_build,
        qdigest_quantiles,
    )

    vals = _qdigest_values(spark, sf_dir)
    dig = qdigest_build(vals, "v", bits=20, k=64)
    return qdigest_quantiles(dig, bits=20).orderBy("q_milli")


def q_qdigest_guarantee(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the bound-honesty row (mg_guarantee discipline): every reported
    # quantile's EXACT rank error vs the paper's bits*n/k guarantee.
    from sutro_spark.functions.sketches import (
        qdigest_build,
        qdigest_quantiles,
    )

    vals = _qdigest_values(spark, sf_dir)
    dig = qdigest_build(vals, "v", bits=20, k=64)
    q = qdigest_quantiles(dig, bits=20)
    ranks = (
        q.join(vals, F.col("v") <= F.col("value"), "left")
        .groupBy("q_milli", "target_rank", "n")
        .agg(F.count("v").cast("long").alias("true_rank"))
    )
    return ranks.agg(
        F.max("n").cast("long").alias("n"),
        F.lit(20).cast("long").alias("bits"),
        F.lit(64).cast("long").alias("k"),
        F.max(F.abs(F.col("true_rank") - F.col("target_rank")))
        .cast("long")
        .alias("max_abs_rank_err"),
    ).select(
        "n",
        "bits",
        "k",
        "max_abs_rank_err",
        F.expr("CAST(n * 20 div 64 AS BIGINT)").alias("rank_bound"),
        F.expr("max_abs_rank_err <= n * 20 div 64").alias("bound_ok"),
    )


def _ndcg_fixture(spark: SparkSession, sf_dir: str):
    # deterministic graded qrels + an arithmetic ranking both engines
    # rebuild: 20 queries, 37 items, grades 0..3 (max per pair), ranked
    # list item = (5q + 7r) mod 37 (37 prime -> distinct per query)
    ev = _t(spark, sf_dir, "events")
    judged = ev.select(
        (F.col("user_id") % 20).alias("query_id"),
        (F.col("event_id") % 37).alias("item_id"),
        (F.col("event_id") % 4).cast("long").alias("grade"),
    )
    ranked = (
        judged.select("query_id")
        .distinct()
        .select(
            "query_id",
            F.explode(F.sequence(F.lit(1), F.lit(10))).alias("rank"),
        )
        .select(
            "query_id",
            ((F.col("query_id") * 5 + F.col("rank") * 7) % 37).alias(
                "item_id"
            ),
            "rank",
        )
    )
    return judged, ranked


def q_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NDCG@10 with graded relevance (Järvelin & Kekäläinen 2002) — the
    # ranked-retrieval metric the binary MRR/hit/AP family cannot
    # express. Exact discipline: 2^grade-1 gains via shiftleft, the
    # FIXED micro-discount table embedded as literals in both engines
    # (_ndcg_discounts — the log never runs engine-side), one trailing
    # division; grade>18 raises rather than wrapping.
    from sutro_spark.operators.metrics import ndcg

    judged, ranked = _ndcg_fixture(spark, sf_dir)
    return ndcg(judged, ranked, k=10).orderBy("query")


def q_ndcg_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # corpus verdict: exact-micro mean + the zero-ideal count (queries
    # whose judgments are all grade 0 — counted, never dropped).
    from sutro_spark.operators.metrics import ndcg_summary

    judged, ranked = _ndcg_fixture(spark, sf_dir)
    return ndcg_summary(judged, ranked, k=10)


def q_unigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Unigram-LM (SentencePiece, Kudo 2018) vocabulary induction —
    # completes the production-tokenizer triad next to BPE (learned
    # merges) and WordPiece (greedy longest match). Hard-EM: 48-piece
    # frequency seed + all chars -> Viterbi-segment the distinct-word
    # table -> usage recount -> prune to the 24 best multi pieces ->
    # re-cost. Costs are EXACT integer milli-log2 (piecewise-linear,
    # bit_length-based — no transcendentals), so the oracle's unrolled
    # EM chain replays every DP comparison bit-for-bit. Corpus touched
    # once; only the bounded vocab reaches the driver.
    from sutro_spark.operators.unigram import unigram_vocab

    docs = _t(spark, sf_dir, "documents")
    return unigram_vocab(docs, seed_top=48, target=24).orderBy("piece")


def q_unigram_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Viterbi segmentation under the induced unigram vocabulary: the
    # min-cost piece sequence per distinct word (longest-piece tie
    # break), cost_milli = the word's negative milli-log2 likelihood.
    # One Arrow UDF per EM round over distinct words; the oracle
    # carries the DP's best-cost vector as recursive-CTE list state
    # and re-derives each step's argmin — bit-for-bit parity.
    from sutro_spark.operators.unigram import unigram_segment

    docs = _t(spark, sf_dir, "documents")
    return unigram_segment(docs, seed_top=48, target=24).orderBy("w")


def q_encoding_damage(spark: SparkSession, sf_dir: str) -> DataFrame:
    # mojibake / encoding-damage detection (the ftfy problem class) on
    # DETERMINISTICALLY corrupted input — every 7th doc gets its 'a's
    # double-decoded (UTF-8-as-cp1252 e-acute marker), every 11th doc
    # a trailing U+FFFD — so the detector is exercised non-vacuously
    # and both engines rebuild the damage verbatim (the synthetic-graph
    # precedent). Detector is substitution arithmetic: zero joins,
    # zero shuffles, stream-safe.
    from sutro_spark.functions.text import (
        MOJIBAKE_MARKERS,
        encoding_damage_profile,
    )

    docs = _t(spark, sf_dir, "documents")
    base = F.coalesce(F.col("text"), F.lit(""))
    corrupted = docs.select(
        "doc_id",
        F.concat(
            F.when(
                F.col("doc_id") % 7 == 0,
                F.replace(base, F.lit("a"), F.lit(MOJIBAKE_MARKERS[0])),
            ).otherwise(base),
            F.when(F.col("doc_id") % 11 == 0, F.lit("�")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    return encoding_damage_profile(corrupted).orderBy("id")


def q_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Unicode script composition (the FineWeb2/CC multilingual gate:
    # script ratios BEFORE language ID) over deterministically mixed
    # input — every 5th doc gains a Cyrillic phrase, every 9th a CJK
    # one (both on id 45-multiples), rebuilt verbatim by the oracle.
    # Pure regexp-strip arithmetic: zero joins/shuffles, stream-safe,
    # exact integer counts + milli ratio, fixed dominant-tie order.
    from sutro_spark.functions.text import script_profile

    docs = _t(spark, sf_dir, "documents")
    base = F.coalesce(F.col("text"), F.lit(""))
    mixed = docs.select(
        "doc_id",
        F.concat(
            base,
            F.when(F.col("doc_id") % 5 == 0, F.lit(" привет мир")).otherwise(
                F.lit("")
            ),
            F.when(F.col("doc_id") % 9 == 0, F.lit(" 你好世界")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    return script_profile(mixed).orderBy("id")


def q_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pass@k (Chen et al. 2021 eq. 1), the unbiased hypergeometric
    # estimator: 1 - (n-c)_k/(n)_k per problem. Both falling
    # factorials are exact DECIMAL(38,0) folds — ONE trailing IEEE
    # division (plus an exact integer micro for order-insensitive
    # summing). Problems = users, "correct" = purchase events.
    from sutro_spark.operators.metrics import pass_at_k

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("problem_id"),
        (F.col("event_type") == "purchase").alias("correct"),
    )
    return pass_at_k(ev, k=5).orderBy("problem")


def q_pass_at_k_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the corpus verdict: mean pass@5 as a sum of EXACT integer micros
    # (float summation order is not engine-reproducible; integer sums
    # are) divided once, plus the saturated-problem count.
    from sutro_spark.operators.metrics import pass_at_k_summary

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("problem_id"),
        (F.col("event_type") == "purchase").alias("correct"),
    )
    return pass_at_k_summary(ev, k=5)


def q_majority_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    # self-consistency accuracy (Wang et al. 2023): majority-vote each
    # problem's sampled answers (ties -> lexicographically smallest,
    # stated not hidden), score against an arithmetic gold both
    # engines rebuild verbatim. One count groupBy + one rank window +
    # a broadcast gold join; accuracy is ONE division.
    from sutro_spark.operators.metrics import majority_vote_accuracy

    ev = _t(spark, sf_dir, "events")
    samples = ev.select(
        F.col("user_id").alias("problem_id"),
        F.col("event_type").alias("answer"),
    )
    gold = ev.select(F.col("user_id").alias("problem_id")).distinct().select(
        "problem_id",
        F.expr(
            "CASE problem_id % 3 WHEN 0 THEN 'click'"
            " WHEN 1 THEN 'view' ELSE 'purchase' END"
        ).alias("gold"),
    )
    return majority_vote_accuracy(samples, gold)


def q_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # multiset n-gram Jaccard: sum min(a_s,b_s) / sum max(a_s,b_s) over
    # per-doc shingle COUNTS — the boilerplate/template-dedup signal
    # set-Jaccard collapses (a doc repeating a passage 50x and a doc
    # holding it once look identical as SETS). Same inverted-index +
    # df-cap plan discipline as ngram_jaccard; exact BIGINT evidence,
    # one raw division.
    from sutro_spark.operators.dedup import weighted_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    return weighted_jaccard_pairs(
        docs, k=8, threshold=0.1, max_df=100
    ).orderBy("id_a", "id_b")


#: Round-17 driver window: the driver correctness gate checks the FIRST
#: 50 entries of queries() in dict order; this list IS the rotation
#: (queries() reorders the full literal dict by it — future rounds edit
#: this list, not the dict). Invariant: EXACTLY 50 entries, new
#: additions first, then the ENTIRE stalest cohort, then the
#: next-stalest in sorted order to fill. r17 budget: 0 new queries
#: (optimization round — no features) + ALL 22 entries of the r11
#: remainder (the registry's oldest driver evidence, 6 rounds old —
#: clearing it raises the floor to r12) + 28 of the 49-entry
#: r12-green cohort (sorted; first 28) = 22+28 = exactly 50. After
#: r17 the floor is the 21-entry r12 remainder (range_join_events …
#: wordpiece_subwords, i.e. the sorted r12 cohort minus its first
#: 28) — it MUST lead the r18 window together with anything new;
#: COVERAGE.md states the rotation policy (net-growth cap + the
#: ~5-6 round structural revisit period this 50/270 ratio forces).
_R17_WINDOW = [
    # the ENTIRE 22-entry r11 remainder (oldest driver evidence, sorted)
    "pivot_qty", "positional_zip", "pq_codes", "pq_recall", "pq_topk",
    "promo_revenue", "prompt_concat", "quality_train",
    "quality_train_eval", "rank_elo", "rank_exploded", "rollup_counts",
    "score", "select_prompt_column", "sentence_stats", "set_ops",
    "stratified_sample", "tpch_q1", "tpch_q12ish", "weighted_sample",
    "winnow_dedup", "zorder_key",
    # 28 of the 49-entry r12-green cohort (sorted; first 28)
    "asof_forward", "contaminated_strip_fixpoint", "curation_pipeline_v3",
    "encoding_damage", "exact_substr_fixpoint", "ffd_pack", "ffd_stats",
    "gap_fill", "gopher_quality", "image_dhash", "incremental_dedup",
    "ivf_dedup", "ivfpq_prune", "ivfpq_recall", "ivfpq_rescore",
    "ivfpq_rescore_recall", "ivfpq_residual", "keyword_flags",
    "label_centroids", "majority_vote", "mg_guarantee",
    "mg_heavy_hitters", "minhash_lsh", "multimodal_decode",
    "ngram_jaccard", "pagerank", "pass_at_k", "pass_at_k_summary",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    all_qs = {
        "hll_merge": q_hll_merge,
        "sentence_stats": q_sentence_stats,
        "nfc_check": q_nfc_check,
        "winnow_dedup": q_winnow_dedup,
        "quality_train": q_quality_train,
        "quality_train_eval": q_quality_train_eval,
        "pq_codes": q_pq_codes,
        "pq_topk": q_pq_topk,
        "pq_recall": q_pq_recall,
        "ivfpq_topk": q_ivfpq_topk,
        "ivfpq_residual": q_ivfpq_residual,
        "ivfpq_recall": q_ivfpq_recall,
        "ivfpq_prune": q_ivfpq_prune,
        "ivfpq_rescore": q_ivfpq_rescore,
        "ivfpq_rescore_recall": q_ivfpq_rescore_recall,
        "zorder_key": q_zorder_key,
        "bloom_decontaminate": q_bloom_decontaminate,
        # round-6 late additions (never driver-checked before): ranked
        # ANN honesty, calibration, blocklist tagging, incremental
        # rollup maintenance. They displace events_window /
        # events_sessionize / events_props_stats / asof_purchase /
        # range_join_events past the 50-cap (all r3-driver-green and
        # strict-selfcheck-green; rotate back in r7).
        "ann_mrr": q_ann_mrr,
        "calibration": q_calibration,
        "classify_calibration": q_classify_calibration,
        "bm25_topk": q_bm25_topk,
        "hybrid_retrieval": q_hybrid_retrieval,
        "mmr_rerank": q_mmr_rerank,
        "hard_negatives": q_hard_negatives,
        "kmv_join_est": q_kmv_join_est,
        "cdc_chunks": q_cdc_chunks,
        "cdc_dedup": q_cdc_dedup,
        "mad_outliers": q_mad_outliers,
        "sorted_neighborhood": q_sorted_neighborhood,
        "histogram_drift": q_histogram_drift,
        "label_propagate": q_label_propagate,
        "precision_threshold": q_precision_threshold,
        "kmv_merge": q_kmv_merge,
        "length_buckets": q_length_buckets,
        "ngram_novelty": q_ngram_novelty,
        "vocab_richness": q_vocab_richness,
        "yule_k": q_yule_k,
        "unigram_surprisal": q_unigram_surprisal,
        "krippendorff_alpha": q_krippendorff_alpha,
        "scd2_history": q_scd2_history,
        "copurchase_triangles": q_copurchase_triangles,
        "kmv_set_ops": q_kmv_set_ops,
        "jl_project": q_jl_project,
        "kcore": q_kcore,
        "prefix_filter": q_prefix_filter,
        "hamilton_sample": q_hamilton_sample,
        "readability": q_readability,
        "ann_map": q_ann_map,
        "quantile_normalize": q_quantile_normalize,
        "attribution": q_attribution,
        "benford": q_benford,
        "incremental_cc": q_incremental_cc,
        "json_keys": q_json_keys,
        "bpe_encode": q_bpe_encode,
        "hll_set_ops": q_hll_set_ops,
        "containment": q_containment,
        "fleiss_kappa": q_fleiss_kappa,
        "pagerank": q_pagerank,
        "ece": q_ece,
        "keyword_flags": q_keyword_flags,
        "rollup_incr": q_rollup_incr,
        "promo_revenue": q_promo_revenue,
        "set_ops": q_set_ops,
        "pivot_qty": q_pivot_qty,
        "rollup_counts": q_rollup_counts,
        "part_stats": q_part_stats,
        "customer_regions": q_customer_regions,
        "events_top_per_user": q_events_top_per_user,
        "tpch_q12ish": q_tpch_q12ish,
        "hash_sample_split": q_hash_sample_split,
        "stratified_sample": q_stratified_sample,
        "cap_per_source": q_cap_per_source,
        "pack_contexts": q_pack_contexts,
        "weighted_sample": q_weighted_sample,
        "kmeans_clusters": q_kmeans_clusters,
        "merge_upsert": q_merge_upsert,
        "funnel": q_funnel,
        "select_prompt_column": q_select_prompt_column,
        "prompt_concat": q_prompt_concat,
        "labeled_concat_nulls": q_labeled_concat_nulls,
        "flagship_extract": q_flagship_extract,
        "classify": q_classify,
        "score": q_score,
        "rank_exploded": q_rank_exploded,
        "pairwise_counts": q_pairwise_counts,
        "rank_elo": q_rank_elo,
        "embed": q_embed,
        "positional_zip": q_positional_zip,
        "csv_scan": q_csv_scan,
        "infer_per_model": q_infer_per_model,
        "batch_function": q_batch_function,
        "tpch_q1": q_tpch_q1,
        "tpch_q3": q_tpch_q3,
        "tpch_q6": q_tpch_q6,
        "top_orders": q_top_orders,
        "tpch_q5ish": q_tpch_q5ish,
        "multimodal_decode": q_multimodal_decode,
        "events_window": q_events_window,
        "events_sessionize": q_events_sessionize,
        "events_props_stats": q_events_props_stats,
        "asof_purchase": q_asof_purchase,
        "range_join_events": q_range_join_events,
        "exact_dedup": q_exact_dedup,
        # --- beyond the driver cap this round: all driver-green in
        # r3-r5; cumulative coverage stays 100% ---
        "tpch_q18ish": q_tpch_q18ish,
        "tpch_q22ish": q_tpch_q22ish,
        "price_quantiles": q_price_quantiles,
        "tpch_q10ish": q_tpch_q10ish,
        "tpch_q7ish": q_tpch_q7ish,
        "tpch_q8ish": q_tpch_q8ish,
        "tpch_q11ish": q_tpch_q11ish,
        "tpch_q13ish": q_tpch_q13ish,
        "tpch_q15ish": q_tpch_q15ish,
        "tpch_q16ish": q_tpch_q16ish,
        "tpch_q19ish": q_tpch_q19ish,
        "tpch_q20ish": q_tpch_q20ish,
        "dsir_select": q_dsir_select,
        "charlm_quality": q_charlm_quality,
        "dedup_paragraphs": q_dedup_paragraphs,
        "sq_topk": q_sq_topk,
        "dup_passages": q_dup_passages,
        "strip_passages": q_strip_passages,
        "hll_distinct": q_hll_distinct,
        "bpe_merges": q_bpe_merges,
        "bpe_vocab": q_bpe_vocab,
        "cms_heavy_hitters": q_cms_heavy_hitters,
        "source_overlap": q_source_overlap,
        "jaccard_histogram": q_jaccard_histogram,
        "lsh_recall": q_lsh_recall,
        "sq_recall": q_sq_recall,
        "leakage_safe_split": q_leakage_safe_split,
        "validate_orders": q_validate_orders,
        "bigram_lift": q_bigram_lift,
        "ivf_recall": q_ivf_recall,
        "length_gini": q_length_gini,
        "price_histogram_quantiles": q_price_histogram_quantiles,
        "skew_report": q_skew_report,
        "sql_interface": q_sql_interface,
        "time_split": q_time_split,
        "curation_pipeline_v2": q_curation_pipeline_v2,
        "curation_pipeline_v3": q_curation_pipeline_v3,
        "ffd_pack": q_ffd_pack,
        "ffd_stats": q_ffd_stats,
        "mg_heavy_hitters": q_mg_heavy_hitters,
        "mg_guarantee": q_mg_guarantee,
        "pass_at_k": q_pass_at_k,
        "pass_at_k_summary": q_pass_at_k_summary,
        "majority_vote": q_majority_vote,
        "weighted_jaccard": q_weighted_jaccard,
        "weighted_dedup": q_weighted_dedup,
        "wordpiece_segment": q_wordpiece_segment,
        "wordpiece_subwords": q_wordpiece_subwords,
        "unigram_vocab": q_unigram_vocab,
        "unigram_segment": q_unigram_segment,
        "unigram_apply": q_unigram_apply,
        "script_gate": q_script_gate,
        "ndcg": q_ndcg,
        "ndcg_summary": q_ndcg_summary,
        "qdigest_quantiles": q_qdigest_quantiles,
        "qdigest_guarantee": q_qdigest_guarantee,
        "qdigest_by_group": q_qdigest_by_group,
        "luhn_cards": q_luhn_cards,
        "hadamard_rotate": q_hadamard_rotate,
        "url_canonical": q_url_canonical,
        "psl_domain": q_psl_domain,
        "unigram_fertility": q_unigram_fertility,
        "bq_topk": q_bq_topk,
        "bq_recall": q_bq_recall,
        "ivf_bq_topk": q_ivf_bq_topk,
        "ivf_bq_recall": q_ivf_bq_recall,
        "ivf_bq_append": q_ivf_bq_append,
        "ivf_routing_balance": q_ivf_routing_balance,
        "split_leakage_audit": q_split_leakage_audit,
        "adaptive_salted_join": q_adaptive_salted_join,
        "psi_drift": q_psi_drift,
        "psi_drift_grouped": q_psi_drift_grouped,
        "psi_drift_quantile": q_psi_drift_quantile,
        "encoding_damage": q_encoding_damage,
        "script_profile": q_script_profile,
        "lang_confidence": q_lang_confidence,
        "ols_tokens_vs_chars": q_ols_tokens_vs_chars,
        "table_profile": q_table_profile,
        "corr_tokens_chars": q_corr_tokens_chars,
        "mixture_drift": q_mixture_drift,
        "video_frames": q_video_frames,
        "image_dhash": q_image_dhash,
        "dhash_pairs": q_dhash_pairs,
        "image_whash": q_image_whash,
        "pagerank_redistribute": q_pagerank_redistribute,
        "salted_join": q_salted_join,
        "two_phase_agg": q_two_phase_agg,
        "token_budget": q_token_budget,
        "epoch_plan": q_epoch_plan,
        "embedding_norms": q_embedding_norms,
        "embedding_anisotropy": q_embedding_anisotropy,
        "center_embeddings": q_center_embeddings,
        "pca_direction": q_pca_direction,
        "remove_direction": q_remove_direction,
        "hits": q_hits,
        "communities": q_communities,
        "exact_substr_spans": q_exact_substr_spans,
        "exact_substr_strip": q_exact_substr_strip,
        "contaminated_spans": q_contaminated_spans,
        "exact_substr_fixpoint": q_exact_substr_fixpoint,
        "contaminated_strip_fixpoint": q_contaminated_strip_fixpoint,
        "dup_size_histogram": q_dup_size_histogram,
        "winnow_overlap": q_winnow_overlap,
        "winnow_recall": q_winnow_recall,
        "tpch_q4ish": q_tpch_q4ish,
        "gap_fill": q_gap_fill,
        "simhash": q_simhash,
        "term_topk": q_term_topk,
        "source_mix": q_source_mix,
        "reassemble_chunks": q_reassemble_chunks,
        "label_centroids": q_label_centroids,
        "bucketed_dedup": q_bucketed_dedup,
        "dedup_normalized": q_dedup_normalized,
        "rh_lsh_dedup": q_rh_lsh_dedup,
        "incremental_dedup": q_incremental_dedup,
        "frame_sample": q_frame_sample,
        "audio_features": q_audio_features,
        "list_source_infer": q_list_source_infer,
        "decontaminate_clean": q_decontaminate_clean,
        "quality_scorer": q_quality_scorer,
        "pack_chunks": q_pack_chunks,
        "quality_percentile": q_quality_percentile,
        "tpch_q2ish": q_tpch_q2ish,
        "tpch_q9ish": q_tpch_q9ish,
        "tpch_q17ish": q_tpch_q17ish,
        "tpch_q21ish": q_tpch_q21ish,
        "events_rolling": q_events_rolling,
        "length_histogram": q_length_histogram,
        "tfidf_topk": q_tfidf_topk,
        "word_bigrams": q_word_bigrams,
        "domain_split": q_domain_split,
        "pagerank_suppliers": q_pagerank_suppliers,
        "repetition_profile": q_repetition_profile,
        "eval_report": q_eval_report,
        "eval_confusion": q_eval_confusion,
        "eval_kappa": q_eval_kappa,
        "shard_manifest": q_shard_manifest,
        "strip_boilerplate": q_strip_boilerplate,
        "url_profile": q_url_profile,
        "retention": q_retention,
        "fuzzy_join_names": q_fuzzy_join_names,
        "winsorize_prices": q_winsorize_prices,
        "zscore_outliers": q_zscore_outliers,
        "cube_counts": q_cube_counts,
        "kmv_distinct": q_kmv_distinct,
        "weighted_sample_group": q_weighted_sample_group,
        "jsonl_scan": q_jsonl_scan,
        "shuffled_shards": q_shuffled_shards,
        "asof_forward": q_asof_forward,
        "event_transitions": q_event_transitions,
        "temperature_mix": q_temperature_mix,
        "snapshot_diff": q_snapshot_diff,
        "dedup_lines": q_dedup_lines,
        "fuzzy_decontaminate": q_fuzzy_decontaminate,
        "ngram_jaccard": q_ngram_jaccard,
        "minhash_lsh": q_minhash_lsh,
        "simhash_pairs": q_simhash_pairs,
        "embedding_dedup": q_embedding_dedup,
        "ivf_dedup": q_ivf_dedup,
        "similarity_topk": q_similarity_topk,
        "semdedup": q_semdedup,
        "dedup_keep_best": q_dedup_keep_best,
        "text_profile": q_text_profile,
        "chunk_docs": q_chunk_docs,
        "redact_pii": q_redact_pii,
        "gopher_quality": q_gopher_quality,
        "decontaminate": q_decontaminate,
    }
    missing = [q for q in _R17_WINDOW if q not in all_qs]
    if missing:  # a typo in the rotation list must fail loudly, not 404
        raise KeyError(f"_R17_WINDOW names not in registry: {missing}")
    head = {k: all_qs[k] for k in _R17_WINDOW}
    head.update(all_qs)  # dict keeps first-insertion order: window leads
    return head


# ---------------------------------------------------------------------------
# DuckDB oracles — mirror the stub backend rules documented in
# sutro_spark/operators/backends.py (pure functions of the prompt).
# ---------------------------------------------------------------------------
_FLAGSHIP_PROMPT = (
    "'Summarize: ' || coalesce(CAST(text AS VARCHAR), '') || ' [' || "
    "coalesce(lang, '') || ']'"
)

_RANK_PROMPT = (
    "'opt_a: ' || substr(text, 1, 10) || ' opt_b: ' || substr(text, 11, 10) "
    "|| ' opt_c: ' || substr(text, 21, 10)"
)

# distinct char-8-gram shingles per doc (mirrors dedup.char_shingles k=8)
_SHINGLES_CTE = """
    sh AS (
        SELECT DISTINCT id, shingle FROM (
            SELECT doc_id AS id,
                   unnest(list_transform(
                       range(1, greatest(length(text) - 7, 1) + 1),
                       g -> substring(text, g, 8))) AS shingle
            FROM documents)
        WHERE length(shingle) = 8
    )
"""

# Shared all-but-the-top oracle chain: quantized corpus `q` +
# 2 unrolled power-iteration rounds ending at direction CTE `v2`
# (+ its norm CTE n2). Used by the pca_direction and
# remove_direction oracles.
# shared by the exact_substr_spans / exact_substr_strip oracles: the
# duplicated-span derivation straight from raw substrings (no hashing —
# the Spark side's xxhash64 prefilter must be output-invisible)
_EXACT_SUBSTR_CTE = """t AS (SELECT doc_id, coalesce(text, '') AS text
                       FROM documents),
            pos AS (SELECT doc_id, text,
                           unnest(range(1, length(text) - 60 + 2)) AS p
                    FROM t WHERE length(text) >= 60),
            grams AS (SELECT doc_id, p,
                             substring(text, CAST(p AS INT), 60) AS g
                      FROM pos),
            dup AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
            dpos AS (SELECT doc_id, p FROM grams JOIN dup USING (g)),
            isl AS (SELECT doc_id, p,
                           CASE WHEN p - lag(p) OVER (
                               PARTITION BY doc_id ORDER BY p) <= 60
                           THEN 0 ELSE 1 END AS brk
                    FROM dpos),
            g2 AS (SELECT doc_id, p,
                          sum(brk) OVER (PARTITION BY doc_id ORDER BY p
                              ROWS UNBOUNDED PRECEDING) AS island
                   FROM isl),
            spans AS (SELECT doc_id, min(p) AS s, max(p) + 60 AS e
                      FROM g2 GROUP BY doc_id, island)"""

def _strip_pass_sql(src: str, out: str, p: str, match: str) -> str:
    """One ExactSubstr strip pass as DuckDB CTE text: ``{src}``
    (doc_id, text) -> ``{out}`` (doc_id, text), intermediates prefixed
    ``{p}`` so two passes compose in one WITH. ``match`` is the CTE
    fragment deriving ``{p}dpos`` (matched window starts) from
    ``{p}grams`` — duplicate-count for the self-dedup fixpoint, ref
    gram membership for the decontamination fixpoint. Mirrors the
    single-pass exact_substr_strip oracle exactly (islands merge, gap
    segments, ordered string_agg reassembly)."""
    return f"""
    {p}pos AS (SELECT doc_id, text,
                      unnest(range(1, length(text) - 60 + 2)) AS wp
               FROM {src} WHERE length(text) >= 60),
    {p}grams AS (SELECT doc_id, wp,
                        substring(text, CAST(wp AS INT), 60) AS g
                 FROM {p}pos),
    {match},
    {p}isl AS (SELECT doc_id, wp,
                      CASE WHEN wp - lag(wp) OVER (
                          PARTITION BY doc_id ORDER BY wp) <= 60
                      THEN 0 ELSE 1 END AS brk
               FROM {p}dpos),
    {p}g2 AS (SELECT doc_id, wp,
                     sum(brk) OVER (PARTITION BY doc_id ORDER BY wp
                         ROWS UNBOUNDED PRECEDING) AS island
              FROM {p}isl),
    {p}spans AS (SELECT doc_id, min(wp) AS s, max(wp) + 60 AS e
                 FROM {p}g2 GROUP BY doc_id, island),
    {p}segs AS (
        SELECT doc_id,
               coalesce(lag(e) OVER (
                   PARTITION BY doc_id ORDER BY s), 1) AS seg_s,
               s AS seg_e
        FROM {p}spans
        UNION ALL
        SELECT doc_id, max(e) AS seg_s, NULL AS seg_e
        FROM {p}spans GROUP BY doc_id),
    {p}clean AS (
        SELECT g.doc_id,
               string_agg(
                   substring(t.text, CAST(g.seg_s AS INT),
                       CAST(coalesce(g.seg_e, length(t.text) + 1)
                            - g.seg_s AS INT)),
                   '' ORDER BY g.seg_s) AS kept
        FROM {p}segs g JOIN {src} t USING (doc_id) GROUP BY g.doc_id),
    {out} AS (
        SELECT t.doc_id, coalesce(c.kept, t.text) AS text
        FROM {src} t LEFT JOIN {p}clean c USING (doc_id))"""


def _dup_match_sql(p: str) -> str:
    return f"""{p}dup AS (SELECT g FROM {p}grams
                          GROUP BY g HAVING count(*) >= 2),
    {p}dpos AS (SELECT doc_id, wp FROM {p}grams JOIN {p}dup USING (g))"""


def _ref_match_sql(p: str) -> str:
    return f"""{p}dpos AS (SELECT doc_id, wp FROM {p}grams
                           JOIN rg USING (g))"""


_ABTT_CTE = """q0 AS (
                SELECT list_transform(embedding,
                           x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)
                       ) AS q
                FROM embeddings),
            cdim AS (
                SELECT d, CAST(sum(x) AS BIGINT) AS s
                FROM (SELECT unnest(q) AS x,
                             unnest(range(1, len(q) + 1)) AS d
                      FROM q0)
                GROUP BY d),
            csum AS (SELECT list(s ORDER BY d) AS ss FROM cdim),
            cnt0 AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM q0),
            -- the centered corpus, renormalized by one IEEE division
            -- and re-quantized exactly as the Spark side does it:
            -- round((CAST(nn*q_d - S_d AS DOUBLE) / (nn*1000)) * 1000)
            q AS (
                SELECT list_transform(range(1, len(q) + 1),
                           i -> CAST(round(
                               CAST(nn * q[CAST(i AS INT)]
                                    - ss[CAST(i AS INT)] AS DOUBLE)
                               / CAST(nn * 1000 AS DOUBLE) * 1000)
                               AS BIGINT)
                       ) AS q
                FROM q0, csum, cnt0),
            dm AS (SELECT coalesce(max(len(q)), 0) AS dim FROM q),
            v0 AS (SELECT list_transform(range(1, dim + 1),
                       i -> CAST(1000 AS BIGINT)) AS v FROM dm),
            s1 AS (SELECT q, CAST(list_sum(list_transform(
                       range(1, len(q) + 1),
                       i -> q[CAST(i AS INT)] * v[CAST(i AS INT)]))
                       AS BIGINT) AS s
                   FROM q, v0),
            y1 AS (SELECT d, CAST(sum(s * x) AS BIGINT) AS y
                   FROM (SELECT s, unnest(q) AS x,
                                unnest(range(1, len(q) + 1)) AS d
                         FROM s1)
                   GROUP BY d),
            n1 AS (SELECT yarr, sqrt(list_reduce(list_transform(yarr,
                       t -> CAST(t AS DOUBLE) * CAST(t AS DOUBLE)),
                       (a, b) -> a + b)) AS nrm
                   FROM (SELECT list(y ORDER BY d) AS yarr FROM y1)),
            v1 AS (SELECT CASE WHEN nrm > 0 THEN list_transform(yarr,
                       t -> CAST(round(1000 * CAST(t AS DOUBLE) / nrm)
                                 AS BIGINT))
                       ELSE list_transform(yarr, t -> CAST(0 AS BIGINT))
                       END AS v
                   FROM n1),
            s2 AS (SELECT q, CAST(list_sum(list_transform(
                       range(1, len(q) + 1),
                       i -> q[CAST(i AS INT)] * v[CAST(i AS INT)]))
                       AS BIGINT) AS s
                   FROM q, v1),
            y2 AS (SELECT d, CAST(sum(s * x) AS BIGINT) AS y
                   FROM (SELECT s, unnest(q) AS x,
                                unnest(range(1, len(q) + 1)) AS d
                         FROM s2)
                   GROUP BY d),
            n2 AS (SELECT yarr, sqrt(list_reduce(list_transform(yarr,
                       t -> CAST(t AS DOUBLE) * CAST(t AS DOUBLE)),
                       (a, b) -> a + b)) AS nrm
                   FROM (SELECT list(y ORDER BY d) AS yarr FROM y2)),
            v2 AS (SELECT CASE WHEN nrm > 0 THEN list_transform(yarr,
                       t -> CAST(round(1000 * CAST(t AS DOUBLE) / nrm)
                                 AS BIGINT))
                       ELSE list_transform(yarr, t -> CAST(0 AS BIGINT))
                       END AS v
                   FROM n2)
"""

_GOPHER_SQL = """
            WITH t AS (
                SELECT doc_id, coalesce(text, '') AS text,
                       regexp_split_to_array(trim(coalesce(text, '')), '[ \\t\\n\\x0B\\f\\r]+') AS toks,
                       length(coalesce(text, '')) AS n_chars
                FROM documents),
            m AS (
                SELECT doc_id, n_chars, toks,
                       len(toks) AS n_words,
                       CASE WHEN len(toks) = 0 THEN 0.0 ELSE round(
                           CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE)
                           / len(toks), 6) END AS mean_word_len,
                       CASE WHEN len(toks) = 0 THEN 0.0 ELSE round(
                           CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]')))
                                AS DOUBLE) / len(toks), 6) END AS alpha_word_frac,
                       CASE WHEN len(toks) = 0 THEN 0.0 ELSE round(
                           CAST((length(text) - length(replace(text, '#', '')))
                                + CAST((length(text) - length(replace(text, '...', ''))) / 3
                                       AS BIGINT) AS DOUBLE) / len(toks), 6)
                           END AS symbol_word_ratio,
                       len(list_filter(toks, w -> lower(w) IN
                           ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it'))) AS stop_hits,
                       CASE WHEN len(string_split(text, chr(10))) = 0 THEN 0.0 ELSE round(
                           CAST(len(string_split(text, chr(10)))
                                - len(list_distinct(string_split(text, chr(10))))
                                AS DOUBLE) / len(string_split(text, chr(10))), 6)
                           END AS dup_line_frac
                FROM t),
            gi AS (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t),
            g AS (SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS gram FROM gi),
            gc AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram),
            gt AS (SELECT doc_id, gram, cnt FROM (
                       SELECT *, row_number() OVER
                           (PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rn
                       FROM gc) WHERE rn = 1),
            j AS (
                SELECT m.*,
                       CASE WHEN gt.gram IS NULL OR m.n_chars = 0 THEN 0.0 ELSE round(
                           CAST(gt.cnt * length(gt.gram) AS DOUBLE) / m.n_chars, 6)
                           END AS top_2gram_frac
                FROM m LEFT JOIN gt USING (doc_id))
            SELECT doc_id, n_words, mean_word_len, alpha_word_frac,
                   symbol_word_ratio, stop_hits, dup_line_frac, top_2gram_frac,
                   CAST((n_words BETWEEN 50 AND 100000)
                        AND (mean_word_len BETWEEN 3.0 AND 10.0)
                        AND (alpha_word_frac >= 0.8)
                        AND (symbol_word_ratio <= 0.1)
                        AND (stop_hits >= 2)
                        AND (dup_line_frac <= 0.3)
                        AND (top_2gram_frac <= 0.2) AS BIGINT) AS keep
            FROM j
        """

# 63-bit simhash fingerprint per doc (mirrors dedup.simhash)
_SIMHASH_CTE = """
    toks AS (
        SELECT doc_id AS id, unnest(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS tok
        FROM documents),
    hashed AS (SELECT id, sha256(tok) AS h FROM toks WHERE tok <> ''),
    bits AS (
        SELECT id, b,
               strpos('0123456789abcdef', substring(h, b // 4 + 1, 1)) - 1 AS digit
        FROM hashed, (SELECT unnest(range(0, 63)) AS b) bb),
    votes AS (
        SELECT id, b,
               CASE WHEN (digit >> (3 - b % 4)) & 1 = 1 THEN 1 ELSE -1 END AS vote
        FROM bits),
    sums AS (SELECT id, b, sum(vote) AS s FROM votes GROUP BY id, b),
    fp AS (
        SELECT id,
               CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)
                    AS BIGINT) AS simhash
        FROM sums GROUP BY id
    )
"""

_COSINE = (
    "round(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
)

#: binary-quantization CODES fragment (no WITH) — replays operators/
#: similarity.py bq_thresholds/bq_encode verbatim: floor(v·2^20)
#: integer quantization, per-dim FLOORED-mean thresholds (DuckDB //
#: floors, matching the Spark side's spelled-out floored div), sign
#: bits packed into two 32-bit bigint halves. Ends at CTE `codes` =
#: (vec_id, lo, hi); `base` = (vec_id, e DOUBLE[]). Shared by the
#: exhaustive _BQ_CTE below and the ivf_bq_topk/ivf_bq_recall oracles
#: (which splice it after the kmeans routing chain).
_BQ_CODES_CTE = f"""
            base AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                FROM embeddings),
            qz AS (
                SELECT vec_id, list_transform(e,
                    x -> CAST(floor(x * {1 << 20}) AS BIGINT)) AS q
                FROM base),
            dims AS (SELECT CAST(i AS INT) AS i
                     FROM unnest(range(0, 64)) AS t(i)),
            thr AS (
                SELECT i, CAST(sum(q[i + 1]) // count(*) AS BIGINT) AS t
                FROM qz, dims GROUP BY i),
            codes AS (
                SELECT vec_id,
                    CAST(sum(CASE WHEN i < 32 AND q[i + 1] > t
                             THEN (1::BIGINT << i) ELSE 0 END)
                         AS BIGINT) AS lo,
                    CAST(sum(CASE WHEN i >= 32 AND q[i + 1] > t
                             THEN (1::BIGINT << (i - 32)) ELSE 0 END)
                         AS BIGINT) AS hi
                FROM qz, thr GROUP BY vec_id)"""

#: exhaustive binary-quantization chain shared by the bq_topk /
#: bq_recall oracles — the codes fragment + xor+popcount Hamming
#: ranking to k·m candidates + exact-cosine rescore to k. Ends at CTE
#: `bqr` = (query_id, neighbor_id, sim, rank <= {k}).
_BQ_CTE = "WITH " + _BQ_CODES_CTE + f""",
            bqpairs AS (
                SELECT qq.vec_id AS query_id, cc.vec_id AS neighbor_id,
                       CAST(bit_count(xor(cc.lo, qq.lo))
                            + bit_count(xor(cc.hi, qq.hi)) AS BIGINT)
                           AS ham
                FROM codes cc, (SELECT * FROM codes WHERE vec_id < 5) qq
                WHERE cc.vec_id <> qq.vec_id),
            bqcand AS (
                SELECT query_id, neighbor_id FROM (
                    SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY ham ASC, neighbor_id ASC) AS rnk
                    FROM bqpairs)
                WHERE rnk <= 12),
            bqex AS (
                SELECT cd.query_id, cd.neighbor_id,
                       {_COSINE.format(a='qb.e', b='cb.e')} AS sim
                FROM bqcand cd
                JOIN base cb ON cb.vec_id = cd.neighbor_id
                JOIN base qb ON qb.vec_id = cd.query_id),
            bqr AS (
                SELECT query_id, neighbor_id, sim, rank FROM (
                    SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY sim DESC, neighbor_id ASC) AS rank
                    FROM bqex)
                WHERE rank <= 3)"""

#: recall-probe tail shared by the bq_recall / ivf_bq_recall oracles:
#: appended after any chain that defines `base` (vec_id, e DOUBLE[])
#: and `bqr` (query_id, neighbor_id, ...) — brute-force cosine top-3
#: truth, full-outer candidate join, recall/precision aggregate.
_BQ_RECALL_TAIL = f"""
            , qv2 AS (SELECT vec_id AS query_id, e AS qv
                      FROM base WHERE vec_id < 5),
            s2 AS (
                SELECT query_id, cb.vec_id AS neighbor_id,
                       {_COSINE.format(a='qv', b='cb.e')} AS sim
                FROM qv2, base cb WHERE cb.vec_id <> query_id),
            truth AS (
                SELECT query_id, neighbor_id FROM (
                    SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY sim DESC, neighbor_id ASC) AS rank
                    FROM s2)
                WHERE rank <= 3),
            joined AS (
                SELECT CASE WHEN t.query_id IS NOT NULL
                            THEN 1 ELSE 0 END AS t,
                       CASE WHEN c.query_id IS NOT NULL
                            THEN 1 ELSE 0 END AS c
                FROM truth t FULL OUTER JOIN
                     (SELECT query_id, neighbor_id FROM bqr) c
                  ON t.query_id = c.query_id
                 AND t.neighbor_id = c.neighbor_id),
            agg AS (
                SELECT CAST(sum(t) AS BIGINT) AS n_truth,
                       CAST(sum(c) AS BIGINT) AS n_cand,
                       CAST(sum(t * c) AS BIGINT) AS n_hit
                FROM joined)
            SELECT n_truth, n_cand, n_hit,
                   CASE WHEN n_truth > 0
                        THEN CAST(n_hit AS DOUBLE) / n_truth END AS recall,
                   CASE WHEN n_cand > 0
                        THEN CAST(n_hit AS DOUBLE) / n_cand END
                       AS precision
            FROM agg
        """

# Okapi-BM25 scoring chain (integer rationals — mirrors functions/
# text.py bm25_topk's documented arithmetic verbatim), ending at CTE
# `bm25r` = (query_id, doc_id, score_scaled, rnk). Shared by the
# bm25_topk oracle and the hybrid_retrieval fusion oracle.
_BM25_CTE = """
            WITH base AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                                   x -> x <> '') AS toks
                FROM documents),
            b2 AS (
                SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
                       list_filter(toks, t -> list_contains(
                           ['customer','hash','join','spark','stream',
                            'vector','window'], t)) AS hits
                FROM base),
            stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                             CAST(sum(dl) AS BIGINT) AS total_tokens
                      FROM b2),
            tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
                   FROM (SELECT doc_id, dl, unnest(hits) AS term FROM b2)
                   GROUP BY doc_id, dl, term),
            dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS term_df
                      FROM tf GROUP BY term),
            qd AS (SELECT * FROM (VALUES
                       (1,'spark'),(1,'join'),
                       (2,'vector'),(2,'hash'),(2,'stream'),
                       (3,'customer'),(3,'window')) AS t(query_id, term)),
            scored AS (
                SELECT qd.query_id, tf.doc_id,
                       ((2*n_docs - 2*term_df + 1)
                        * ((22000 * tf * CAST(1000000 AS BIGINT))
                           // (10000*tf + 3000
                               + 9*((1000*dl*n_docs) // total_tokens))))
                       // (2*term_df + 1) AS term_score
                FROM tf JOIN dfreq USING (term) JOIN qd USING (term)
                CROSS JOIN stats),
            agg AS (SELECT query_id, doc_id,
                           CAST(sum(term_score) AS BIGINT) AS score_scaled
                    FROM scored GROUP BY query_id, doc_id),
            bm25r AS (SELECT query_id, doc_id, score_scaled,
                         row_number() OVER (PARTITION BY query_id
                             ORDER BY score_scaled DESC, doc_id) AS rnk
                  FROM agg)
"""

# lcm(61..70): the exact-integer RRF scale for k_const=60, rank_cap=10
# (see operators/retrieval.py rrf_fuse).
from sutro_spark.operators.retrieval import rrf_lcm as _rrf_lcm

_RRF_L = _rrf_lcm(60, 10)

# Content-defined chunking chain (mirrors functions/text.py
# content_chunks with divisor=8, max_words=16), ending at CTE
# `cdc_chunks_cte` = (id, chunk_seq, sub_seq, start_word, n_words,
# chunk_hash). Shared by the cdc_chunks and cdc_dedup oracles.
_CDC_CTE = """
            WITH cb AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                                   x -> x <> '') AS toks
                FROM documents WHERE text IS NOT NULL),
            cw AS (SELECT doc_id, CAST(p - 1 AS BIGINT) AS pos,
                          toks[CAST(p AS INTEGER)] AS w,
                          CASE WHEN p > 1
                               THEN toks[CAST(p - 1 AS INTEGER)] END AS prev
                   FROM cb, LATERAL unnest(range(1, len(toks) + 1)) AS t(p)),
            ch AS (SELECT doc_id, pos, w,
                          CASE WHEN pos > 0 AND
                               CAST(CAST(concat('0x', substr(sha256(
                                   concat_ws(':', 'cdc', prev, w)), 1, 8))
                                   AS UBIGINT) % 8 AS BIGINT) = 0
                          THEN 1 ELSE 0 END AS bnd
                   FROM cw),
            cc AS (SELECT doc_id, pos, w,
                          CAST(sum(bnd) OVER (PARTITION BY doc_id
                              ORDER BY pos) AS BIGINT) AS chunk_seq
                   FROM ch),
            cs AS (SELECT doc_id, pos, w, chunk_seq,
                          CAST((pos - min(pos) OVER (PARTITION BY doc_id,
                              chunk_seq)) // 16 AS BIGINT) AS sub_seq
                   FROM cc),
            cg AS (SELECT doc_id AS id, chunk_seq, sub_seq,
                          CAST(min(pos) AS BIGINT) AS start_word,
                          CAST(count(*) AS BIGINT) AS n_words,
                          string_agg(w, ' ' ORDER BY pos) AS ct
                   FROM cs GROUP BY doc_id, chunk_seq, sub_seq),
            cdc_chunks_cte AS (
                SELECT id, chunk_seq, sub_seq, start_word, n_words,
                       CAST(CAST(concat('0x', substr(sha256(
                           concat('cdc#:', ct)), 1, 8)) AS UBIGINT)
                           AS BIGINT) AS chunk_hash
                FROM cg)
"""

# word-8-gram contamination hits vs the planted benchmark slice
# (mirrors operators/decontaminate.py with n=_DECON_N=8: benchmark =
# words 4..13 of every 10th doc; grams joined on the raw string)
#: concat-and-chunk packing offsets (budget 256, grouped by source) —
#: mirrors operators/packing.py pack_contexts: whitespace token counts,
#: one window cumsum, integer chunk arithmetic.
def _bpe_round_ctes(r: int) -> str:
    """One unrolled BPE round for the DuckDB oracle: pair counts from
    the wrapped symbol string, deterministic argmax (cnt DESC, pair
    ASC), boundary-safe replace — mirrors operators/bpe.py exactly."""
    prev = f"w{r - 1}"
    return f"""
            p{r} AS (
                SELECT l, r, CAST(sum(weight) AS BIGINT) AS cnt FROM (
                    SELECT weight, syms[CAST(t.i AS INT)] AS l,
                           syms[CAST(t.i + 1 AS INT)] AS r
                    FROM (SELECT weight,
                                 string_split(substr(ws, 2, length(ws) - 2),
                                              chr(2) || chr(1)) AS syms
                          FROM {prev}) s,
                         unnest(generate_series(1, len(syms) - 1)) AS t(i)
                    WHERE len(syms) >= 2)
                GROUP BY l, r),
            t{r} AS (SELECT l, r, cnt FROM p{r}
                     ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
            w{r} AS (
                SELECT w, weight,
                       replace(ws, chr(1) || t{r}.l || chr(2) || chr(1)
                                   || t{r}.r || chr(2),
                               chr(1) || t{r}.l || t{r}.r || chr(2)) AS ws
                FROM {prev}, t{r})"""


_BPE_CTES = (
    """
            WITH words AS (
                SELECT tok AS w, count(*) AS weight FROM (
                    SELECT unnest(list_filter(
                        regexp_split_to_array(coalesce(text, ''), '[ \\t\\n\\x0B\\f\\r]+'),
                        t -> t <> '')) AS tok
                    FROM documents)
                GROUP BY tok),
            w0 AS (
                SELECT w, weight,
                       array_to_string(list_transform(
                           range(1, length(w) + 1),
                           i -> chr(1) || substr(w, CAST(i AS INT), 1) || chr(2)),
                           '') AS ws
                FROM words)"""
    + ","
    + ",".join(_bpe_round_ctes(r) for r in range(1, 5))
)

_BPE_SQL = (
    _BPE_CTES
    + "\n            "
    + "\n            UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS round, l AS lhs, r AS rhs,"
        f" cnt AS weight FROM t{r}"
        for r in range(1, 5)
    )
)

_BPE_ENCODE_SQL = (
    _BPE_CTES
    + """,
            bseg AS (SELECT w,
                            CAST(len(string_split(
                                substr(ws, 2, length(ws) - 2),
                                chr(2) || chr(1))) AS BIGINT) AS n_sub
                     FROM w4),
            bdw AS (SELECT doc_id, tok AS w FROM (
                        SELECT doc_id,
                               unnest(list_filter(regexp_split_to_array(
                                   coalesce(text, ''), '[ \\t\\n\\x0B\\f\\r]+'),
                                   t -> t <> '')) AS tok
                        FROM documents)),
            bper AS (SELECT doc_id,
                            CAST(count(*) AS BIGINT) AS n_words,
                            CAST(sum(n_sub) AS BIGINT) AS n_subwords
                     FROM bdw JOIN bseg USING (w) GROUP BY doc_id)
            SELECT doc_id, n_words, n_subwords,
                   CAST((1000 * n_subwords) // n_words AS BIGINT)
                       AS tokens_per_word_milli
            FROM bper ORDER BY doc_id"""
)

_BPE_VOCAB_SQL = (
    _BPE_CTES
    + """,
            seg AS (SELECT w, weight,
                           unnest(string_split(substr(ws, 2, length(ws) - 2),
                                               chr(2) || chr(1))) AS subword
                    FROM w4)
            SELECT subword,
                   CAST(count(DISTINCT w) AS BIGINT) AS n_words,
                   CAST(sum(weight) AS BIGINT) AS occurrences
            FROM seg GROUP BY subword
            ORDER BY occurrences DESC, subword ASC LIMIT 20"""
)


# Shared CTE for the ExactSubstr passage-dedup oracles: tokenize,
# emit 6-token windows with the same sha256-derived 16-hex digest the
# Spark operator uses, and attach each digest's corpus-wide count.
_PASSAGE_CTE = """
            WITH b2 AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(coalesce(text, ''), '[ \\t\\n\\x0B\\f\\r]+'),
                                   t -> t <> '') AS toks
                FROM documents),
            b3 AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens FROM b2),
            og AS (
                SELECT doc_id, CAST(t.i AS BIGINT) AS pos,
                       substr(sha256(array_to_string(
                           toks[CAST(t.i + 1 AS INT) : CAST(t.i + 6 AS INT)],
                           ' ')), 1, 16) AS dig
                FROM b3, unnest(generate_series(0, n_tokens - 6)) AS t(i)
                WHERE n_tokens >= 6),
            pdg AS (SELECT dig, count(*) AS n_occ FROM og GROUP BY dig),
            fo AS (SELECT og.doc_id, og.pos, og.dig, pdg.n_occ
                   FROM og JOIN pdg USING (dig))"""

_PACK_CTE = """
    WITH tok AS (
        SELECT source, doc_id,
               CAST(len(list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+'),
                                    x -> x <> '')) AS BIGINT) AS n_tokens
        FROM documents),
    off AS (
        SELECT source, doc_id, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS start_offset
        FROM tok),
    packed AS (
        SELECT source, doc_id, n_tokens, start_offset,
               start_offset // 256 AS chunk_start,
               CASE WHEN n_tokens = 0 THEN start_offset // 256
                    ELSE (start_offset + n_tokens - 1) // 256
               END AS chunk_end,
               CAST(CASE WHEN n_tokens = 0 THEN 0
                    ELSE (start_offset + n_tokens - 1) // 256
                       - start_offset // 256 + 1
               END AS BIGINT) AS n_chunks
        FROM off)
"""

def _kmeans_sql() -> str:
    """Two unrolled Lloyd rounds mirroring operators/kmeans.py: integer
    milli-quantization (truncating cast, +1000 offset), squared-L2
    argmin with (dist, cluster) tie-break, floor-division means (all
    values non-negative, so DuckDB's ``//`` matches Spark's ``div``)."""

    def assign(tag: str, ctab: str) -> str:
        return f"""
    a{tag} AS (
        SELECT vec_id, cluster,
               CAST(list_sum(list_transform(range(1, 65),
                   i -> (qv[CAST(i AS INT)] - cv[CAST(i AS INT)])
                      * (qv[CAST(i AS INT)] - cv[CAST(i AS INT)]))) AS BIGINT)
                   AS dist2
        FROM q, {ctab}),
    m{tag} AS (
        SELECT vec_id, cluster, dist2 FROM (
            SELECT vec_id, cluster, dist2,
                   row_number() OVER (PARTITION BY vec_id
                       ORDER BY dist2, cluster) AS rn
            FROM a{tag})
        WHERE rn = 1)"""

    return f"""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(trunc(CAST(x AS DOUBLE) * 1000) AS BIGINT) + 1000)
                   AS qv
        FROM embeddings),
    c0 AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, qv AS cv
        FROM q ORDER BY vec_id LIMIT 8),
    {assign("1", "c0")},
    e1 AS (
        SELECT m1.cluster, i AS pos, qv[CAST(i AS INT)] AS v
        FROM m1 JOIN q USING (vec_id), unnest(range(1, 65)) AS t(i)),
    c1p AS (
        SELECT cluster, pos, CAST(sum(v) AS BIGINT) // count(*) AS comp
        FROM e1 GROUP BY cluster, pos),
    c1 AS (
        SELECT cluster, list(comp ORDER BY pos) AS cv
        FROM c1p GROUP BY cluster),
    {assign("2", "c1")}
    """


def _ivf_bq_sql() -> str:
    """IVF-routed binary-quantization chain mirroring operators/
    similarity.py ivf_bq_topk: the kmeans coarse routing
    (:func:`_kmeans_sql` — c1 final centroids, m2 final assignments),
    the shared BQ codes fragment, query probes to the nprobe=2 nearest
    centroids, xor+popcount Hamming ONLY over probed-bucket members,
    top-12 shortlist, exact-cosine rescore to 3. Ends at CTE `bqr` =
    (query_id, neighbor_id, sim, rank <= 3) with `base` in scope for
    the recall tail."""
    return (
        _kmeans_sql()
        + ","
        + _BQ_CODES_CTE
        + f""",
            qp0 AS (
                SELECT p.vec_id AS query_id, c1.cluster,
                       CAST(list_sum(list_transform(range(1, 65),
                           i -> (p.qv[CAST(i AS INT)] - c1.cv[CAST(i AS INT)])
                              * (p.qv[CAST(i AS INT)] - c1.cv[CAST(i AS INT)])))
                           AS BIGINT) AS d2
                FROM q p, c1 WHERE p.vec_id < 5),
            qp AS (SELECT query_id, cluster FROM (
                    SELECT query_id, cluster,
                           row_number() OVER (PARTITION BY query_id
                               ORDER BY d2, cluster) AS rn
                    FROM qp0) WHERE rn <= 2),
            candv AS (SELECT qp.query_id, m2.vec_id AS neighbor_id
                      FROM qp JOIN m2 USING (cluster)
                      WHERE m2.vec_id <> qp.query_id),
            bqpairs AS (
                SELECT cv2.query_id, cv2.neighbor_id,
                       CAST(bit_count(xor(cc.lo, qq2.lo))
                            + bit_count(xor(cc.hi, qq2.hi)) AS BIGINT)
                           AS ham
                FROM candv cv2
                JOIN codes cc ON cc.vec_id = cv2.neighbor_id
                JOIN codes qq2 ON qq2.vec_id = cv2.query_id),
            bqcand AS (
                SELECT query_id, neighbor_id FROM (
                    SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY ham ASC, neighbor_id ASC) AS rnk
                    FROM bqpairs)
                WHERE rnk <= 12),
            bqex AS (
                SELECT cd.query_id, cd.neighbor_id,
                       {_COSINE.format(a='qb.e', b='cb.e')} AS sim
                FROM bqcand cd
                JOIN base cb ON cb.vec_id = cd.neighbor_id
                JOIN base qb ON qb.vec_id = cd.query_id),
            bqr AS (
                SELECT query_id, neighbor_id, sim, rank FROM (
                    SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY sim DESC, neighbor_id ASC) AS rank
                    FROM bqex)
                WHERE rank <= 3)"""
    )


def _ivf_bq_append_sql() -> str:
    """REBUILD-at-frozen-parameters chain for the ivf_bq_append /
    ivf_routing_balance oracles: kmeans trained on the BASE slice
    (vec_id % 4 <> 0) exactly as operators/kmeans.py runs inside
    ivf_bq_index (init = 8 lowest base ids, 2 Lloyd rounds, integer
    milli-quantization, (dist2, cluster) argmin tie-break,
    floor-division means), then ONE nearest-centroid assignment of the
    FULL corpus against the frozen final centroids, BQ thresholds from
    the base slice only, sign-bit codes for every vector. The Spark
    side appends the held-out quarter incrementally — hash-equality
    against this from-scratch rebuild is the append==rebuild proof.
    Ends with `m2all` = (vec_id, cluster) over the full corpus and
    `codes` = (vec_id, lo, hi) under base thresholds."""

    def assign(tag: str, src: str, ctab: str) -> str:
        return f"""
    a{tag} AS (
        SELECT vec_id, cluster,
               CAST(list_sum(list_transform(range(1, 65),
                   i -> (qv[CAST(i AS INT)] - cv[CAST(i AS INT)])
                      * (qv[CAST(i AS INT)] - cv[CAST(i AS INT)]))) AS BIGINT)
                   AS dist2
        FROM {src}, {ctab}),
    m{tag} AS (
        SELECT vec_id, cluster FROM (
            SELECT vec_id, cluster,
                   row_number() OVER (PARTITION BY vec_id
                       ORDER BY dist2, cluster) AS rn
            FROM a{tag})
        WHERE rn = 1)"""

    return f"""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(trunc(CAST(x AS DOUBLE) * 1000) AS BIGINT) + 1000)
                   AS qv
        FROM embeddings),
    qb AS (SELECT * FROM q WHERE vec_id % 4 <> 0),
    c0 AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, qv AS cv
        FROM qb ORDER BY vec_id LIMIT 8),
    {assign("1", "qb", "c0")},
    e1 AS (
        SELECT m1.cluster, i AS pos, qv[CAST(i AS INT)] AS v
        FROM m1 JOIN qb USING (vec_id), unnest(range(1, 65)) AS t(i)),
    c1p AS (
        SELECT cluster, pos, CAST(sum(v) AS BIGINT) // count(*) AS comp
        FROM e1 GROUP BY cluster, pos),
    c1 AS (
        SELECT cluster, list(comp ORDER BY pos) AS cv
        FROM c1p GROUP BY cluster),
    {assign("2all", "q", "c1")},
    base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings),
    qz AS (
        SELECT vec_id, list_transform(e,
            x -> CAST(floor(x * {1 << 20}) AS BIGINT)) AS q
        FROM base),
    dims AS (SELECT CAST(i AS INT) AS i
             FROM unnest(range(0, 64)) AS t(i)),
    thr AS (
        SELECT i, CAST(sum(q[i + 1]) // count(*) AS BIGINT) AS t
        FROM (SELECT * FROM qz WHERE vec_id % 4 <> 0), dims GROUP BY i),
    codes AS (
        SELECT vec_id,
            CAST(sum(CASE WHEN i < 32 AND q[i + 1] > t
                     THEN (1::BIGINT << i) ELSE 0 END)
                 AS BIGINT) AS lo,
            CAST(sum(CASE WHEN i >= 32 AND q[i + 1] > t
                     THEN (1::BIGINT << (i - 32)) ELSE 0 END)
                 AS BIGINT) AS hi
        FROM qz, thr GROUP BY vec_id)"""


def _pq_sql(src: str | None = None) -> str:
    """Product-quantization chain mirroring operators/pq.py: 8
    subspaces x 8 dims over the milli-quantized embeddings, k=16
    codewords initialized from the 16 lowest-id vectors, two Lloyd
    rounds with (dist2, code) argmin tie-break and floor-division
    means — all exact int64, so training/encoding/ADC replay
    bit-for-bit. ``pm2`` = final codes, ``pc1`` = final codebook.

    ``src``: name of an upstream CTE already holding (vec_id, qv) —
    used by the residual IVFADC oracle to train/encode over bucket
    residuals instead of the raw quantized embeddings."""

    def assign(tag: str, ctab: str) -> str:
        return f"""
    pa{tag} AS (
        SELECT sv.vec_id, sv.sub, {ctab}.code,
               CAST(list_sum(list_transform(range(1, 9),
                   i -> (sv.sqv[CAST(i AS INT)] - {ctab}.cv[CAST(i AS INT)])
                      * (sv.sqv[CAST(i AS INT)] - {ctab}.cv[CAST(i AS INT)])))
                   AS BIGINT) AS dist2
        FROM sv JOIN {ctab} USING (sub)),
    pm{tag} AS (
        SELECT vec_id, sub, code FROM (
            SELECT vec_id, sub, code,
                   row_number() OVER (PARTITION BY vec_id, sub
                       ORDER BY dist2, code) AS rn
            FROM pa{tag})
        WHERE rn = 1)"""

    pqv_body = (
        f"SELECT vec_id, qv FROM {src}"
        if src
        else """SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(trunc(CAST(x AS DOUBLE) * 1000) AS BIGINT) + 1000)
                   AS qv
        FROM embeddings"""
    )
    return f"""
    WITH pqv AS ({pqv_body}),
    sv AS (
        SELECT vec_id, CAST(s AS INT) AS sub,
               qv[CAST(s * 8 + 1 AS INT):CAST(s * 8 + 8 AS INT)] AS sqv
        FROM pqv, unnest(range(0, 8)) AS t(s)),
    pinit AS (
        SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS code
        FROM pqv ORDER BY vec_id LIMIT 16),
    pc0 AS (SELECT sv.sub, pinit.code, sv.sqv AS cv
            FROM sv JOIN pinit USING (vec_id)),
    {assign("1", "pc0")},
    pe1 AS (
        SELECT pm1.sub, pm1.code, i AS pos, sv.sqv[CAST(i AS INT)] AS v
        FROM pm1 JOIN sv USING (vec_id, sub), unnest(range(1, 9)) AS t(i)),
    pc1p AS (
        SELECT sub, code, pos, CAST(sum(v) AS BIGINT) // count(*) AS comp
        FROM pe1 GROUP BY sub, code, pos),
    pc1 AS (
        SELECT sub, code, list(comp ORDER BY pos) AS cv
        FROM pc1p GROUP BY sub, code),
    {assign("2", "pc1")}
    """


_PQ_TOPK_TAIL = """,
    qsv AS (SELECT vec_id AS query_id, sub, sqv FROM sv WHERE vec_id < 5),
    qdt AS (
        SELECT q.query_id, c.sub, c.code,
               CAST(list_sum(list_transform(range(1, 9),
                   i -> (q.sqv[CAST(i AS INT)] - c.cv[CAST(i AS INT)])
                      * (q.sqv[CAST(i AS INT)] - c.cv[CAST(i AS INT)])))
                   AS BIGINT) AS d2
        FROM qsv q JOIN pc1 c USING (sub)),
    adist AS (
        SELECT qdt.query_id, pm2.vec_id AS neighbor_id,
               CAST(sum(d2) AS BIGINT) AS adist2
        FROM pm2 JOIN qdt ON pm2.sub = qdt.sub AND pm2.code = qdt.code
        WHERE pm2.vec_id <> qdt.query_id
        GROUP BY qdt.query_id, pm2.vec_id),
    pq_ranked AS (
        SELECT query_id, neighbor_id, adist2,
               CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY adist2, neighbor_id) AS BIGINT) AS rank
        FROM adist)
"""


def _ivfpq_residual_sql() -> str:
    """Residual IVFADC chain: the kmeans chain (q/c1/m2), a residual
    CTE shifting v − centroid into non-negative range (+2000, matching
    operators/pq.py RESID_OFFSET), the PQ chain re-sourced from those
    residuals, then routing + a PER-PROBED-BUCKET query distance table
    (the query's residual differs per centroid) and the bucket-keyed
    ADC join. ``rranked`` = final ranked output."""
    return (
        _kmeans_sql()
        + """,
    rqv AS (
        SELECT q.vec_id,
               list_transform(range(1, 65),
                   i -> q.qv[CAST(i AS INT)] - c1.cv[CAST(i AS INT)] + 2000)
                   AS qv
        FROM q JOIN m2 USING (vec_id) JOIN c1 USING (cluster)),
    """
        + _pq_sql("rqv").replace("WITH ", "", 1)
        + """,
    rqp0 AS (
        SELECT p.vec_id AS query_id, c1.cluster,
               CAST(list_sum(list_transform(range(1, 65),
                   i -> (p.qv[CAST(i AS INT)] - c1.cv[CAST(i AS INT)])
                      * (p.qv[CAST(i AS INT)] - c1.cv[CAST(i AS INT)])))
                   AS BIGINT) AS d2
        FROM q p, c1 WHERE p.vec_id < 5),
    rqp AS (SELECT query_id, cluster FROM (
            SELECT query_id, cluster,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY d2, cluster) AS rn
            FROM rqp0) WHERE rn <= 2),
    rqres AS (
        SELECT rqp.query_id, rqp.cluster,
               list_transform(range(1, 65),
                   i -> q.qv[CAST(i AS INT)] - c1.cv[CAST(i AS INT)] + 2000)
                   AS qv
        FROM rqp JOIN q ON q.vec_id = rqp.query_id JOIN c1 USING (cluster)),
    rqsv AS (
        SELECT query_id, cluster, CAST(s AS INT) AS sub,
               qv[CAST(s * 8 + 1 AS INT):CAST(s * 8 + 8 AS INT)] AS sqv
        FROM rqres, unnest(range(0, 8)) AS t(s)),
    rqdt AS (
        SELECT r2.query_id, r2.cluster, c.sub, c.code,
               CAST(list_sum(list_transform(range(1, 9),
                   i -> (r2.sqv[CAST(i AS INT)] - c.cv[CAST(i AS INT)])
                      * (r2.sqv[CAST(i AS INT)] - c.cv[CAST(i AS INT)])))
                   AS BIGINT) AS d2
        FROM rqsv r2 JOIN pc1 c USING (sub)),
    rcand AS (
        SELECT rqp.query_id, rqp.cluster, m2.vec_id AS neighbor_id
        FROM rqp JOIN m2 USING (cluster)
        WHERE m2.vec_id <> rqp.query_id),
    radist AS (
        SELECT rc.query_id, rc.neighbor_id,
               CAST(sum(rqdt.d2) AS BIGINT) AS adist2
        FROM rcand rc
        JOIN pm2 ON pm2.vec_id = rc.neighbor_id
        JOIN rqdt ON rqdt.query_id = rc.query_id
                 AND rqdt.cluster = rc.cluster
                 AND rqdt.sub = pm2.sub AND rqdt.code = pm2.code
        GROUP BY rc.query_id, rc.neighbor_id),
    rranked AS (
        SELECT query_id, neighbor_id, adist2,
               CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY adist2, neighbor_id) AS BIGINT) AS rank
        FROM radist)
"""
    )


#: image dHash over the fake-media payload (UTF-8 text bytes): replays
#: multimodal.py's _stub_cells (byte i of an n-byte payload lands in
#: cell (i-1)*72//n of an 8x9 grid, cell value = byte sum) and
#: _cells_to_dhash (bit b in 0..62 set iff cell[r*9+c] < cell[r*9+c+1],
#: r=b//8, c=b%8) — exact integer shifts, never float powers, so the
#: 63-bit hash reproduces bit-for-bit. ``b2`` = (doc_id, n, bytes);
#: ``hashes`` = (doc_id, dhash) for non-empty payloads.
_DHASH_CTE = """
    WITH b1 AS (
        SELECT doc_id, coalesce(text, '') AS txt FROM documents),
    b2 AS (
        SELECT doc_id, length(txt) AS n,
               list_transform(string_split(txt, ''), c -> unicode(c)) AS bytes
        FROM b1),
    cells AS (
        SELECT doc_id,
               list_transform(range(0, 72), cell ->
                   CAST(coalesce(list_sum(list_transform(range(1, n + 1),
                       i -> CASE WHEN (i - 1) * 72 // n = cell
                                 THEN bytes[CAST(i AS INT)]
                                 ELSE CAST(0 AS BIGINT) END)), 0) AS BIGINT))
                   AS cv
        FROM b2 WHERE n > 0),
    hashes AS (
        SELECT doc_id,
               CAST(coalesce(list_sum(list_transform(range(0, 63),
                   b -> CASE WHEN cv[CAST(b // 8 * 9 + b % 8 + 1 AS INT)]
                                < cv[CAST(b // 8 * 9 + b % 8 + 2 AS INT)]
                             THEN CAST(1 AS BIGINT) << b
                             ELSE CAST(0 AS BIGINT) END)), 0) AS BIGINT)
                   AS dhash
        FROM cells)
"""


#: whash: 8x8 stub grid -> 2-D Walsh-Hadamard (natural order, sign =
#: parity of popcount(x&u)+popcount(y&v)) -> sign bits of the 63
#: non-DC coefficients. Mirrors multimodal._cells_to_whash exactly.
_WHASH_CTE = """
    WITH b1 AS (
        SELECT doc_id, coalesce(text, '') AS txt FROM documents),
    b2 AS (
        SELECT doc_id, length(txt) AS n,
               list_transform(string_split(txt, ''), c -> unicode(c)) AS bytes
        FROM b1),
    cells AS (
        SELECT doc_id,
               list_transform(range(0, 64), cell ->
                   CAST(coalesce(list_sum(list_transform(range(1, n + 1),
                       i -> CASE WHEN (i - 1) * 64 // n = cell
                                 THEN bytes[CAST(i AS INT)]
                                 ELSE CAST(0 AS BIGINT) END)), 0) AS BIGINT))
                   AS cv
        FROM b2 WHERE n > 0),
    coeffs AS (
        SELECT doc_id,
               list_transform(range(0, 64), uv ->
                   CAST(list_sum(list_transform(range(0, 64), xy ->
                       CASE WHEN (bit_count(CAST((uv // 8) & (xy // 8) AS BIGINT))
                                  + bit_count(CAST((uv % 8) & (xy % 8) AS BIGINT))) % 2 = 0
                            THEN cv[CAST(xy + 1 AS INT)]
                            ELSE -cv[CAST(xy + 1 AS INT)] END)) AS BIGINT))
                   AS co
        FROM cells),
    whashes AS (
        SELECT doc_id,
               CAST(coalesce(list_sum(list_transform(range(1, 64),
                   b -> CASE WHEN co[CAST(b + 1 AS INT)] > 0
                             THEN CAST(1 AS BIGINT) << (b - 1)
                             ELSE CAST(0 AS BIGINT) END)), 0) AS BIGINT)
                   AS whash
        FROM coeffs)
"""


#: eval predictions: classify stub (length-keyed) vs doc_id-keyed gold.
_EVAL_CTE = """
    WITH p AS (
        SELECT doc_id,
               (['news', 'blog', 'code'])[length(coalesce(CAST(text AS VARCHAR), '')) % 3 + 1]
                   AS pred,
               (['news', 'blog', 'code'])[CAST(doc_id % 3 + 1 AS INT)] AS label
        FROM documents)
"""

_DECON_CTE = """
    WITH bench AS (
        SELECT array_to_string(
                 (regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+'))[4:13], ' ') AS text
        FROM documents WHERE doc_id % 10 = 0),
    bt AS (SELECT regexp_split_to_array(trim(coalesce(text, '')), '[ \\t\\n\\x0B\\f\\r]+') AS toks
           FROM bench),
    bi AS (SELECT toks, unnest(range(1, len(toks) - 6)) AS i FROM bt),
    bg AS (SELECT DISTINCT array_to_string(toks[i:i+7], ' ') AS gram FROM bi),
    tt AS (SELECT doc_id, regexp_split_to_array(trim(coalesce(text, '')), '[ \\t\\n\\x0B\\f\\r]+') AS toks
           FROM documents),
    ti AS (SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i FROM tt),
    tg AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+7], ' ') AS gram FROM ti),
    hits AS (SELECT doc_id, count(*) AS n_hits
             FROM tg JOIN bg USING (gram) GROUP BY doc_id)
"""


def _rh_lsh_sql() -> str:
    """DuckDB mirror of q_rh_lsh_dedup (planes=64, bands=4, r=16, planted
    near-dups): the sign matrix is regenerated from the same sha256
    derivation, and the sketch uses the same INTEGER quantization as
    :func:`sutro_spark.operators.similarity.rh_band_keys_udf`
    (``floor(e_i·2^20)`` then int64 sums) — integer arithmetic is
    associative, so numpy's matmul and this SQL's chains agree exactly
    and banding misses are identical in both engines."""
    from sutro_spark.operators.similarity import RH_SCALE, rh_signs

    planes, bands = 64, 4
    r = planes // bands
    dim = 64
    signs = rh_signs(planes, dim)
    qexprs = ", ".join(
        f"CAST(FLOOR(e[{i}] * {RH_SCALE}.0) AS BIGINT) AS q{i}" for i in range(1, dim + 1)
    )
    tot = " + ".join(f"q{i}" for i in range(1, dim + 1))
    def _bit(p: int) -> str:
        negs = [i + 1 for i, s in enumerate(signs[p]) if s == -1]
        negsum = " + ".join(f"q{i}" for i in negs)
        dot = f"(tot - 2*({negsum}))" if negs else "tot"
        return f"CAST(({dot} > 0) AS BIGINT) AS bit{p}"
    bits = ", ".join(_bit(p) for p in range(planes))
    keys = ", ".join(
        "({base} + {parts})".format(
            base=b << r,
            parts=" + ".join(f"bit{b * r + j} * {1 << j}" for j in range(r)),
        )
        for b in range(bands)
    )
    cos = _COSINE.format(a="va.e", b="vb.e")
    return f"""
        WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        v AS (
            SELECT vec_id, e FROM base
            UNION ALL
            SELECT vec_id + 100000 AS vec_id,
                   list_concat([e[1] * 1.05], e[2:]) AS e
            FROM base),
        qt AS (SELECT vec_id, {qexprs} FROM v),
        t AS (SELECT vec_id, ({tot}) AS tot, * EXCLUDE (vec_id) FROM qt),
        s AS (SELECT vec_id, {bits} FROM t),
        k AS (SELECT vec_id, unnest([{keys}]) AS bk FROM s),
        cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                 FROM k a JOIN k b ON a.bk = b.bk AND a.vec_id < b.vec_id)
        SELECT id_a, id_b, {cos} AS sim
        FROM cand
        JOIN v va ON va.vec_id = id_a
        JOIN v vb ON vb.vec_id = id_b
        WHERE {cos} >= 0.98
    """


def _quality_train_cte(epochs: int = 2) -> str:
    """Unrolled-epoch replay of operators/quality.train_linear_scorer:
    closed-form class-difference init then ``epochs`` perceptron
    correction passes — all integer arithmetic, so the CTE chain
    reproduces the distributed training bit-for-bit."""
    parts = [
        """
    lab AS (
        SELECT doc_id AS id,
               CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
               CASE WHEN CAST(concat('0x', substr(sha256(concat('split:',
                        CAST(doc_id AS VARCHAR))), 1, 8)) AS UBIGINT) % 5 < 4
                    THEN 'train' ELSE 'holdout' END AS split,
               text
        FROM documents),
    tk AS (
        SELECT id, y, split,
               unnest(list_filter(regexp_split_to_array(
                   trim(lower(coalesce(text, ''))), '[ \\t\\n\\x0B\\f\\r]+'),
                   t -> t <> '')) AS tok
        FROM lab),
    feats AS (
        SELECT id, y, split,
               CAST(concat('0x', substr(sha256(tok), 1, 4)) AS BIGINT)
                   % 1024 AS bucket,
               count(*) AS cnt
        FROM tk GROUP BY id, y, split, bucket),
    w0 AS (SELECT bucket, sum(y * cnt) AS w
           FROM feats WHERE split = 'train' GROUP BY bucket)"""
    ]
    for e in range(1, epochs + 1):
        parts.append(f"""
    s{e} AS (SELECT f.id, f.y, sum(f.cnt * coalesce(w{e - 1}.w, 0)) AS s
             FROM feats f LEFT JOIN w{e - 1} USING (bucket)
             WHERE f.split = 'train' GROUP BY f.id, f.y),
    e{e} AS (SELECT id, CASE WHEN y = 1 AND s <= 0 THEN 1
                             WHEN y = -1 AND s > 0 THEN -1
                             ELSE 0 END AS err
             FROM s{e}),
    g{e} AS (SELECT f.bucket, sum(e{e}.err * f.cnt) AS g
             FROM feats f JOIN e{e} USING (id)
             WHERE e{e}.err <> 0 GROUP BY f.bucket),
    w{e} AS (SELECT coalesce(a.bucket, b.bucket) AS bucket,
                    coalesce(a.w, 0) + coalesce(b.g, 0) AS w
             FROM w{e - 1} a FULL JOIN g{e} b ON a.bucket = b.bucket)""")
    return "WITH " + ",".join(parts)


_QUALITY_TRAIN_SQL = (
    _quality_train_cte(2)
    + """
    SELECT bucket, CAST(w AS BIGINT) AS w FROM w2
"""
)

_QUALITY_TRAIN_EVAL_SQL = (
    _quality_train_cte(2)
    + """,
    sh AS (SELECT f.id, f.y, sum(f.cnt * coalesce(w2.w, 0)) AS s
           FROM feats f LEFT JOIN w2 USING (bucket)
           WHERE f.split = 'holdout' GROUP BY f.id, f.y)
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN (s > 0) = (y = 1) THEN 1 ELSE 0 END)
                AS BIGINT) AS correct,
           CAST(sum(CASE WHEN (s > 0) = (y = 1) THEN 1 ELSE 0 END)
                AS DOUBLE) / count(*) AS accuracy
    FROM sh
"""
)


# Winnowing fingerprint candidate pairs (k=8, window=4, max_df=100,
# min_shared=2) — shared by winnow_overlap (emits the pairs) and
# winnow_dedup (clusters them). CTE names are w-prefixed so the block
# composes with other pair CTEs without colliding.
_WINNOW_PAIRS_CTE = """
    wg AS (
        SELECT doc_id AS id, CAST(p AS INTEGER) AS pos,
               substring(text, CAST(p AS INTEGER), 8) AS gram
        FROM documents,
             LATERAL unnest(range(1, greatest(length(text) - 7, 0) + 1))
                 AS t(p)),
    wh AS (
        SELECT id, pos,
               CAST(('0x' || substring(sha256('winnow:' || gram), 1, 8))
                    AS BIGINT) AS h
        FROM wg WHERE length(gram) = 8),
    ww AS (
        SELECT id, pos,
               min(h) OVER (PARTITION BY id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
               count(*) OVER (PARTITION BY id) AS n_grams
        FROM wh),
    wf AS (SELECT DISTINCT id, fp FROM ww WHERE pos <= n_grams - 3),
    wd AS (SELECT fp FROM wf GROUP BY fp HAVING count(*) <= 100),
    wr AS (SELECT wf.id, wf.fp FROM wf JOIN wd ON wf.fp = wd.fp),
    win AS (
        SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
        FROM wr a JOIN wr b ON a.fp = b.fp AND a.id < b.id
        GROUP BY a.id, b.id
        HAVING count(*) >= 2)
"""

# Transitive closure + canonical-survivor tail shared by
# dedup_keep_best (simhash pairs) and winnow_dedup (winnow pairs):
# expects an ``edges(a, b)`` CTE in scope and finishes to
# (cluster_id, kept_doc_id, kept_score, cluster_size, n_dropped).
_KEEP_BEST_TAIL = """
    reach AS (
        SELECT doc_id AS node, doc_id AS r FROM documents
        UNION
        SELECT reach.node, e.b AS r
        FROM reach JOIN edges e ON e.a = reach.r),
    lab AS (SELECT node AS doc_id, min(r) AS cluster_id
            FROM reach GROUP BY node),
    q AS (
        SELECT doc_id,
               round(0.4 * least(CAST(length(COALESCE(text, '')) AS DOUBLE) / 400, 1.0)
                   + 0.3 * (1.0 - CASE WHEN length(COALESCE(text, '')) = 0 THEN 0.0 ELSE
                       CAST(length(regexp_replace(COALESCE(text, ''), '[A-Za-z0-9 \\t\\n\\x0B\\f\\r]', '', 'g'))
                            AS DOUBLE) / length(COALESCE(text, '')) END)
                   + 0.3 * CASE WHEN length(COALESCE(text, '')) = 0 THEN 0.0 ELSE
                       CAST(length(regexp_replace(COALESCE(text, ''), '[^A-Za-z]', '', 'g'))
                            AS DOUBLE) / length(COALESCE(text, '')) END, 6) AS score
        FROM documents),
    lj AS (
        SELECT lab.doc_id, lab.cluster_id, q.score
        FROM lab JOIN q USING (doc_id)),
    sizes AS (SELECT cluster_id, count(*) AS cluster_size
              FROM lj GROUP BY cluster_id),
    ranked AS (
        SELECT doc_id, cluster_id, score,
               row_number() OVER (PARTITION BY cluster_id
                   ORDER BY score DESC, doc_id) AS rk
        FROM lj)
    SELECT ranked.cluster_id, ranked.doc_id AS kept_doc_id,
           ranked.score AS kept_score, sizes.cluster_size,
           sizes.cluster_size - 1 AS n_dropped
    FROM ranked JOIN sizes USING (cluster_id)
    WHERE rk = 1
"""

# Shared by hll_distinct (direct) and hll_merge (per-day registers
# max-merged back together): because HLL register merge is associative
# and idempotent, both Spark paths must finish to the SAME estimates as
# this direct DuckDB computation.
# 12-core by 5 unrolled peel rounds over the co-purchase graph; each
# round = degree count -> keep(d >= 12) -> both-endpoint semi-filter.
# Peeling is monotone, so converged <=> round 5 deleted nothing.
_KCORE_SQL = (
    """
            WITH tcl AS (SELECT l_orderkey AS o, l_partkey AS p
                         FROM lineitem WHERE l_orderkey % 5 = 0),
            e0 AS MATERIALIZED (SELECT DISTINCT a.p AS a, b.p AS b
                   FROM tcl a JOIN tcl b ON a.o = b.o AND a.p < b.p)"""
    + "".join(
        f""",
            d{r} AS (SELECT n, count(*) AS d
                   FROM (SELECT a AS n FROM e{r}
                         UNION ALL SELECT b FROM e{r}) GROUP BY n),
            k{r} AS (SELECT n FROM d{r} WHERE d >= 12),
            e{r + 1} AS MATERIALIZED (SELECT e.a, e.b FROM e{r} e
                   JOIN k{r} x ON e.a = x.n
                   JOIN k{r} y ON e.b = y.n)"""
        for r in range(5)
    )
    + """
            SELECT n AS node, CAST(count(*) AS BIGINT) AS degree,
                   (SELECT count(*) FROM e5) = (SELECT count(*) FROM e4)
                       AS converged
            FROM (SELECT a AS n FROM e5 UNION ALL SELECT b FROM e5)
            GROUP BY n ORDER BY node"""
)

_HLL_SQL = """
    WITH h0 AS (
        SELECT event_type AS grp,
               CAST(concat('0x', substr(sha256(concat('hll:',
                    CAST(user_id AS VARCHAR))), 1, 8)) AS UBIGINT)
                   % 4294967296 AS h
        FROM events),
    hh AS (SELECT grp, CAST(h % 64 AS BIGINT) AS j,
                  CAST(h // 64 AS BIGINT) AS rem FROM h0),
    rr AS (SELECT grp, j,
                  CASE WHEN rem = 0 THEN 27
                       ELSE 27 - length(bin(rem)) END AS rho
           FROM hh),
    regs AS (SELECT grp, j, max(rho) AS M FROM rr GROUP BY grp, j),
    grid AS (SELECT g.grp, gj.j
             FROM (SELECT DISTINCT grp FROM h0) g,
                  (SELECT unnest(range(0, 64)) AS j) gj),
    fl AS (SELECT grid.grp, grid.j, coalesce(regs.M, 0) AS M
           FROM grid LEFT JOIN regs
             ON grid.grp = regs.grp AND grid.j = regs.j),
    ag AS (SELECT grp,
                  CAST(sum(CASE WHEN M = 0 THEN 1 ELSE 0 END) AS BIGINT)
                      AS n_zero,
                  CAST(sum(CAST(1 AS BIGINT) << (27 - M)) AS BIGINT)
                      AS s_scaled
           FROM fl GROUP BY grp)
    SELECT grp, n_zero, s_scaled,
           CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE)
               * CAST(134217728 AS DOUBLE) / s_scaled AS est_hll
    FROM ag
"""


def _pagerank_oracle(iterations: int = 6) -> str:
    """Unrolled power-iteration oracle: r{i} CTEs chained to the
    requested depth, each mirroring operators/cluster.py pagerank's
    integer update rule (base (15*scale) // (100*N), contrib
    rank // odeg, damped (85*m) // 100) with the defaults scale=1e12,
    damping_pct=85."""
    cte = [
        "WITH cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),",
        "raw AS (SELECT CAST(doc_id AS BIGINT) AS src FROM documents),",
        # three UNION ALL arms instead of unnest-over-a-list: DuckDB
        # 1.x has an internal binder error referencing an unnest alias
        # from a downstream CTE's WHERE clause.
        "tri AS (SELECT src, (src*31+7) % n AS dst FROM raw, cnt"
        " UNION ALL SELECT src, (src*17+3) % n FROM raw, cnt"
        " UNION ALL SELECT src, (src*101+13) % n FROM raw, cnt),",
        "edges AS (SELECT src, dst FROM tri WHERE dst <> src),",
        "nodes AS (SELECT DISTINCT node FROM"
        " (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),",
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM nodes),",
        "odeg AS (SELECT src, CAST(count(*) AS BIGINT) AS odeg"
        " FROM edges GROUP BY src),",
        "ed AS (SELECT e.src, e.dst, o.odeg FROM edges e JOIN odeg o USING (src)),",
        "r0 AS (SELECT node, (1000000000000 // nn.nn) AS rank FROM nodes, nn)",
    ]
    for i in range(1, iterations + 1):
        cte.append(
            f", r{i} AS (SELECT nd.node,"
            f" (15 * 1000000000000) // (100 * nn.nn)"
            f" + (85 * coalesce(s.m, CAST(0 AS BIGINT))) // 100 AS rank"
            f" FROM nodes nd CROSS JOIN nn"
            f" LEFT JOIN (SELECT e.dst AS node,"
            f" CAST(sum(r.rank // e.odeg) AS BIGINT) AS m"
            f" FROM r{i - 1} r JOIN ed e ON r.node = e.src"
            f" GROUP BY e.dst) s ON nd.node = s.node)"
        )
    cte.append(
        f" SELECT node, CAST(rank AS BIGINT) AS rank_scaled"
        f" FROM r{iterations} ORDER BY node"
    )
    return "\n".join(cte)


#: Weighted (multiset) n-gram Jaccard pair evidence — shared by the
#: weighted_jaccard [Q] (raw pairs) and weighted_dedup (pairs ->
#: transitive closure -> canonical survivor via _KEEP_BEST_TAIL).
#: Ends with wjp(id_a, id_b, inter, ta, tb, wjaccard), unfiltered.
_WJ_PAIRS_SQL = """
            shw AS (
                SELECT id, shingle, CAST(count(*) AS BIGINT) AS w FROM (
                    SELECT doc_id AS id,
                           unnest(list_transform(
                               range(1, greatest(length(text) - 7, 1) + 1),
                               g -> substring(text, g, 8))) AS shingle
                    FROM documents)
                WHERE length(shingle) = 8
                GROUP BY id, shingle),
            rare AS (SELECT shingle FROM shw
                     GROUP BY shingle HAVING count(*) <= 100),
            shf AS (SELECT shw.id, shw.shingle, shw.w
                    FROM shw JOIN rare USING (shingle)),
            totals AS (SELECT id, CAST(sum(w) AS BIGINT) AS t
                       FROM shf GROUP BY id),
            ix AS (
                SELECT a.id AS id_a, b.id AS id_b,
                       CAST(sum(least(a.w, b.w)) AS BIGINT) AS inter
                FROM shf a JOIN shf b USING (shingle)
                WHERE a.id < b.id GROUP BY 1, 2),
            wjp AS (
                SELECT id_a, id_b, inter, ta.t AS ta, tb.t AS tb,
                       inter / (ta.t + tb.t - inter) AS wjaccard
                FROM ix
                JOIN totals ta ON ta.id = id_a
                JOIN totals tb ON tb.id = id_b)
"""


def _wordpiece_sql(top: int = 64, max_len: int = 4) -> str:
    """WITH-RECURSIVE chain replaying WordPiece greedy longest-match
    segmentation: frequency-induced vocab (top multi-char full cuts +
    all single chars), a precomputed longest-match step table per
    (word, position), then the walk as a recursive CTE following
    pos -> pos + len(piece). Ends with wc(w, weight) and
    segs(w, pieces, n_pieces)."""
    return f"""
    WITH RECURSIVE wc AS (
        SELECT w, CAST(count(*) AS BIGINT) AS weight FROM (
            SELECT unnest(list_filter(
                regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '')) AS w
            FROM documents) t
        GROUP BY w),
    pc AS (
        SELECT substring(w, CAST(p AS INT), CAST(l AS INT)) AS piece,
               sum(weight) AS occ
        FROM wc,
             unnest(range(1, length(w) + 1)) AS tp(p),
             unnest(range(2, {max_len + 1})) AS tl(l)
        WHERE p + l - 1 <= length(w)
        GROUP BY 1),
    multi AS (SELECT piece FROM pc
              ORDER BY occ DESC, piece ASC LIMIT {top}),
    chars AS (SELECT DISTINCT substring(w, CAST(p AS INT), 1) AS piece
              FROM wc, unnest(range(1, length(w) + 1)) AS tp(p)),
    vocab AS MATERIALIZED (
        SELECT piece FROM multi UNION SELECT piece FROM chars),
    pos AS MATERIALIZED (
        SELECT w, CAST(p AS BIGINT) AS pos
        FROM wc, unnest(range(1, length(w) + 1)) AS tp(p)),
    mtc AS MATERIALIZED (
        SELECT w, pos, piece FROM (
            SELECT p.w, p.pos, v.piece,
                   row_number() OVER (PARTITION BY p.w, p.pos
                       ORDER BY length(v.piece) DESC, v.piece) AS rn
            FROM pos p JOIN vocab v
              ON p.pos + length(v.piece) - 1 <= length(p.w)
             AND substring(p.w, CAST(p.pos AS INT), length(v.piece))
                 = v.piece)
        WHERE rn = 1),
    step AS MATERIALIZED (
        SELECT p.w, p.pos,
               coalesce(m.piece,
                        substring(p.w, CAST(p.pos AS INT), 1)) AS piece
        FROM pos p LEFT JOIN mtc m ON m.w = p.w AND m.pos = p.pos),
    walk(w, pos, idx, piece) AS (
        SELECT w, CAST(1 AS BIGINT), CAST(0 AS BIGINT),
               CAST(NULL AS VARCHAR)
        FROM wc
        UNION ALL
        SELECT s.w, wk.pos + length(s.piece), wk.idx + 1, s.piece
        FROM walk wk JOIN step s ON s.w = wk.w AND s.pos = wk.pos),
    segs AS (
        SELECT w, string_agg(piece, '|' ORDER BY idx) AS pieces,
               CAST(count(*) AS BIGINT) AS n_pieces
        FROM walk WHERE idx >= 1 GROUP BY w)"""


def _unigram_ml(x: str) -> str:
    """SQL for the exact piecewise-linear milli-log2 of BIGINT ``x``:
    e = bit_length - 1 via binary-string length (no float log), then
    1000*e + (x - 2^e)*1000 div 2^e — identical integer arithmetic to
    operators/unigram.py::_ml."""
    e = f"(length(format('{{:b}}', {x})) - 1)"
    return (
        f"(1000 * {e} + (({x} - (1::BIGINT << {e})) * 1000)"
        f" // (1::BIGINT << {e}))"
    )


def _unigram_pass(
    sfx: str,
    vocab_cte: str,
    max_len: int,
    *,
    wc: str = "wc",
    wlen: str = "wlen",
    pos: str = "pos",
    unk: str | None = None,
) -> str:
    """One Viterbi DP pass as CTEs (appended inside a WITH RECURSIVE):
    transition-cost arrays per (word, position) — built from the POS
    table via LEFT JOIN so every position has a row, with the l=1 slot
    coalesced to the ``unk`` scalar when given (the cross-corpus apply
    pass: an unmatched char prices as Laplace count 1) — then the
    backward DP as a recursive CTE carrying the best-cost vector as
    LIST state (bests[j] = best cost at position pos+j), and the
    forward walk re-deriving each step's argmin with the longest-piece
    tie-break (max index at the minimum — mirrors the UDF's
    descending-length strict-< loop). Produces tca{sfx}, bfin{sfx},
    fwd{sfx} over the ``wc``/``wlen``/``pos`` corpus CTEs."""
    maxcases = ",\n                ".join(
        f"max(CASE WHEN l = {i} THEN cost END) AS c{i}"
        for i in range(1, max_len + 1)
    )
    first = f"coalesce(g.c1, {unk})" if unk else "g.c1"
    arr = ", ".join([first] + [f"g.c{i}" for i in range(2, max_len + 1)])
    lexpr = (
        "list_max(list_filter(list_transform(t.tc, (c, i) ->"
        " CASE WHEN c + bf.bests[CAST(f.pos + i AS INT)]"
        " = bf.bests[CAST(f.pos AS INT)] THEN i END),"
        " x -> x IS NOT NULL))"
    )
    return f"""
    tc{sfx} AS (
        SELECT p.w, p.pos, length(v.piece) AS l, v.cost
        FROM {pos} p JOIN {vocab_cte} v
          ON substring(p.w, CAST(p.pos AS INT), length(v.piece)) = v.piece
         AND p.pos + length(v.piece) - 1 <= p.L),
    tcg{sfx} AS (
        SELECT w, pos,
               {maxcases}
        FROM tc{sfx} GROUP BY w, pos),
    tca{sfx} AS MATERIALIZED (
        SELECT p.w, p.pos, [{arr}] AS tc
        FROM {pos} p LEFT JOIN tcg{sfx} g
          ON g.w = p.w AND g.pos = p.pos),
    back{sfx}(w, r, bests) AS (
        SELECT w, CAST(0 AS BIGINT), [CAST(0 AS BIGINT)] FROM {wc}
        UNION ALL
        SELECT b.w, b.r + 1,
               list_prepend(
                 list_min(list_filter(
                   list_transform(t.tc, (c, i) -> c + b.bests[i]),
                   x -> x IS NOT NULL)),
                 b.bests)
        FROM back{sfx} b
        JOIN {wlen} wl ON wl.w = b.w
        JOIN tca{sfx} t ON t.w = b.w AND t.pos = wl.L - b.r
        WHERE b.r < wl.L),
    bfin{sfx} AS MATERIALIZED (
        SELECT b.w, b.bests FROM back{sfx} b
        JOIN {wlen} wl ON wl.w = b.w AND b.r = wl.L),
    fwd{sfx}(w, pos, idx, piece) AS (
        SELECT w, CAST(1 AS BIGINT), CAST(0 AS BIGINT),
               CAST(NULL AS VARCHAR) FROM {wc}
        UNION ALL
        SELECT f.w, f.pos + {lexpr}, f.idx + 1,
               substring(f.w, CAST(f.pos AS INT), CAST({lexpr} AS INT))
        FROM fwd{sfx} f
        JOIN {wlen} wl ON wl.w = f.w
        JOIN bfin{sfx} bf ON bf.w = f.w
        JOIN tca{sfx} t ON t.w = f.w AND t.pos = f.pos
        WHERE f.pos <= wl.L)"""


def _unigram_sql(seed_top: int = 48, target: int = 24, max_len: int = 4) -> str:
    """Replay of operators/unigram.py's whole hard-EM chain: seed
    vocab (frequency full cuts + all chars, Laplace milli-log2 costs),
    Viterbi pass A, usage recount, prune to `target` multi pieces +
    all chars, re-cost, Viterbi pass B — every cost an exact integer
    (see _unigram_ml), every DP comparison replayed bit-for-bit by the
    list-state recursion in _unigram_pass. Ends with wc, v1, vc1,
    bfinB, fwdB for the two [Q] tails."""
    ml_t = _unigram_ml("tp")
    ml_f = _unigram_ml("(f + 1)")
    return f"""
    WITH RECURSIVE wc AS (
        SELECT w, CAST(count(*) AS BIGINT) AS weight FROM (
            SELECT unnest(list_filter(
                regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '')) AS w
            FROM documents) t
        GROUP BY w),
    wlen AS MATERIALIZED (
        SELECT w, CAST(length(w) AS BIGINT) AS L FROM wc),
    pos AS MATERIALIZED (
        SELECT wl.w, wl.L, CAST(p AS BIGINT) AS pos
        FROM wlen wl, unnest(range(1, wl.L + 1)) AS tp(p)),
    pc AS (
        SELECT substring(w, CAST(p AS INT), CAST(l AS INT)) AS piece,
               sum(weight) AS occ
        FROM wc,
             unnest(range(1, length(w) + 1)) AS tp(p),
             unnest(range(2, {max_len + 1})) AS tl(l)
        WHERE p + l - 1 <= length(w)
        GROUP BY 1),
    multi0 AS (SELECT piece, CAST(occ AS BIGINT) AS f FROM pc
               ORDER BY occ DESC, piece ASC LIMIT {seed_top}),
    chars0 AS (
        SELECT substring(w, CAST(p AS INT), 1) AS piece,
               CAST(sum(weight) AS BIGINT) AS f
        FROM wc, unnest(range(1, length(w) + 1)) AS tp(p)
        GROUP BY 1),
    v0 AS (SELECT piece, f FROM multi0
           UNION ALL SELECT piece, f FROM chars0),
    t0 AS (SELECT CAST(sum(f + 1) AS BIGINT) AS tp FROM v0),
    vc0 AS MATERIALIZED (
        SELECT piece, CAST({ml_t} - {ml_f} AS BIGINT) AS cost
        FROM v0, t0),
    {_unigram_pass("A", "vc0", max_len)},
    usageA AS (
        SELECT f.piece, CAST(sum(wc.weight) AS BIGINT) AS usage
        FROM fwdA f JOIN wc ON wc.w = f.w
        WHERE f.idx >= 1 GROUP BY 1),
    multi1 AS (SELECT piece, usage AS f FROM usageA
               WHERE length(piece) > 1
               ORDER BY usage DESC, piece ASC LIMIT {target}),
    chars1 AS (
        SELECT c.piece, CAST(coalesce(u.usage, 0) AS BIGINT) AS f
        FROM (SELECT DISTINCT piece FROM chars0) c
        LEFT JOIN usageA u USING (piece)),
    v1 AS (SELECT piece, f FROM multi1
           UNION ALL SELECT piece, f FROM chars1),
    t1 AS (SELECT CAST(sum(f + 1) AS BIGINT) AS tp FROM v1),
    vc1 AS MATERIALIZED (
        SELECT piece, CAST({ml_t} - {ml_f} AS BIGINT) AS cost
        FROM v1, t1),
    {_unigram_pass("B", "vc1", max_len)}"""


def _unigram_apply_sql(
    seed_top: int = 48, target: int = 24, max_len: int = 4
) -> str:
    """Cross-corpus apply replay: the full _unigram_sql induction
    chain, then the APPLY corpus (vowels uppercased via translate —
    chars the induction never saw) segmented by one more Viterbi pass
    whose l=1 transition slot coalesces to the unk cost ml(T') (the
    Laplace-count-1 price — operators/unigram.py::_costs)."""
    ml_t = _unigram_ml("tp")
    return _unigram_sql(seed_top, target, max_len) + f""",
    wcapp AS (
        SELECT w, CAST(count(*) AS BIGINT) AS weight FROM (
            SELECT unnest(list_filter(
                regexp_split_to_array(
                    translate(text, 'aeiou', 'AEIOU'), '[ \\t\\n\\x0B\\f\\r]+'),
                x -> x <> '')) AS w
            FROM documents) t
        GROUP BY w),
    wlenapp AS MATERIALIZED (
        SELECT w, CAST(length(w) AS BIGINT) AS L FROM wcapp),
    posapp AS MATERIALIZED (
        SELECT wl.w, wl.L, CAST(p AS BIGINT) AS pos
        FROM wlenapp wl, unnest(range(1, wl.L + 1)) AS tp(p)),
    unkv AS (SELECT CAST({ml_t} AS BIGINT) AS u FROM t1),
    {_unigram_pass("U", "vc1", max_len, wc="wcapp", wlen="wlenapp",
                   pos="posapp", unk="(SELECT u FROM unkv)")}"""


def _qdigest_sql(bits: int = 20, k: int = 64) -> str:
    """Replay of functions/sketches.py's q-digest build: the leaf
    histogram (orders cents div 64), the floor(n/k) threshold, then
    the bottom-up compression UNROLLED one CTE triple per level (the
    _mg_sql fold discipline — MATERIALIZED to keep DuckDB's inlining
    linear): children merge into the parent iff subtree sum + parent
    count <= thr, else they stay. Ends with meta(n, thr) and l0 (the
    final digest) for the quantile / guarantee tails."""
    chain = f"""
    WITH l{bits} AS MATERIALIZED (
        SELECT v + {1 << bits} AS id, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT CAST(round(o_totalprice * 100) AS BIGINT) // 64 AS v
              FROM orders) t
        GROUP BY 1),
    meta AS MATERIALIZED (
        SELECT CAST(sum(cnt) AS BIGINT) AS n,
               CAST(sum(cnt) // {k} AS BIGINT) AS thr
        FROM l{bits})"""
    for d in range(bits, 0, -1):
        lo, hi, parlo = 1 << d, 2 << d, 1 << (d - 1)
        chain += f""",
    s{d} AS MATERIALIZED (
        SELECT id // 2 AS pid, CAST(sum(cnt) AS BIGINT) AS csum
        FROM l{d} WHERE id >= {lo} AND id < {hi} GROUP BY 1),
    p{d} AS MATERIALIZED (
        SELECT coalesce(s.pid, p.id) AS id,
               coalesce(s.csum, 0) AS csum, coalesce(p.cnt, 0) AS pcnt
        FROM s{d} s FULL JOIN
             (SELECT id, cnt FROM l{d}
              WHERE id >= {parlo} AND id < {lo}) p
          ON p.id = s.pid),
    l{d - 1} AS MATERIALIZED (
        SELECT id, cnt FROM l{d} WHERE id >= {hi} OR id < {parlo}
        UNION ALL
        SELECT c.id, c.cnt FROM l{d} c JOIN p{d} pp ON c.id // 2 = pp.id
        WHERE c.id >= {lo} AND c.id < {hi}
          AND pp.csum + pp.pcnt > (SELECT thr FROM meta)
        UNION ALL
        SELECT id, CASE WHEN csum + pcnt <= (SELECT thr FROM meta)
                        THEN csum + pcnt ELSE pcnt END AS cnt
        FROM p{d}
        WHERE (CASE WHEN csum + pcnt <= (SELECT thr FROM meta)
                    THEN csum + pcnt ELSE pcnt END) > 0)"""
    chain += f""",
    nd AS (SELECT id, cnt,
               (1::BIGINT << ({bits} - (length(format('{{:b}}', id)) - 1)))
                   AS span
           FROM l0),
    nd2 AS (SELECT id, cnt, span,
               (id - (1::BIGINT
                   << (length(format('{{:b}}', id)) - 1))) * span
                   + span - 1 AS e
            FROM nd),
    cum AS (SELECT e, CAST(sum(cnt) OVER (ORDER BY e ASC, span ASC,
                id ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum
            FROM nd2),
    tgt AS (SELECT n, CAST(q_milli AS BIGINT) AS q_milli,
                   CAST((q_milli * n + 999) // 1000 AS BIGINT)
                       AS target_rank
            FROM meta, unnest([250, 500, 750, 900, 990]) AS t(q_milli)),
    quant AS (SELECT t.q_milli, CAST(min(c.e) AS BIGINT) AS value,
                     t.target_rank, t.n
              FROM tgt t JOIN cum c ON c.cum >= t.target_rank
              GROUP BY 1, 3, 4)"""
    return chain


def _qdigest_grp_sql(bits: int = 20, k: int = 32) -> str:
    """Grouped twin of _qdigest_sql: the group key threaded through
    every CTE, the per-group floor(n_g/k) threshold joined from gmeta
    instead of a scalar subquery. Ends with gmeta and lg0."""
    chain = f"""
    WITH lg{bits} AS MATERIALIZED (
        SELECT grp, v + {1 << bits} AS id, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT o_orderpriority AS grp,
                     CAST(round(o_totalprice * 100) AS BIGINT) // 64 AS v
              FROM orders) t
        GROUP BY 1, 2),
    gmeta AS MATERIALIZED (
        SELECT grp, CAST(sum(cnt) AS BIGINT) AS n,
               CAST(sum(cnt) // {k} AS BIGINT) AS thr
        FROM lg{bits} GROUP BY 1)"""
    for d in range(bits, 0, -1):
        lo, hi, parlo = 1 << d, 2 << d, 1 << (d - 1)
        chain += f""",
    sg{d} AS MATERIALIZED (
        SELECT grp, id // 2 AS pid, CAST(sum(cnt) AS BIGINT) AS csum
        FROM lg{d} WHERE id >= {lo} AND id < {hi} GROUP BY 1, 2),
    pg{d} AS MATERIALIZED (
        SELECT coalesce(s.grp, p.grp) AS grp,
               coalesce(s.pid, p.id) AS id,
               coalesce(s.csum, 0) AS csum, coalesce(p.cnt, 0) AS pcnt
        FROM sg{d} s FULL JOIN
             (SELECT grp, id, cnt FROM lg{d}
              WHERE id >= {parlo} AND id < {lo}) p
          ON p.grp = s.grp AND p.id = s.pid),
    lg{d - 1} AS MATERIALIZED (
        SELECT grp, id, cnt FROM lg{d} WHERE id >= {hi} OR id < {parlo}
        UNION ALL
        SELECT c.grp, c.id, c.cnt
        FROM lg{d} c JOIN pg{d} pp
          ON pp.grp = c.grp AND c.id // 2 = pp.id
        JOIN gmeta m ON m.grp = c.grp
        WHERE c.id >= {lo} AND c.id < {hi}
          AND pp.csum + pp.pcnt > m.thr
        UNION ALL
        SELECT pp.grp, pp.id,
               CASE WHEN pp.csum + pp.pcnt <= m.thr
                    THEN pp.csum + pp.pcnt ELSE pp.pcnt END AS cnt
        FROM pg{d} pp JOIN gmeta m ON m.grp = pp.grp
        WHERE (CASE WHEN pp.csum + pp.pcnt <= m.thr
                    THEN pp.csum + pp.pcnt ELSE pp.pcnt END) > 0)"""
    chain += f""",
    ndg AS (SELECT grp, id, cnt,
               (1::BIGINT << ({bits} - (length(format('{{:b}}', id)) - 1)))
                   AS span
            FROM lg0),
    ndg2 AS (SELECT grp, id, cnt, span,
               (id - (1::BIGINT
                   << (length(format('{{:b}}', id)) - 1))) * span
                   + span - 1 AS e
             FROM ndg),
    cumg AS (SELECT grp, e, CAST(sum(cnt) OVER (PARTITION BY grp
                 ORDER BY e ASC, span ASC, id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum
             FROM ndg2),
    tgtg AS (SELECT grp, n, CAST(q_milli AS BIGINT) AS q_milli,
                    CAST((q_milli * n + 999) // 1000 AS BIGINT)
                        AS target_rank
             FROM gmeta,
                  unnest([250, 500, 750, 900, 990]) AS t(q_milli))"""
    return chain


def _ndcg_sql(k: int = 10) -> str:
    """Replay of the q_ndcg fixture + metric: the SAME micro-discount
    literals as the Spark side (generated by _ndcg_discounts — one
    source of truth, the log never runs in either engine), shiftleft
    gains, best-rank dedup, ideal ranking window. Ends with CTEs
    q/d/i for the per-query and summary tails."""
    from sutro_spark.operators.metrics import _ndcg_discounts

    disc = "[" + ", ".join(str(d) for d in _ndcg_discounts(k)) + "]"
    return f"""
            WITH j AS (
                SELECT user_id % 20 AS query, event_id % 37 AS item,
                       CAST(max(event_id % 4) AS BIGINT) AS grade
                FROM events GROUP BY 1, 2),
            q AS (SELECT DISTINCT query FROM j),
            r AS (SELECT query, (query * 5 + rank * 7) % 37 AS item,
                         CAST(rank AS BIGINT) AS rank
                  FROM q, unnest(range(1, {k + 1})) AS t(rank)),
            r2 AS (SELECT query, item, min(rank) AS rank
                   FROM r GROUP BY 1, 2),
            d AS (SELECT j.query,
                         CAST(sum(((1::BIGINT << grade) - 1)
                             * ({disc})[CAST(r2.rank AS INT)])
                             AS BIGINT) AS dcg_micro
                  FROM r2 JOIN j ON j.query = r2.query
                                AND j.item = r2.item
                  GROUP BY 1),
            i AS (SELECT query,
                         CAST(sum(((1::BIGINT << grade) - 1)
                             * ({disc})[CAST(rn AS INT)])
                             AS BIGINT) AS idcg_micro
                  FROM (SELECT query, grade,
                               row_number() OVER (PARTITION BY query
                                   ORDER BY grade DESC, item ASC) AS rn
                        FROM j) s
                  WHERE rn <= {k} GROUP BY 1),
            per AS (
                SELECT q.query,
                       coalesce(d.dcg_micro, 0) AS dcg_micro,
                       coalesce(i.idcg_micro, 0) AS idcg_micro
                FROM q LEFT JOIN d USING (query)
                       LEFT JOIN i USING (query))"""


def _script_gate_sql(threshold: int = 800) -> str:
    """Replay of q_script_gate: rebuild the deterministically injected
    multilingual text from _SCRIPT_GATE_INJECT (one source of truth),
    then the nine SCRIPT_CLASSES strip counts, class-order dominant
    tie-break, exact milli ratio, and the mixed gate — generated FROM
    the same class list the Spark operator uses."""
    from sutro_spark.functions.text import SCRIPT_CLASSES

    inj = "".join(
        f"\n                   || CASE WHEN doc_id % {m} = 0"
        f" THEN '{s}' ELSE '' END"
        for m, s in _SCRIPT_GATE_INJECT
    )
    counts = ",\n                   ".join(
        "CAST(length(ct) - length(regexp_replace(ct, '"
        + ("[A-Za-z]" if rng is None
           else f"[\\x{{{rng[0]:04X}}}-\\x{{{rng[1]:04X}}}]")
        + f"', '', 'g')) AS BIGINT) AS n_{name}"
        for name, rng in SCRIPT_CLASSES
    )
    names = [name for name, _ in SCRIPT_CLASSES]
    total = " + ".join(f"n_{n}" for n in names)
    maxc = "greatest(" + ", ".join(f"n_{n}" for n in names) + ")"
    dom = "".join(
        f"\n                        WHEN n_{n} = maxc THEN '{n}'"
        for n in names
    )
    sel = ", ".join(f"n_{n}" for n in names)
    return f"""
            WITH m AS (
                SELECT doc_id AS id,
                   substring(coalesce(text, ''), 1,
                       CASE WHEN doc_id % 25 = 0 THEN 10
                            ELSE 60 END){inj} AS ct
                FROM documents),
            p AS (
                SELECT id, CAST(length(ct) AS BIGINT) AS n_chars,
                   {counts}
                FROM m),
            q AS (SELECT *, CAST({total} AS BIGINT) AS n_letters,
                         {maxc} AS maxc FROM p)
            SELECT id, n_chars, {sel}, n_letters,
                   CASE WHEN n_letters = 0 THEN 'none'{dom}
                        END AS dominant,
                   CASE WHEN n_letters > 0
                        THEN (1000 * maxc) // n_letters
                        END AS dominant_milli,
                   (n_letters > 0 AND
                    (1000 * maxc) // n_letters < {threshold}) AS mixed
            FROM q ORDER BY id"""


def _mojibake_sql() -> str:
    """Replay of q_encoding_damage: deterministic corruption (every
    7th doc's 'a's double-decoded, every 11th doc a trailing U+FFFD),
    then the substitution-arithmetic counters over the SAME marker
    list — one source of truth via MOJIBAKE_MARKERS."""
    from sutro_spark.functions.text import MOJIBAKE_MARKERS

    mark = MOJIBAKE_MARKERS[0]
    counts = " + ".join(
        f"(length(ct) - length(replace(ct, '{m}', ''))) // {len(m)}"
        for m in MOJIBAKE_MARKERS
    )
    return f"""
    WITH c AS (
        SELECT doc_id AS id,
               CASE WHEN doc_id % 7 = 0
                    THEN replace(coalesce(text, ''), 'a', '{mark}')
                    ELSE coalesce(text, '') END
               || CASE WHEN doc_id % 11 = 0 THEN '�' ELSE '' END
                   AS ct
        FROM documents),
    p AS (
        SELECT id,
               CAST({counts} AS BIGINT) AS n_mojibake,
               CAST((length(ct) - length(replace(ct, '�', '')))
                   AS BIGINT) AS n_replacement
        FROM c)
    SELECT id, n_mojibake, n_replacement,
           (n_mojibake + n_replacement) > 0 AS damaged
    FROM p ORDER BY id"""


def _mg_sql(k: int = 4, buckets: int = 8) -> str:
    """WITH-chain replaying the mergeable Misra-Gries fold: per-bucket
    MG truncation (subtract the (k+1)-th largest count, keep positive
    top-k), then buckets folded left-to-right — each merge = add ests,
    truncate again. Materialized CTEs keep DuckDB's inlining linear.
    Ends with the final summary named m{buckets-1}(key, est)."""
    kp1 = k + 1
    sql = f"""
    WITH s AS (
        SELECT CAST(event_id & -event_id AS VARCHAR) AS key,
               CAST(CAST(concat('0x', substr(sha256(
                   concat('mg:', CAST(event_id AS VARCHAR))), 1, 8))
                   AS UBIGINT) % {buckets} AS BIGINT) AS bucket
        FROM events WHERE event_id IS NOT NULL),
    c AS (SELECT bucket, key, CAST(count(*) AS BIGINT) AS est
          FROM s GROUP BY bucket, key),
    r AS (SELECT bucket, key, est,
                 row_number() OVER (PARTITION BY bucket
                     ORDER BY est DESC, key ASC) AS rn
          FROM c),
    t AS (SELECT bucket, est AS thr FROM r WHERE rn = {kp1}),
    b AS MATERIALIZED (
          SELECT r.bucket, r.key, r.est - coalesce(t.thr, 0) AS est
          FROM r LEFT JOIN t USING (bucket)
          WHERE r.rn <= {k} AND r.est > coalesce(t.thr, 0)),
    m0 AS (SELECT key, est FROM b WHERE bucket = 0)"""
    prev = "m0"
    for i in range(1, buckets):
        sql += f""",
    r{i} AS MATERIALIZED (
        SELECT key, est, row_number() OVER
            (ORDER BY est DESC, key ASC) AS rn
        FROM (SELECT key, CAST(sum(est) AS BIGINT) AS est FROM (
              SELECT key, est FROM {prev}
              UNION ALL SELECT key, est FROM b WHERE bucket = {i})
              GROUP BY key)),
    m{i} AS (SELECT key, est - coalesce(
                 (SELECT est FROM r{i} WHERE rn = {kp1}), 0) AS est
             FROM r{i}
             WHERE rn <= {k} AND est > coalesce(
                 (SELECT est FROM r{i} WHERE rn = {kp1}), 0))"""
        prev = f"m{i}"
    return sql


def _ffd_sql(budget: int = 96, group_size: int = 64) -> str:
    """Recursive-CTE replay of blocked first-fit-decreasing packing:
    rank docs (n_tokens desc, doc_id), block into group_size runs,
    then iterate each block item-by-item carrying the open-bin fill
    LIST as recursion state — first fit = the first list position the
    item still fits, else append a bin. Ends selecting (grp, bin,
    doc_id, n_tokens) with overlong docs flagged (-1, -1)."""
    return f"""
    WITH RECURSIVE tok AS (
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(len(list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+'),
                                    x -> x <> '')) AS BIGINT) AS n_tokens
        FROM documents),
    ranked AS (
        SELECT doc_id, n_tokens,
               row_number() OVER (ORDER BY n_tokens DESC, doc_id ASC) - 1
                   AS rid
        FROM tok WHERE n_tokens <= {budget}),
    items AS MATERIALIZED (
        SELECT rid // {group_size} AS grp,
               CAST(rid % {group_size} + 1 AS BIGINT) AS idx,
               doc_id, n_tokens
        FROM ranked),
    gsz AS (SELECT grp FROM items GROUP BY grp),
    ffd(grp, idx, fills, doc_id, n_tokens, bin) AS (
        SELECT grp, CAST(0 AS BIGINT), CAST([] AS BIGINT[]),
               CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
               CAST(NULL AS BIGINT)
        FROM gsz
        UNION ALL
        SELECT f.grp, f.idx + 1,
               CASE WHEN pos IS NULL THEN list_append(f.fills, i.n_tokens)
                    ELSE list_transform(range(1, len(f.fills) + 1),
                             j -> CASE WHEN j = pos
                                  THEN f.fills[j] + i.n_tokens
                                  ELSE f.fills[j] END)
               END,
               i.doc_id, i.n_tokens,
               CASE WHEN pos IS NULL THEN CAST(len(f.fills) AS BIGINT)
                    ELSE pos - 1 END
        FROM ffd f
        JOIN items i ON i.grp = f.grp AND i.idx = f.idx + 1,
        LATERAL (SELECT list_filter(range(1, len(f.fills) + 1),
                     j -> f.fills[j] + i.n_tokens <= {budget})[1] AS pos) p
    ),
    packed AS (
        SELECT grp, bin, doc_id, n_tokens FROM ffd WHERE idx >= 1
        UNION ALL
        SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), doc_id, n_tokens
        FROM tok WHERE n_tokens > {budget})"""


def oracle_sql() -> dict[str, str]:
    return {
        "pagerank": _pagerank_oracle(6),
        "bm25_topk": _BM25_CTE + """
            SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
                   score_scaled, CAST(rnk AS BIGINT) AS rank
            FROM bm25r WHERE rnk <= 10 ORDER BY query_id, rank
        """,
        "cdc_chunks": _CDC_CTE + """
            SELECT id, chunk_seq, sub_seq, start_word, n_words,
                   chunk_hash
            FROM cdc_chunks_cte
        """,
        "fleiss_kappa": """
            WITH fkr AS (
                SELECT CAST(doc_id AS BIGINT) AS item, r.rater,
                       ['a', 'b', 'c'][CAST((doc_id * (r.rater + 2)) % 3
                           AS INTEGER) + 1] AS category
                FROM documents,
                     (SELECT unnest([0, 1, 2]) AS rater) r),
            fkc AS (SELECT item, category,
                           CAST(count(*) AS BIGINT) AS nic
                    FROM fkr GROUP BY item, category),
            fki AS (SELECT item, CAST(sum(nic) AS BIGINT) AS n_i,
                           CAST(sum(nic * nic) AS BIGINT) AS s2_i
                    FROM fkc GROUP BY item),
            fka AS (SELECT CAST(count(*) AS BIGINT) AS ni_,
                           CAST(sum(s2_i) AS BIGINT) AS s2,
                           CAST(max(n_i) AS BIGINT) AS nr_
                    FROM fki),
            fkt AS (SELECT category, CAST(sum(nic) AS BIGINT) AS tc
                    FROM fkc GROUP BY category),
            fkb AS (SELECT CAST(count(*) AS BIGINT) AS n_categories,
                           CAST(sum(tc * tc) AS BIGINT) AS c FROM fkt)
            SELECT ni_ AS n_items, nr_ AS n_raters, n_categories,
                   CAST(0 AS BIGINT) AS n_items_excluded,
                   CASE WHEN ni_ = 0 OR nr_ < 2
                        OR (ni_*nr_)*(ni_*nr_) = c THEN NULL ELSE
                        CAST((s2 - ni_*nr_) * (ni_*nr_)*(ni_*nr_)
                             - c * (ni_*nr_*(nr_-1)) AS DOUBLE)
                        / CAST((ni_*nr_*(nr_-1))
                               * ((ni_*nr_)*(ni_*nr_) - c) AS DOUBLE)
                   END AS kappa
            FROM fka, fkb
        """,
        "containment": f"""
            WITH {_SHINGLES_CTE},
            crare AS (SELECT shingle FROM sh GROUP BY shingle
                      HAVING count(*) <= 100),
            cshf AS (SELECT sh.id, sh.shingle
                     FROM sh JOIN crare USING (shingle)),
            csizes AS (SELECT id, count(*) AS n FROM cshf GROUP BY id),
            cinter AS (
                SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
                FROM cshf a JOIN cshf b USING (shingle)
                WHERE a.id < b.id GROUP BY 1, 2)
            SELECT id_a, id_b,
                   CASE WHEN sa.n <= sb.n THEN id_a ELSE id_b END
                       AS contained_id,
                   i / least(sa.n, sb.n) AS containment
            FROM cinter
            JOIN csizes sa ON sa.id = id_a
            JOIN csizes sb ON sb.id = id_b
            WHERE i / least(sa.n, sb.n) >= 0.6
            ORDER BY id_a, id_b
        """,
        "vocab_richness": """
            WITH vrt AS (
                SELECT unnest(list_filter(regexp_split_to_array(
                           lower(coalesce(text, '')), '[^a-z0-9]+'),
                           x -> x <> '')) AS tok
                FROM documents),
            vrc AS (SELECT tok, count(*) AS c FROM vrt GROUP BY tok),
            vra AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n_tokens,
                           CAST(count(*) AS BIGINT) AS n_types,
                           CAST(coalesce(sum(CASE WHEN c = 1 THEN 1 ELSE 0
                                END), 0) AS BIGINT) AS f1,
                           CAST(coalesce(sum(CASE WHEN c = 2 THEN 1 ELSE 0
                                END), 0) AS BIGINT) AS f2
                    FROM vrc)
            SELECT n_tokens, n_types, f1, f2,
                   CAST(2*(f2+1)*n_types + f1*(f1-1) AS DOUBLE)
                       / CAST(2*(f2+1) AS DOUBLE) AS chao1,
                   CASE WHEN n_tokens > 0 THEN
                       CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                   END AS gt_unseen_mass
            FROM vra
        """,
        "kcore": _KCORE_SQL,
        "readability": """
            WITH rdb AS (
                SELECT doc_id AS id,
                       CAST(len(list_filter(regexp_split_to_array(
                           coalesce(text, ''), '[.!?]+[ \\t\\n\\x0B\\f\\r]+'),
                           s -> s <> '')) AS BIGINT) AS n_sentences,
                       CAST(len(list_filter(regexp_split_to_array(
                           lower(coalesce(text, '')), '[^a-z0-9]+'),
                           x -> x <> '')) AS BIGINT) AS n_words,
                       CAST(len(regexp_extract_all(
                           lower(coalesce(text, '')), '[aeiouy]+'))
                           AS BIGINT) AS n_syllables
                FROM documents)
            SELECT id, n_sentences, n_words, n_syllables,
                   CASE WHEN n_sentences > 0 AND n_words > 0 THEN
                       CAST(206835 - (1015 * n_words) // n_sentences
                            - (84600 * n_syllables) // n_words
                            AS BIGINT) END AS flesch_milli
            FROM rdb ORDER BY id
        """,
        "hamilton_sample": """
            WITH hsz AS (SELECT source AS s,
                                CAST(count(*) AS BIGINT) AS g
                         FROM documents GROUP BY source),
            htot AS (SELECT CAST(coalesce(sum(g), 0) AS BIGINT) AS N
                     FROM hsz),
            hq AS (SELECT s, g,
                          CAST((137 * g) // N AS BIGINT) AS base,
                          CAST((137 * g) % N AS BIGINT) AS rem
                   FROM hsz, htot),
            hsp AS (SELECT CAST(137 - coalesce(sum(base), 0) AS BIGINT)
                               AS leftover
                    FROM hq),
            hal AS (SELECT s,
                           least(base + CASE WHEN
                               row_number() OVER (ORDER BY rem DESC,
                                                  g DESC, s ASC)
                               <= leftover THEN 1 ELSE 0 END, g)
                               AS alloc
                    FROM hq, hsp),
            hrk AS (SELECT d.doc_id, d.source,
                           row_number() OVER (
                               PARTITION BY d.source
                               ORDER BY CAST(concat('0x', substr(sha256(
                                   concat('hamilton:',
                                          CAST(d.doc_id AS VARCHAR))),
                                   1, 8)) AS UBIGINT) % 4294967296 ASC,
                                   d.doc_id ASC) AS rn,
                           a.alloc
                    FROM documents d JOIN hal a ON d.source = a.s)
            SELECT doc_id, source FROM hrk
            WHERE rn <= alloc ORDER BY doc_id
        """,
        "prefix_filter": """
            WITH pft AS (
                SELECT DISTINCT doc_id AS id,
                       unnest(list_filter(regexp_split_to_array(
                           lower(coalesce(text, '')), '[^a-z0-9]+'),
                           x -> x <> '')) AS t
                FROM documents WHERE doc_id % 10 = 0),
            pfd AS (SELECT t, CAST(count(*) AS BIGINT) AS dfq
                    FROM pft GROUP BY t),
            pfr AS (SELECT id, t,
                           row_number() OVER (PARTITION BY id
                                              ORDER BY dfq, t) AS pos,
                           count(*) OVER (PARTITION BY id) AS sz
                    FROM pft JOIN pfd USING (t)),
            pfp AS (SELECT id, t FROM pfr
                    WHERE pos <= sz - ((850 * sz + 999) // 1000) + 1),
            pfc AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                    FROM pfp a JOIN pfp b
                      ON a.t = b.t AND a.id < b.id),
            pfi AS (SELECT c.id_a, c.id_b,
                           CAST(count(*) AS BIGINT) AS inter
                    FROM pfc c
                    JOIN pft ta ON ta.id = c.id_a
                    JOIN pft tb ON tb.id = c.id_b AND tb.t = ta.t
                    GROUP BY c.id_a, c.id_b),
            pfs AS (SELECT id, CAST(count(*) AS BIGINT) AS n
                    FROM pft GROUP BY id)
            SELECT id_a, id_b, inter, sa.n AS na, sb.n AS nb,
                   CAST((1000 * inter) // (sa.n + sb.n - inter)
                        AS BIGINT) AS jaccard_milli
            FROM pfi
            JOIN pfs sa ON sa.id = id_a
            JOIN pfs sb ON sb.id = id_b
            WHERE 1000 * inter >= 850 * (sa.n + sb.n - inter)
            ORDER BY id_a, id_b
        """,
        "jl_project": """
            WITH jlj AS (SELECT unnest(range(0, 16)) AS j),
            jlc AS (SELECT unnest(range(0, 64)) AS d),
            jls AS (SELECT j, d,
                           CASE WHEN CAST(concat('0x', substr(sha256(
                                concat('jl', CAST(j AS VARCHAR), ':',
                                       CAST(d AS VARCHAR))), 1, 2))
                                AS UBIGINT) % 2 = 0
                                THEN 1 ELSE -1 END AS s
                    FROM jlj, jlc),
            jlq AS (SELECT vec_id AS id, d,
                           CAST(floor(CAST(embedding[CAST(d + 1 AS INT)]
                                AS DOUBLE) * 1048576) AS BIGINT) AS q
                    FROM embeddings, jlc
                    WHERE vec_id % 10 = 0)
            SELECT id, CAST(j AS INT) AS j,
                   CAST(sum(q * s) AS BIGINT) AS p
            FROM jlq JOIN jls USING (d)
            GROUP BY id, j ORDER BY id, j
        """,
        "kmv_set_ops": """
            WITH kse AS (
                SELECT DISTINCT event_type,
                       CAST(concat('0x', substr(sha256(concat('kmv:',
                            CAST(user_id AS VARCHAR))), 1, 8)) AS UBIGINT)
                           % 4294967296 AS h
                FROM events
                WHERE event_type IN ('click', 'purchase')
                  AND user_id IS NOT NULL),
            ksl AS (SELECT h FROM (
                        SELECT h, row_number() OVER (ORDER BY h ASC) rn
                        FROM kse WHERE event_type = 'click')
                    WHERE rn <= 64),
            ksr AS (SELECT h FROM (
                        SELECT h, row_number() OVER (ORDER BY h ASC) rn
                        FROM kse WHERE event_type = 'purchase')
                    WHERE rn <= 64),
            ksu AS (SELECT h FROM (
                        SELECT h, row_number() OVER (ORDER BY h ASC) rn
                        FROM (SELECT DISTINCT h FROM
                              (SELECT h FROM ksl
                               UNION ALL SELECT h FROM ksr)))
                    WHERE rn <= 64),
            fl AS (SELECT CAST(count(*) AS BIGINT) AS n_left_le_k,
                          CASE WHEN count(*) < 64
                               THEN CAST(count(*) AS DOUBLE)
                               ELSE (63.0 * 4294967296.0) / max(h) END
                              AS est_left
                   FROM ksl),
            fr AS (SELECT CAST(count(*) AS BIGINT) AS n_right_le_k,
                          CASE WHEN count(*) < 64
                               THEN CAST(count(*) AS DOUBLE)
                               ELSE (63.0 * 4294967296.0) / max(h) END
                              AS est_right
                   FROM ksr),
            fu AS (SELECT CASE WHEN count(*) < 64
                               THEN CAST(count(*) AS DOUBLE)
                               ELSE (63.0 * 4294967296.0) / max(h) END
                              AS est_union
                   FROM ksu)
            SELECT n_left_le_k, n_right_le_k, est_left, est_right,
                   est_union,
                   greatest(0.0, est_left + est_right - est_union)
                       AS est_intersection,
                   greatest(0.0, est_union - est_right) AS est_left_only,
                   greatest(0.0, est_union - est_left) AS est_right_only
            FROM fl, fr, fu
        """,
        "copurchase_triangles": """
            WITH tcl AS (SELECT l_orderkey AS o, l_partkey AS p
                         FROM lineitem WHERE l_orderkey % 5 = 0),
            tce AS (SELECT DISTINCT a.p AS a, b.p AS b
                    FROM tcl a JOIN tcl b
                      ON a.o = b.o AND a.p < b.p),
            tcd AS (SELECT n, CAST(count(*) AS BIGINT) AS d
                    FROM (SELECT a AS n FROM tce
                          UNION ALL SELECT b FROM tce)
                    GROUP BY n),
            tcr AS (SELECT n, d * 1099511627776 + n AS r FROM tcd),
            tco AS (SELECT CASE WHEN ra.r < rb.r THEN e.a ELSE e.b END
                               AS u,
                           CASE WHEN ra.r < rb.r THEN e.b ELSE e.a END
                               AS v,
                           greatest(ra.r, rb.r) AS rv
                    FROM tce e
                    JOIN tcr ra ON e.a = ra.n
                    JOIN tcr rb ON e.b = rb.n),
            tct AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
                    FROM (SELECT w1.v AS x, w2.v AS y
                          FROM tco w1 JOIN tco w2
                            ON w1.u = w2.u AND w1.rv < w2.rv) w
                    JOIN tco c ON w.x = c.u AND w.y = c.v),
            tcs AS (SELECT
                (SELECT CAST(count(*) AS BIGINT) FROM tce) AS n_edges,
                (SELECT CAST(count(*) AS BIGINT) FROM tcd) AS n_nodes,
                (SELECT CAST(coalesce(sum(d * (d - 1) // 2), 0)
                        AS BIGINT) FROM tcd) AS n_wedges)
            SELECT n_nodes, n_edges, n_wedges, n_triangles,
                   CASE WHEN n_wedges > 0 THEN
                       CAST(3 * n_triangles AS DOUBLE)
                           / CAST(n_wedges AS DOUBLE) END
                       AS clustering_coeff
            FROM tcs, tct
        """,
        "scd2_history": """
            WITH slog AS (
                SELECT DISTINCT user_id AS entity,
                       CAST(epoch_us(ts) // 1000000 AS BIGINT) AS ts,
                       event_type AS state
                FROM events
                WHERE event_type IS NOT NULL AND ts IS NOT NULL),
            sepi AS (
                SELECT entity, ts, state
                FROM (SELECT entity, ts, state,
                             lag(state) OVER (PARTITION BY entity
                                              ORDER BY ts, state) AS prev
                      FROM slog)
                WHERE prev IS NULL OR prev <> state)
            SELECT entity, state,
                   ts AS valid_from_s,
                   lead(ts) OVER w AS valid_to_s,
                   CAST(row_number() OVER w AS BIGINT) AS version,
                   lead(ts) OVER w IS NULL AS is_current
            FROM sepi
            WINDOW w AS (PARTITION BY entity ORDER BY ts, state)
            ORDER BY entity, version
        """,
        "krippendorff_alpha": """
            WITH kad AS (
                SELECT doc_id AS item,
                       unnest(range(0, CAST(2 + doc_id % 3 AS BIGINT)))
                           AS r
                FROM documents),
            kar AS (SELECT item, r,
                           (['a','b','c'])[CAST((item * (r + 2)) % 3 + 1
                                                AS INT)] AS cat
                    FROM kad),
            kac AS (SELECT item, cat, CAST(count(*) AS BIGINT) AS nic
                    FROM kar GROUP BY item, cat),
            kam AS (SELECT item, CAST(sum(nic) AS BIGINT) AS m_i,
                           CAST(sum(nic * nic) AS BIGINT) AS s2_i
                    FROM kac GROUP BY item),
            kap AS (SELECT item, m_i, m_i * m_i - s2_i AS a_i
                    FROM kam WHERE m_i >= 2),
            ka1 AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
                           CAST(coalesce(sum(m_i), 0) AS BIGINT)
                               AS n_values,
                           CAST(coalesce(sum(a_i * (2520 // (m_i - 1))),
                                0) AS BIGINT) AS s_scaled
                    FROM kap),
            kat AS (SELECT cat, CAST(sum(nic) AS BIGINT) AS tc
                    FROM kac JOIN kap USING (item) GROUP BY cat),
            ka2 AS (SELECT CAST(count(*) AS BIGINT) AS n_categories,
                           CAST(coalesce(sum(tc * (n_values - tc)), 0)
                                AS BIGINT) AS e_sum
                    FROM kat, ka1),
            kax AS (SELECT CAST(count(*) AS BIGINT) AS n_items_excluded
                    FROM kam WHERE m_i < 2)
            SELECT n_items, n_values, n_categories, n_items_excluded,
                   s_scaled, e_sum,
                   CASE WHEN n_values < 2 OR e_sum = 0 THEN NULL ELSE
                       CAST(2520 * e_sum - s_scaled * (n_values - 1)
                            AS DOUBLE) / CAST(2520 * e_sum AS DOUBLE)
                   END AS alpha
            FROM ka1, ka2, kax
        """,
        "yule_k": """
            WITH ykt AS (
                SELECT unnest(list_filter(regexp_split_to_array(
                           lower(coalesce(text, '')), '[^a-z0-9]+'),
                           x -> x <> '')) AS tok
                FROM documents),
            ykc AS (SELECT tok, count(*) AS c FROM ykt GROUP BY tok),
            yka AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n_tokens,
                           CAST(count(*) AS BIGINT) AS n_types,
                           CAST(coalesce(sum(c * c), 0) AS BIGINT) AS s2
                    FROM ykc)
            SELECT n_tokens, n_types, s2,
                   CASE WHEN n_tokens > 0 THEN
                       CAST(10000 * (s2 - n_tokens) AS DOUBLE)
                           / CAST(n_tokens * n_tokens AS DOUBLE)
                   END AS yule_k
            FROM yka
        """,
        "unigram_surprisal": """
            WITH ust AS (
                SELECT doc_id AS id,
                       unnest(list_filter(regexp_split_to_array(
                           lower(coalesce(text, '')), '[^a-z0-9]+'),
                           x -> x <> '')) AS tok
                FROM documents),
            usc AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
                    FROM ust GROUP BY tok),
            usn AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n_total
                    FROM usc),
            usb AS (SELECT id,
                           CAST(length(bin(n_total // c)) - 1 AS BIGINT)
                               AS bits
                    FROM ust JOIN usc USING (tok), usn)
            SELECT id AS doc_id,
                   CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(sum(bits) AS BIGINT) AS surprisal_bits,
                   CAST((1000 * sum(bits)) // count(*) AS BIGINT)
                       AS bpt_milli
            FROM usb GROUP BY id ORDER BY doc_id
        """,
        "ngram_novelty": """
            WITH nvt AS (
                SELECT doc_id AS id,
                       list_filter(regexp_split_to_array(
                           lower(coalesce(text, '')), '[ \\t\\n\\x0B\\f\\r]+'),
                           x -> x <> '') AS toks
                FROM documents),
            nvg AS (SELECT id,
                           CASE WHEN len(toks) >= 3 THEN
                               list_transform(range(1, len(toks) - 1),
                                   i -> concat_ws(' ',
                                        toks[CAST(i AS INTEGER)],
                                        toks[CAST(i + 1 AS INTEGER)],
                                        toks[CAST(i + 2 AS INTEGER)]))
                           ELSE [] END AS grams
                    FROM nvt),
            nvr AS (SELECT DISTINCT g
                    FROM (SELECT unnest(grams) AS g FROM nvg
                          WHERE id % 10 = 0)),
            nvp AS (SELECT id, unnest(grams) AS g FROM nvg),
            nva AS (SELECT p.id,
                           CAST(count(*) AS BIGINT) AS n_grams,
                           CAST(sum(CASE WHEN r.g IS NULL THEN 1
                                    ELSE 0 END) AS BIGINT) AS n_unseen
                    FROM nvp p LEFT JOIN nvr r ON p.g = r.g
                    GROUP BY p.id)
            SELECT d.id,
                   coalesce(n_grams, 0) AS n_grams,
                   coalesce(n_unseen, 0) AS n_unseen,
                   CASE WHEN coalesce(n_grams, 0) = 0 THEN NULL
                        ELSE CAST((1000 * n_unseen) // n_grams AS BIGINT)
                   END AS novelty_milli
            FROM (SELECT CAST(doc_id AS BIGINT) AS id FROM documents) d
            LEFT JOIN nva ON d.id = nva.id
            ORDER BY d.id
        """,
        "length_buckets": """
            WITH lbl AS (
                SELECT doc_id AS id,
                       CAST(len(list_filter(regexp_split_to_array(
                           coalesce(text, ''), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> ''))
                           AS BIGINT) AS l
                FROM documents),
            lbb AS (SELECT id, l,
                           CAST(CASE WHEN l <= 32 THEN 0
                                     WHEN l <= 64 THEN 1
                                     WHEN l <= 128 THEN 2
                                     ELSE 3 END AS BIGINT) AS bucket
                    FROM lbl),
            lbg AS (SELECT CAST(max(l) AS BIGINT) AS gmax FROM lbl)
            SELECT bucket,
                   CAST(CASE bucket WHEN 0 THEN 32 WHEN 1 THEN 64
                        WHEN 2 THEN 128 END AS BIGINT) AS upper_bound,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST((count(*) + 15) // 16 AS BIGINT) AS n_batches,
                   CAST(max(l) AS BIGINT) AS max_len,
                   CAST(sum(l) AS BIGINT) AS sum_len,
                   CAST(count(*) * max(l) AS BIGINT) AS padded_bucket,
                   CAST(count(*) * gmax AS BIGINT) AS padded_global
            FROM lbb, lbg
            GROUP BY bucket, gmax ORDER BY bucket
        """,
        "kmv_merge": """
            WITH kmh AS (
                SELECT DISTINCT event_type AS grp,
                       CAST(concat('0x', substr(sha256(concat('kmv:',
                            CAST(user_id AS VARCHAR))), 1, 8)) AS UBIGINT)
                           % 4294967296 AS h
                FROM events WHERE user_id IS NOT NULL),
            kmr AS (
                SELECT grp, h,
                       row_number() OVER (PARTITION BY grp
                           ORDER BY h ASC) AS rn
                FROM kmh)
            SELECT grp, count(*) AS n_le_k,
                   CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
                        ELSE (63.0 * 4294967296.0) / max(h)
                   END AS est_distinct
            FROM kmr WHERE rn <= 64 GROUP BY grp ORDER BY grp
        """,
        "precision_threshold": """
            WITH pts AS (
                SELECT CAST(len(list_filter(regexp_split_to_array(
                           coalesce(text, ''), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> ''))
                           AS BIGINT) AS s,
                       CAST(CASE WHEN length(coalesce(text, '')) > 200
                            THEN 1 ELSE 0 END AS BIGINT) AS y
                FROM documents),
            pta AS (SELECT s, CAST(count(*) AS BIGINT) AS n,
                           CAST(sum(y) AS BIGINT) AS tp
                    FROM pts GROUP BY s),
            ptc AS (SELECT s,
                           CAST(sum(n) OVER (ORDER BY s DESC) AS BIGINT)
                               AS cum_n,
                           CAST(sum(tp) OVER (ORDER BY s DESC) AS BIGINT)
                               AS cum_tp
                    FROM pta),
            ptt AS (SELECT CAST(sum(n) AS BIGINT) AS total_n,
                           CAST(sum(tp) AS BIGINT) AS total_tp FROM pta),
            ptk AS (SELECT * FROM ptc
                    WHERE 1000 * cum_tp >= 900 * cum_n
                    ORDER BY s ASC LIMIT 1)
            SELECT s AS threshold, cum_n AS kept_n, cum_tp AS kept_tp,
                   CAST((1000 * cum_tp) // cum_n AS BIGINT)
                       AS precision_milli,
                   total_n, total_tp
            FROM ptk, ptt
        """,
        "label_propagate": """
            WITH lpa AS (SELECT CAST(doc_id AS BIGINT) AS id,
                                CAST(doc_id // 10 AS BIGINT) AS cluster
                         FROM documents),
            lpl AS (SELECT CAST(doc_id AS BIGINT) AS id,
                           CAST(lang AS VARCHAR) AS direct
                    FROM documents WHERE doc_id % 3 = 0),
            lpv AS (SELECT cluster, direct, count(*) AS n
                    FROM lpa JOIN lpl USING (id)
                    GROUP BY cluster, direct),
            lpm AS (SELECT cluster, direct AS majority
                    FROM (SELECT *, row_number() OVER (PARTITION BY cluster
                              ORDER BY n DESC, direct ASC) AS rn FROM lpv)
                    WHERE rn = 1)
            SELECT lpa.id, lpa.cluster,
                   coalesce(lpl.direct, lpm.majority) AS label,
                   CASE WHEN lpl.direct IS NOT NULL THEN 'direct'
                        WHEN lpm.majority IS NOT NULL THEN 'propagated'
                        ELSE 'none' END AS provenance
            FROM lpa
            LEFT JOIN lpl USING (id)
            LEFT JOIN lpm USING (cluster)
            ORDER BY id
        """,
        "histogram_drift": """
            WITH hoc AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT)
                                    AS c
                         FROM orders WHERE o_totalprice IS NOT NULL),
            hnc AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
                    FROM orders
                    WHERE o_totalprice IS NOT NULL
                      AND o_totalprice < 100000),
            hrg AS (SELECT min(c) AS lo,
                           CAST((max(c) - min(c) + 20) // 20 AS BIGINT) AS w
                    FROM (SELECT c FROM hoc UNION ALL SELECT c FROM hnc)),
            hbo AS (SELECT CAST((c - lo) // w AS BIGINT) AS bin,
                           CAST(count(*) AS BIGINT) AS c_old
                    FROM hoc, hrg GROUP BY 1),
            hbn AS (SELECT CAST((c - lo) // w AS BIGINT) AS bin,
                           CAST(count(*) AS BIGINT) AS c_new
                    FROM hnc, hrg GROUP BY 1),
            hcn AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM hoc)
                               AS n_old,
                           (SELECT CAST(count(*) AS BIGINT) FROM hnc)
                               AS n_new),
            hpb AS (SELECT CAST(sum(abs(coalesce(c_old, 0) * n_new
                                 - coalesce(c_new, 0) * n_old)) AS BIGINT)
                               AS l1_scaled
                    FROM (SELECT c_old, c_new
                          FROM hbo FULL OUTER JOIN hbn USING (bin)), hcn)
            SELECT n_old, n_new, CAST(20 AS BIGINT) AS n_bins, l1_scaled,
                   CAST(CASE WHEN n_old = 0 OR n_new = 0 THEN NULL
                        ELSE (1000 * l1_scaled) // (n_old * n_new)
                        END AS BIGINT) AS drift_milli
            FROM hcn, hpb
        """,
        "sorted_neighborhood": """
            WITH snc AS (SELECT CAST(c_custkey AS BIGINT) AS id,
                                CAST(c_name AS VARCHAR) AS key
                         FROM customer),
            snr AS (SELECT id, key,
                           CAST(row_number() OVER (ORDER BY key, id)
                                AS BIGINT) AS rank
                    FROM snc),
            snp AS (SELECT a.id AS id_a, b.id AS id_b,
                           a.key AS key_a, b.key AS key_b,
                           CAST(b.rank - a.rank AS BIGINT) AS rank_gap
                    FROM snr a JOIN snr b
                      ON b.rank > a.rank AND b.rank <= a.rank + 3)
            SELECT id_a, id_b, key_a, key_b, rank_gap,
                   CAST(levenshtein(key_a, key_b) AS BIGINT)
                       AS edit_distance
            FROM snp WHERE levenshtein(key_a, key_b) <= 2
            ORDER BY id_a, id_b
        """,
        "mad_outliers": """
            WITH msc AS (SELECT o_orderkey AS id, o_orderpriority AS grp,
                                CAST(round(o_totalprice * 100) AS BIGINT)
                                    AS cents
                         FROM orders),
            mcn AS (SELECT grp, CAST(count(*) AS BIGINT) AS n
                    FROM msc GROUP BY grp),
            mrk AS (SELECT *, row_number() OVER (PARTITION BY grp
                        ORDER BY cents, id) AS rn FROM msc),
            mm2 AS (SELECT grp,
                           CAST(sum(CASE WHEN rn = (n + 1) // 2
                                    THEN cents ELSE 0 END)
                              + sum(CASE WHEN rn = (n + 2) // 2
                                    THEN cents ELSE 0 END) AS BIGINT)
                               AS med2
                    FROM mrk JOIN mcn USING (grp) GROUP BY grp),
            mdv AS (SELECT msc.id, msc.grp, msc.cents, n, med2,
                           abs(2 * cents - med2) AS dev2
                    FROM msc JOIN mcn USING (grp) JOIN mm2 USING (grp)
                    WHERE n >= 2),
            mdr AS (SELECT *, row_number() OVER (PARTITION BY grp
                        ORDER BY dev2, id) AS dn FROM mdv),
            mmd AS (SELECT grp,
                           CAST(sum(CASE WHEN dn = (n + 1) // 2
                                    THEN dev2 ELSE 0 END)
                              + sum(CASE WHEN dn = (n + 2) // 2
                                    THEN dev2 ELSE 0 END) AS BIGINT)
                               AS mad_med2
                    FROM mdr GROUP BY grp)
            SELECT id, grp, cents, CAST(dev2 AS BIGINT) AS dev2,
                   med2, mad_med2
            FROM mdv JOIN mmd USING (grp)
            WHERE 2 * 1 * dev2 > 2 * mad_med2
            ORDER BY grp, id
        """,
        "cdc_dedup": _CDC_CTE + """
            SELECT chunk_hash,
                   CAST(count(DISTINCT id) AS BIGINT) AS n_docs,
                   CAST(count(*) AS BIGINT) AS n_occurrences,
                   CAST(min(id) AS BIGINT) AS min_doc,
                   CAST(max(id) AS BIGINT) AS max_doc
            FROM cdc_chunks_cte
            WHERE n_words >= 3
            GROUP BY chunk_hash
            HAVING count(DISTINCT id) >= 2
            ORDER BY n_docs DESC, chunk_hash
        """,
        "kmv_join_est": """
            WITH la AS (SELECT l_orderkey AS key FROM lineitem
                        WHERE l_orderkey IS NOT NULL),
            ra AS (SELECT o_orderkey AS key FROM orders
                   WHERE o_orderkey IS NOT NULL),
            nl AS (SELECT CAST(count(*) AS BIGINT) AS n_l FROM la),
            nr AS (SELECT CAST(count(*) AS BIGINT) AS n_r FROM ra),
            hl AS (SELECT DISTINCT CAST(CAST(concat('0x', substr(sha256(
                       concat('kmv:', CAST(key AS VARCHAR))), 1, 8))
                       AS UBIGINT) % 4294967296 AS BIGINT) AS h FROM la),
            hr AS (SELECT DISTINCT CAST(CAST(concat('0x', substr(sha256(
                       concat('kmv:', CAST(key AS VARCHAR))), 1, 8))
                       AS UBIGINT) % 4294967296 AS BIGINT) AS h FROM ra),
            skl AS (SELECT h FROM hl ORDER BY h LIMIT 128),
            skr AS (SELECT h FROM hr ORDER BY h LIMIT 128),
            stl AS (SELECT CAST(count(*) AS BIGINT) AS cnt_l,
                           CAST(CASE WHEN count(*) < 128 THEN 4294967296
                                ELSE max(h) END AS BIGINT) AS tau_l
                    FROM skl),
            str_ AS (SELECT CAST(count(*) AS BIGINT) AS cnt_r,
                            CAST(CASE WHEN count(*) < 128 THEN 4294967296
                                 ELSE max(h) END AS BIGINT) AS tau_r
                     FROM skr),
            tt AS (SELECT least(tau_l, tau_r) AS tau FROM stl, str_),
            ki AS (SELECT CAST(count(*) AS BIGINT) AS k_int
                   FROM skl JOIN skr USING (h), tt WHERE h < tau),
            ku AS (SELECT CAST(count(*) AS BIGINT) AS k_union
                   FROM (SELECT h FROM skl UNION SELECT h FROM skr), tt
                   WHERE h < tau),
            mids AS (
                SELECT n_l, n_r, k_int, k_union,
                       CAST(CASE WHEN tau_l >= 4294967296 THEN cnt_l * 1000
                            ELSE (127 * 4294967296 * 1000) // tau_l
                            END AS BIGINT) AS d_l_milli,
                       CAST(CASE WHEN tau_r >= 4294967296 THEN cnt_r * 1000
                            ELSE (127 * 4294967296 * 1000) // tau_r
                            END AS BIGINT) AS d_r_milli,
                       CAST(CASE WHEN tau >= 4294967296 THEN k_union * 1000
                            ELSE ((k_union - 1) * 4294967296 * 1000) // tau
                            END AS BIGINT) AS d_union_milli
                FROM nl, nr, stl, str_, tt, ki, ku),
            m2 AS (
                SELECT *, CAST(CASE WHEN k_union = 0 THEN 0
                          ELSE (k_int * d_union_milli) // k_union
                          END AS BIGINT) AS d_int_milli
                FROM mids),
            exact AS (
                SELECT CAST(coalesce(sum(ca * cb), 0) AS BIGINT)
                           AS exact_join_rows
                FROM (SELECT key, count(*) AS ca FROM la GROUP BY key) x
                JOIN (SELECT key, count(*) AS cb FROM ra GROUP BY key) y
                  USING (key))
            SELECT n_l AS n_left, n_r AS n_right, k_int, k_union,
                   d_l_milli AS est_distinct_left_milli,
                   d_r_milli AS est_distinct_right_milli,
                   d_int_milli AS est_intersection_milli,
                   CAST(CASE WHEN d_l_milli = 0 OR d_r_milli = 0 THEN 0
                        ELSE (((d_int_milli * ((n_l * 1000000) // d_l_milli))
                               // 1000)
                              * ((n_r * 1000000) // d_r_milli)) // 1000000
                        END AS BIGINT) AS est_join_rows,
                   exact_join_rows
            FROM m2, exact
        """,
        "hard_negatives": f"""
            WITH hq AS (SELECT vec_id AS query_id,
                               CAST(embedding AS DOUBLE[]) AS qv
                        FROM embeddings WHERE vec_id < 5),
            hc AS (SELECT vec_id AS neighbor_id,
                          CAST(embedding AS DOUBLE[]) AS cv
                   FROM embeddings),
            hs AS (SELECT query_id, neighbor_id,
                          {_COSINE.format(a='qv', b='cv')} AS sim
                   FROM hq, hc WHERE neighbor_id <> query_id),
            hr AS (SELECT query_id, neighbor_id, row_number() OVER
                       (PARTITION BY query_id
                        ORDER BY sim DESC, neighbor_id ASC) AS rank
                   FROM hs),
            nb AS (SELECT CAST(query_id AS BIGINT) AS query_id,
                          CAST(neighbor_id AS BIGINT) AS doc_id,
                          CAST(rank AS BIGINT) AS orig_rank
                   FROM hr WHERE rank <= 10),
            pos AS (SELECT CAST(query_id AS BIGINT) AS query_id,
                           CAST(d AS BIGINT) AS doc_id
                    FROM (SELECT vec_id AS query_id FROM embeddings
                          WHERE vec_id < 5),
                         LATERAL unnest([query_id * 2 + 1,
                                         query_id * 3 + 2]) AS t(d)),
            neg AS (SELECT nb.query_id, nb.doc_id, nb.orig_rank
                    FROM nb LEFT JOIN pos
                      ON pos.query_id = nb.query_id
                     AND pos.doc_id = nb.doc_id
                    WHERE pos.doc_id IS NULL),
            rn AS (SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY orig_rank ASC, doc_id ASC) AS neg_rank
                   FROM neg)
            SELECT query_id, doc_id, orig_rank,
                   CAST(neg_rank AS BIGINT) AS neg_rank
            FROM rn WHERE neg_rank <= 3 ORDER BY query_id, neg_rank
        """,
        "mmr_rerank": f"""
            WITH mq AS (SELECT vec_id AS query_id,
                               CAST(embedding AS DOUBLE[]) AS qv
                        FROM embeddings WHERE vec_id IN (1, 2, 3)),
            mc AS (SELECT vec_id AS neighbor_id,
                          CAST(embedding AS DOUBLE[]) AS cv
                   FROM embeddings),
            ms AS (SELECT query_id, neighbor_id,
                          {_COSINE.format(a='qv', b='cv')} AS sim
                   FROM mq, mc WHERE neighbor_id <> query_id),
            mr AS (SELECT query_id, neighbor_id, row_number() OVER
                       (PARTITION BY query_id
                        ORDER BY sim DESC, neighbor_id ASC) AS rank
                   FROM ms),
            cand AS (SELECT CAST(query_id AS BIGINT) AS query_id,
                            CAST(neighbor_id AS BIGINT) AS doc_id,
                            CAST((1000000 * (9 - rank)) // 8 AS BIGINT) AS rel
                     FROM mr WHERE rank <= 8),
            v AS (SELECT CAST(vec_id AS BIGINT) AS vid,
                         CAST(embedding AS DOUBLE[]) AS e
                  FROM embeddings),
            simt AS (
                SELECT c1.query_id, c1.doc_id AS a, c2.doc_id AS b,
                       CAST(round({_COSINE.format(a='va.e', b='vb.e')}
                                  * 1000000, 0) AS BIGINT) AS sim
                FROM cand c1
                JOIN cand c2 ON c1.query_id = c2.query_id
                            AND c1.doc_id <> c2.doc_id
                JOIN v va ON va.vid = c1.doc_id
                JOIN v vb ON vb.vid = c2.doc_id),
            s1 AS (SELECT query_id, doc_id, rel, rel AS score
                   FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                             ORDER BY rel DESC, doc_id) AS rn FROM cand)
                   WHERE rn = 1),
            p2 AS (SELECT c.query_id, c.doc_id, c.rel,
                          c.rel - CAST(max(t.sim) AS BIGINT) AS score
                   FROM cand c
                   JOIN s1 ON s1.query_id = c.query_id
                          AND c.doc_id <> s1.doc_id
                   JOIN simt t ON t.query_id = c.query_id
                              AND t.a = c.doc_id AND t.b = s1.doc_id
                   GROUP BY c.query_id, c.doc_id, c.rel),
            s2 AS (SELECT query_id, doc_id, rel, score
                   FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                             ORDER BY score DESC, doc_id) AS rn FROM p2)
                   WHERE rn = 1),
            sel2 AS (SELECT query_id, doc_id FROM s1
                     UNION ALL SELECT query_id, doc_id FROM s2),
            p3 AS (SELECT c.query_id, c.doc_id, c.rel,
                          c.rel - CAST(max(t.sim) AS BIGINT) AS score
                   FROM cand c
                   LEFT JOIN sel2 x ON x.query_id = c.query_id
                                   AND x.doc_id = c.doc_id
                   JOIN simt t ON t.query_id = c.query_id
                              AND t.a = c.doc_id
                   JOIN sel2 s ON s.query_id = t.query_id
                              AND s.doc_id = t.b
                   WHERE x.doc_id IS NULL
                   GROUP BY c.query_id, c.doc_id, c.rel),
            s3 AS (SELECT query_id, doc_id, rel, score
                   FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                             ORDER BY score DESC, doc_id) AS rn FROM p3)
                   WHERE rn = 1),
            sel3 AS (SELECT query_id, doc_id FROM sel2
                     UNION ALL SELECT query_id, doc_id FROM s3),
            p4 AS (SELECT c.query_id, c.doc_id, c.rel,
                          c.rel - CAST(max(t.sim) AS BIGINT) AS score
                   FROM cand c
                   LEFT JOIN sel3 x ON x.query_id = c.query_id
                                   AND x.doc_id = c.doc_id
                   JOIN simt t ON t.query_id = c.query_id
                              AND t.a = c.doc_id
                   JOIN sel3 s ON s.query_id = t.query_id
                              AND s.doc_id = t.b
                   WHERE x.doc_id IS NULL
                   GROUP BY c.query_id, c.doc_id, c.rel),
            s4 AS (SELECT query_id, doc_id, rel, score
                   FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                             ORDER BY score DESC, doc_id) AS rn FROM p4)
                   WHERE rn = 1),
            allsel AS (
                SELECT query_id, doc_id, 1 AS mmr_rank, rel, score FROM s1
                UNION ALL SELECT query_id, doc_id, 2, rel, score FROM s2
                UNION ALL SELECT query_id, doc_id, 3, rel, score FROM s3
                UNION ALL SELECT query_id, doc_id, 4, rel, score FROM s4)
            SELECT query_id, doc_id, CAST(mmr_rank AS BIGINT) AS mmr_rank,
                   rel AS relevance_scaled, score AS score_scaled
            FROM allsel ORDER BY query_id, mmr_rank
        """,
        "hybrid_retrieval": _BM25_CTE + f""",
            lex AS (SELECT CAST(query_id AS BIGINT) AS query_id,
                           CAST(doc_id AS BIGINT) AS doc_id,
                           CAST(rnk AS BIGINT) AS r
                    FROM bm25r WHERE rnk <= 10),
            semq AS (SELECT vec_id AS query_id,
                            CAST(embedding AS DOUBLE[]) AS qv
                     FROM embeddings WHERE vec_id IN (1, 2, 3)),
            semc AS (SELECT vec_id AS neighbor_id,
                            CAST(embedding AS DOUBLE[]) AS cv
                     FROM embeddings),
            sems AS (
                SELECT query_id, neighbor_id,
                       {_COSINE.format(a='qv', b='cv')} AS sim
                FROM semq, semc WHERE neighbor_id <> query_id),
            semr AS (SELECT query_id, neighbor_id, row_number() OVER
                         (PARTITION BY query_id
                          ORDER BY sim DESC, neighbor_id ASC) AS rank
                     FROM sems),
            sem AS (SELECT CAST(query_id AS BIGINT) AS query_id,
                           CAST(neighbor_id AS BIGINT) AS doc_id,
                           CAST(rank AS BIGINT) AS r
                    FROM semr WHERE rank <= 10),
            fused AS (
                SELECT query_id, doc_id,
                       CAST(sum({_RRF_L} // (r + 60)) AS BIGINT)
                           AS rrf_scaled,
                       CAST(count(*) AS BIGINT) AS n_systems
                FROM (SELECT * FROM lex UNION ALL SELECT * FROM sem)
                GROUP BY query_id, doc_id),
            fr AS (SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY rrf_scaled DESC, doc_id ASC) AS rank
                   FROM fused)
            SELECT query_id, doc_id, rrf_scaled, n_systems,
                   CAST(rank AS BIGINT) AS rank
            FROM fr WHERE rank <= 10 ORDER BY query_id, rank
        """,
        "select_prompt_column": "SELECT doc_id, text AS prompt FROM documents",
        "sentence_stats": """
            WITH s AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(
                           coalesce(text, ''), '[.!?]+[ \\t\\n\\x0B\\f\\r]+'),
                           x -> x <> '') AS sents
                FROM documents)
            SELECT doc_id,
                   CAST(len(sents) AS BIGINT) AS n_sentences,
                   CASE WHEN len(sents) = 0 THEN 0.0
                        ELSE round(CAST(list_sum(list_transform(
                                 sents, x -> length(x))) AS DOUBLE)
                             / len(sents), 6) END AS mean_sentence_chars
            FROM s
        """,
        "nfc_check": """
            WITH d AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT * FROM (VALUES
                    (9000001, 'cafe' || chr(769) || ' papers'),
                    (9000002, 'caf' || chr(233) || ' papers'),
                    (9000003, 'A' || chr(778) || 'ngstro' || chr(776)
                        || 'm units'),
                    (9000004, NULL)) v(doc_id, text))
            SELECT doc_id,
                   CAST(CASE WHEN text IS NULL THEN 1
                             WHEN text = nfc_normalize(text) THEN 1
                             ELSE 0 END AS INT) AS is_nfc,
                   CAST(coalesce(length(text), 0) AS BIGINT) AS raw_len,
                   CAST(coalesce(length(nfc_normalize(text)), 0) AS BIGINT)
                       AS nfc_len
            FROM d
        """,
        "prompt_concat": """
            SELECT doc_id,
                   '[' || coalesce(lang, '') || '|' || coalesce(source, '')
                       || '] ' || coalesce(CAST(text AS VARCHAR), '') AS prompt
            FROM documents
        """,
        "labeled_concat_nulls": """
            SELECT doc_id,
                   'opt_a: ' || substr(text, 1, 20) || ' opt_b: '
                       || nullif(lang, 'en') AS prompt
            FROM documents
        """,
        "flagship_extract": f"""
            WITH p AS (
                SELECT doc_id, {_FLAGSHIP_PROMPT} AS prompt FROM documents
            )
            SELECT doc_id,
                   upper(substr(prompt, 1, 12)) AS summary,
                   CAST(1 + (length(prompt) + 1) % 5 AS BIGINT) AS quality,
                   -CAST(length(prompt) AS DOUBLE) / 100 AS cumulative_logprobs
            FROM p
        """,
        "classify": """
            SELECT doc_id,
                   (['news', 'blog', 'code'])[length(coalesce(CAST(text AS VARCHAR), '')) % 3 + 1]
                       AS classification
            FROM documents
        """,
        "score": """
            SELECT doc_id, lang,
                   CAST(1 + length(coalesce(CAST(text AS VARCHAR), '')) % 10 AS BIGINT) AS score
            FROM documents
        """,
        "rank_exploded": f"""
            WITH p AS (
                SELECT doc_id, length({_RANK_PROMPT}) AS n FROM documents
            )
            SELECT doc_id,
                   CAST(pos AS INTEGER) AS pos,
                   (['opt_a', 'opt_b', 'opt_c'])[(n % 3 + pos) % 3 + 1] AS label
            FROM p, generate_series(0, 2) AS g(pos)
        """,
        "pairwise_counts": f"""
            WITH p AS (
                SELECT doc_id, length({_RANK_PROMPT}) % 3 AS k FROM documents
            ),
            pairs AS (
                SELECT (['opt_a', 'opt_b', 'opt_c'])[(k + i) % 3 + 1] AS winner,
                       (['opt_a', 'opt_b', 'opt_c'])[(k + j) % 3 + 1] AS loser
                FROM p, generate_series(0, 2) AS gi(i), generate_series(0, 2) AS gj(j)
                WHERE i < j
            )
            SELECT winner, loser, count(*) AS wins, CAST(0 AS BIGINT) AS ties
            FROM pairs GROUP BY winner, loser
        """,
        "embed": """
            WITH p AS (
                SELECT doc_id, length(coalesce(CAST(text AS VARCHAR), '')) AS n
                FROM documents
            )
            SELECT doc_id,
                   CAST((n * 31) % 97 AS DOUBLE) / 97 AS v0,
                   round((SELECT sum(CAST((p.n * 31 + i * 17) % 97 AS DOUBLE) / 97)
                          FROM generate_series(0, 7) AS g(i)), 6) AS vsum
            FROM p
        """,
        "positional_zip": "SELECT doc_id, n_chars FROM documents",
        "csv_scan": """
            SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
                   CAST(n_regionkey AS BIGINT) AS n_regionkey
            FROM nation
        """,
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "top_orders": """
            SELECT o_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS created,
                   printf('$%.5f', coalesce(o_totalprice, 0.0)) AS cost,
                   coalesce(o_orderpriority, '') AS priority
            FROM orders
            WHERE o_orderdate IS NOT NULL
            ORDER BY o_orderdate DESC, o_orderkey DESC
            LIMIT 25
        """,
        "exact_dedup": """
            SELECT sha256(text) AS content_hash,
                   min(doc_id) AS keep_id,
                   count(*) AS dup_count
            FROM documents GROUP BY sha256(text)
        """,
        "ngram_jaccard": f"""
            WITH {_SHINGLES_CTE},
            rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
            shf AS (SELECT sh.id, sh.shingle FROM sh JOIN rare USING (shingle)),
            sizes AS (SELECT id, count(*) AS n FROM shf GROUP BY id),
            inter AS (
                SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
                FROM shf a JOIN shf b USING (shingle)
                WHERE a.id < b.id GROUP BY 1, 2)
            SELECT id_a, id_b, i / (sa.n + sb.n - i) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.id = id_a
            JOIN sizes sb ON sb.id = id_b
            WHERE i / (sa.n + sb.n - i) >= 0.1
        """,
        "minhash_lsh": f"""
            WITH {_SHINGLES_CTE},
            mins AS (
                SELECT id, i,
                       min(substring(sha256('s' || CAST(i // 8 AS VARCHAR) || ':' || shingle),
                                     (i % 8) * 8 + 1, 8)) AS h
                FROM sh, (SELECT unnest(range(0, 16)) AS i) seeds
                GROUP BY id, i),
            sigs AS (SELECT id, list(h ORDER BY i) AS sig FROM mins GROUP BY id),
            bands AS (
                SELECT id, unnest(list_transform(range(0, 8),
                    b -> sha256('band' || CAST(b AS VARCHAR) || ':'
                                || sig[2*b + 1] || '|' || sig[2*b + 2]))) AS band_key
                FROM sigs)
            SELECT DISTINCT x.id AS id_a, y.id AS id_b
            FROM bands x JOIN bands y USING (band_key)
            WHERE x.id < y.id
        """,
        "simhash": f"WITH {_SIMHASH_CTE} SELECT id, simhash FROM fp",
        "simhash_pairs": f"""
            WITH {_SIMHASH_CTE},
            chunks AS (
                SELECT id, simhash, cid, (simhash >> (cid * 16)) & 65535 AS chunk
                FROM fp, (SELECT unnest(range(0, 4)) AS cid) c),
            cand AS (
                SELECT DISTINCT x.id AS id_a, y.id AS id_b,
                       x.simhash AS sh_a, y.simhash AS sh_b
                FROM chunks x
                JOIN chunks y ON x.cid = y.cid AND x.chunk = y.chunk
                WHERE x.id < y.id)
            SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS ham
            FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 8
        """,
        "events_props_stats": """
            WITH e AS (
                SELECT event_type, CAST(props->>'k' AS BIGINT) AS k
                FROM events)
            SELECT event_type, count(*) AS n,
                   CAST(sum(k) AS BIGINT) AS k_sum,
                   round(avg(k), 6) AS k_avg,
                   min(k) AS k_min, max(k) AS k_max
            FROM e GROUP BY event_type
        """,
        "reassemble_chunks": """
            WITH ch AS (
                SELECT doc_id, CAST(t.i AS BIGINT) AS chunk_id,
                       substr(text, CAST(t.i * 96 + 1 AS INT), 128) AS chunk
                FROM documents,
                     unnest(range(0, greatest((length(text) - 1) // 96, 0) + 1)) AS t(i)
                WHERE length(substr(text, CAST(t.i * 96 + 1 AS INT), 128)) > 0),
            re AS (
                SELECT doc_id,
                       CAST(max(chunk_id) + 1 AS BIGINT) AS n_chunks,
                       string_agg(CASE WHEN chunk_id = 0 THEN chunk
                                       ELSE substr(chunk, 33) END,
                                  '' ORDER BY chunk_id) AS rebuilt
                FROM ch GROUP BY doc_id)
            SELECT d.doc_id, re.n_chunks,
                   CAST(length(re.rebuilt) AS BIGINT) AS rebuilt_len,
                   CAST(re.rebuilt = d.text AS BIGINT) AS matches_original
            FROM documents d JOIN re USING (doc_id)
        """,
        "label_centroids": """
            WITH ex AS (
                SELECT label, i.i AS pos,
                       CAST(embedding[CAST(i.i + 1 AS INT)] AS DOUBLE) AS v
                FROM embeddings, (SELECT unnest(range(0, 64)) AS i) i),
            cent AS (
                SELECT label, pos, avg(v) AS c, count(*) AS n
                FROM ex GROUP BY label, pos)
            SELECT label, CAST(max(n) AS BIGINT) AS n_vecs,
                   round(sqrt(sum(c * c)), 6) AS centroid_norm
            FROM cent GROUP BY label
        """,
        # the composed pipeline: gopher keep → simhash clusters over
        # survivors (same fragments as the standalone oracles, with the
        # simhash CTE re-anchored on the kept set) → representatives →
        # mixture report
        "source_mix": """
            WITH s AS (
                SELECT source, lang, count(*) AS n_docs,
                       CAST(sum(len(list_filter(
                           regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+'),
                           x -> x <> ''))) AS BIGINT) AS n_tokens
                FROM documents GROUP BY source, lang),
            t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM s)
            SELECT source, lang, n_docs, n_tokens,
                   round(n_tokens / t.total, 6) AS token_share
            FROM s, t
        """,
        "cap_per_source": """
            SELECT doc_id, source, sample_rank FROM (
                SELECT doc_id, source,
                       row_number() OVER (
                           PARTITION BY source
                           ORDER BY sha256('mix:' || CAST(doc_id AS VARCHAR)),
                                    doc_id) AS sample_rank
                FROM documents)
            WHERE sample_rank <= 8
        """,
        "term_topk": """
            WITH toks AS (
                SELECT doc_id,
                       unnest(list_filter(
                           regexp_split_to_array(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                           x -> x <> '')) AS term
                FROM documents)
            SELECT term, count(*) AS occurrences,
                   count(DISTINCT doc_id) AS doc_freq
            FROM toks GROUP BY term
            ORDER BY occurrences DESC, term
            LIMIT 50
        """,
        "text_profile": """
            WITH base AS (
                SELECT doc_id, text,
                       list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+'),
                                   x -> x <> '') AS toks,
                       list_filter(regexp_split_to_array(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                                   x -> x <> '') AS ltoks,
                       length(text) AS n
                FROM documents),
            m AS (
                SELECT doc_id, n, toks, ltoks,
                       len(toks) AS n_tokens,
                       CAST(list_sum(list_transform(toks,
                           w -> CAST(ceil(length(w) / 4) AS BIGINT))) AS BIGINT)
                           AS n_bpe_tokens,
                       CASE WHEN n = 0 THEN 0.0 ELSE
                           CAST(length(regexp_replace(text, '[A-Za-z0-9 \\t\\n\\x0B\\f\\r]', '', 'g'))
                                AS DOUBLE) / n END AS punct,
                       CASE WHEN n = 0 THEN 0.0 ELSE
                           CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                                AS DOUBLE) / n END AS alpha_ratio,
                       len(list_intersect(ltoks, ['the','a','of','and','to','in','is','it'])) AS h_en,
                       len(list_intersect(ltoks, ['el','la','de','que','y','en','un','es'])) AS h_es,
                       len(list_intersect(ltoks, ['der','die','das','und','ist','ein','zu','mit'])) AS h_de,
                       len(list_intersect(ltoks, ['le','la','de','et','un','est','en','que'])) AS h_fr,
                       len(list_intersect(ltoks, ['de','shi','le','zai','you','wo','ta','men'])) AS h_zh
                FROM base)
            SELECT doc_id,
                   CAST(n_tokens AS BIGINT) AS n_tokens,
                   n_bpe_tokens,
                   round(punct, 6) AS punct_ratio,
                   round(CASE WHEN n_tokens = 0 THEN 0.0
                         ELSE CAST(h_en AS DOUBLE) / n_tokens END, 6) AS stopword_ratio_en,
                   round(0.4 * least(CAST(n AS DOUBLE) / 400, 1.0)
                         + 0.3 * (1.0 - punct) + 0.3 * alpha_ratio, 6) AS quality,
                   CASE WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr AND h_de >= h_zh THEN 'de'
                        WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_zh THEN 'en'
                        WHEN h_es >= h_fr AND h_es >= h_zh THEN 'es'
                        WHEN h_fr >= h_zh THEN 'fr'
                        ELSE 'zh' END AS lang_pred,
                   sha256(array_to_string(list_sort(list_distinct(ltoks)), ' ')) AS fingerprint
            FROM m
        """,
        "hash_sample_split": """
            WITH b AS (
                SELECT doc_id, lang,
                       CAST(concat('0x', substr(sha256(concat('bench:',
                            CAST(doc_id AS VARCHAR))), 1, 8)) AS UBIGINT) % 100 AS sb,
                       CAST(concat('0x', substr(sha256(concat('split:',
                            CAST(doc_id AS VARCHAR))), 1, 8)) AS UBIGINT) % 100 AS kb
                FROM documents)
            SELECT doc_id, lang,
                   CASE WHEN kb < 98 THEN 'train'
                        WHEN kb < 99 THEN 'val'
                        ELSE 'test' END AS split
            FROM b WHERE sb < 20
        """,
        "chunk_docs": """
            SELECT doc_id, CAST(t.i AS BIGINT) AS chunk_id,
                   substr(text, CAST(t.i * 96 + 1 AS INT), 128) AS chunk
            FROM documents,
                 unnest(range(0, greatest((length(text) - 1) // 96, 0) + 1)) AS t(i)
            WHERE length(substr(text, CAST(t.i * 96 + 1 AS INT), 128)) > 0
        """,
        "redact_pii": """
            WITH t AS (
                SELECT doc_id,
                       concat(text, ' Contact user', CAST(doc_id AS VARCHAR),
                              '@example.com or 555-012-3456.') AS text2
                FROM documents)
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text2,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT)
                       AS n_email,
                   CAST(len(regexp_extract_all(text2,
                       '[0-9]{3}-[0-9]{3,4}-[0-9]{4}')) AS BIGINT) AS n_phone,
                   regexp_replace(regexp_replace(text2,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                       '[0-9]{3}-[0-9]{3,4}-[0-9]{4}', '[PHONE]', 'g') AS redacted
            FROM t
        """,
        "similarity_topk": f"""
            WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                       FROM embeddings WHERE vec_id < 5),
            c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
                  FROM embeddings),
            s AS (
                SELECT query_id, neighbor_id,
                       {_COSINE.format(a='qv', b='cv')} AS sim
                FROM q, c WHERE neighbor_id <> query_id),
            r AS (SELECT *, row_number() OVER
                      (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
                  FROM s)
            SELECT query_id, neighbor_id, sim, CAST(rank AS BIGINT) AS rank
            FROM r WHERE rank <= 3
        """,
        "embedding_dedup": f"""
            WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   {_COSINE.format(a='a.e', b='b.e')} AS sim
            FROM v a, v b
            WHERE a.vec_id < b.vec_id
              AND {_COSINE.format(a='a.e', b='b.e')} >= 0.35
        """,
        "bucketed_dedup": """
            WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
            vn AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS n FROM v),
            c AS (SELECT vec_id AS cid, e AS ce, n AS cn FROM vn ORDER BY vec_id LIMIT 16),
            scored AS (
                SELECT vn.vec_id, vn.e, vn.n, c.cid,
                       list_dot_product(vn.e, c.ce) / (vn.n * c.cn) AS d
                FROM vn, c),
            assigned AS (
                SELECT vec_id, e, n, cid FROM (
                    SELECT *, row_number() OVER
                        (PARTITION BY vec_id ORDER BY d DESC, cid ASC) AS rn
                    FROM scored) WHERE rn <= 2),
            pairs AS (
                SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                FROM assigned a JOIN assigned b USING (cid)
                WHERE a.vec_id < b.vec_id)
            SELECT p.id_a, p.id_b,
                   round(list_dot_product(x.e, y.e) / (x.n * y.n), 6) AS sim
            FROM pairs p
            JOIN vn x ON x.vec_id = p.id_a
            JOIN vn y ON y.vec_id = p.id_b
            WHERE round(list_dot_product(x.e, y.e) / (x.n * y.n), 6) >= 0.3
        """,
        "multimodal_decode": """
            SELECT doc_id,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   list_sum(list_transform(string_split(text, ''), c -> unicode(c)))
                       / length(text) AS mean_byte,
                   (length(text) % 1024 + 16) / (length(text) % 768 + 16) AS aspect
            FROM documents
        """,
        "infer_per_model": """
            SELECT doc_id, m.model_name,
                   'ECHO: ' || upper(substr(m.model_name || ': '
                       || coalesce(CAST(text AS VARCHAR), ''), 1, 32)) AS outputs
            FROM documents, (VALUES ('m1'), ('m2')) AS m(model_name)
        """,
        "batch_function": """
            SELECT o_orderkey,
                   'ECHO: ' || upper(substr(
                       '{"o_orderkey":' || o_orderkey
                       || ',"o_orderstatus":"' || o_orderstatus || '"}', 1, 32)) AS outputs
            FROM orders
        """,
        "events_window": """
            SELECT CAST(floor((epoch_ns(ts) // 1000000000) / 300) AS BIGINT) * 300
                       AS bucket_start,
                   event_type,
                   count(*) AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "events_top_per_user": """
            SELECT user_id, event_id, event_type, value FROM (
                SELECT user_id, event_id, event_type, value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY value DESC, event_id ASC) AS rn
                FROM events) WHERE rn = 1
        """,
        "tpch_q3": """
            SELECT l_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
                   o_orderpriority,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
              AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, l_orderkey ASC
            LIMIT 10
        """,
        "tpch_q5ish": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE c_nationkey = s_nationkey AND r_name = 'ASIA'
            GROUP BY n_name
        """,
        # rank_elo: the elo float itself is an iterative numpy fit
        # (pytest-verified analytically); the oracle reproduces the
        # relational columns of the ratings table. laplace=0.5 adds
        # 0.5 per directed edge between distinct labels, so
        # wins = raw_wins + 0.5*(n_labels-1) — exact doubles.
        "rank_elo": f"""
            WITH p AS (
                SELECT doc_id, length({_RANK_PROMPT}) % 3 AS k FROM documents
            ),
            pairs AS (
                SELECT (['opt_a', 'opt_b', 'opt_c'])[(k + i) % 3 + 1] AS winner,
                       (['opt_a', 'opt_b', 'opt_c'])[(k + j) % 3 + 1] AS loser
                FROM p, generate_series(0, 2) AS gi(i), generate_series(0, 2) AS gj(j)
                WHERE i < j
            ),
            counts AS (SELECT winner, loser, count(*) AS w FROM pairs GROUP BY 1, 2),
            labels AS (
                SELECT winner AS label FROM counts
                UNION SELECT loser FROM counts
            ),
            nl AS (SELECT count(*) AS n FROM labels),
            raw_w AS (SELECT winner AS label, sum(w) AS rw FROM counts GROUP BY 1),
            raw_l AS (SELECT loser AS label, sum(w) AS rl FROM counts GROUP BY 1)
            SELECT label,
                   CAST(coalesce(rw, 0) + 0.5 * (nl.n - 1) AS DOUBLE) AS wins,
                   CAST(coalesce(rl, 0) + 0.5 * (nl.n - 1) AS DOUBLE) AS losses,
                   CAST(coalesce(rw, 0) + coalesce(rl, 0) + (nl.n - 1) AS DOUBLE) AS matches
            FROM labels LEFT JOIN raw_w USING (label) LEFT JOIN raw_l USING (label), nl
        """,
        "dedup_normalized": """
            SELECT sha256(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')))
                       AS content_hash,
                   min(doc_id) AS keep_id,
                   count(*) AS dup_count
            FROM documents GROUP BY 1
        """,
        "part_stats": """
            SELECT p_brand,
                   count(*) AS n_parts,
                   round(avg(p_retailprice), 2) AS avg_price,
                   min(p_size) AS min_size,
                   max(p_size) AS max_size
            FROM part GROUP BY p_brand
        """,
        "customer_regions": """
            SELECT r_name, c_mktsegment,
                   count(*) AS n_customers,
                   round(sum(c_acctbal), 2) AS total_acctbal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, c_mktsegment
        """,
        "rh_lsh_dedup": _rh_lsh_sql(),
        "gopher_quality": _GOPHER_SQL,
        "quality_scorer": """
            WITH tk AS (
                SELECT doc_id,
                       unnest(regexp_split_to_array(
                           trim(lower(coalesce(text, ''))), '[ \\t\\n\\x0B\\f\\r]+')) AS tok
                FROM documents),
            h AS (SELECT doc_id, sha256(tok) AS hx FROM tk WHERE tok <> ''),
            b AS (SELECT doc_id,
                         ((strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 4096
                        + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) * 256
                        + (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) * 16
                        + (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1)) % 4096
                             AS bucket
                  FROM h),
            wt AS (SELECT i AS bucket, (i * 2654435761) % 1001 - 500 AS w_milli
                   FROM (SELECT unnest(range(0, 4096)) AS i)),
            agg AS (SELECT doc_id, count(*) AS n_tokens, sum(w_milli) AS s_milli
                    FROM b JOIN wt USING (bucket) GROUP BY doc_id)
            SELECT doc_id, n_tokens,
                   round(CAST(s_milli AS DOUBLE) / (1000 * n_tokens), 6) AS score,
                   CAST(s_milli > 0 AS BIGINT) AS label
            FROM agg
        """,
        "kmeans_clusters": _kmeans_sql()
        + """
            SELECT cluster, CAST(count(*) AS BIGINT) AS size,
                   CAST(sum(dist2) AS BIGINT) AS inertia
            FROM m2 GROUP BY cluster
        """,
        "semdedup": _kmeans_sql()
        + """
            , vn AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
                       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[]))) AS n
                FROM embeddings),
            mm AS (SELECT m2.vec_id, m2.cluster, e, n
                   FROM m2 JOIN vn USING (vec_id))
            SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_dot_product(a.e, b.e) / (a.n * b.n), 6) AS sim
            FROM mm a JOIN mm b
              ON a.cluster = b.cluster AND a.vec_id < b.vec_id
            WHERE round(list_dot_product(a.e, b.e) / (a.n * b.n), 6) >= 0.3
        """,
        "tpch_q7ish": """
            SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS BIGINT) AS l_year,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   CAST(count(*) AS BIGINT) AS n_items
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation sn ON s_nationkey = sn.n_nationkey
            JOIN nation cn ON c_nationkey = cn.n_nationkey
            WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
               OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
            GROUP BY sn.n_name, cn.n_name, year(l_shipdate)
        """,
        "tpch_q17ish": """
            WITH brand_parts AS (
                SELECT p_partkey FROM part WHERE p_brand = 'Brand#1'),
            li_b AS (
                SELECT l_partkey, l_quantity, l_extendedprice
                FROM lineitem JOIN brand_parts ON l_partkey = p_partkey),
            avg_q AS (
                SELECT l_partkey, sum(l_quantity) / count(*) AS avg_qty
                FROM li_b GROUP BY l_partkey)
            SELECT round(sum(l_extendedprice) / 7, 2) AS avg_yearly,
                   CAST(count(*) AS BIGINT) AS n_small
            FROM li_b JOIN avg_q USING (l_partkey)
            WHERE l_quantity < avg_qty / 5
        """,
        "stratified_sample": """
            WITH r AS (SELECT * FROM (VALUES ('en', 25), ('es', 50), ('de', 75))
                       t(lang, rate_pct))
            SELECT doc_id, lang, source
            FROM documents LEFT JOIN r USING (lang)
            WHERE CAST(concat('0x', substr(sha256(concat('stratified:',
                      CAST(doc_id AS VARCHAR))), 1, 8)) AS UBIGINT) % 100
                  < COALESCE(rate_pct, 100)
        """,
        "quality_percentile": """
            WITH q AS (
                SELECT doc_id, lang,
                       round(0.4 * least(CAST(length(text) AS DOUBLE) / 400, 1.0)
                           + 0.3 * (1.0 - CASE WHEN length(text) = 0 THEN 0.0 ELSE
                               CAST(length(regexp_replace(text, '[A-Za-z0-9 \\t\\n\\x0B\\f\\r]', '', 'g'))
                                    AS DOUBLE) / length(text) END)
                           + 0.3 * CASE WHEN length(text) = 0 THEN 0.0 ELSE
                               CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                                    AS DOUBLE) / length(text) END, 6) AS quality
                FROM documents),
            ranked AS (
                SELECT doc_id, lang, quality,
                       percent_rank() OVER (PARTITION BY lang
                           ORDER BY quality, doc_id) AS pct_rank
                FROM q)
            SELECT doc_id, lang, quality, pct_rank
            FROM ranked
            WHERE pct_rank >= CAST(1.0 AS DOUBLE) - CAST(0.4 AS DOUBLE)
        """,
        "pack_contexts": _PACK_CTE
        + """
            SELECT source, doc_id, n_tokens, start_offset,
                   chunk_start, chunk_end, n_chunks
            FROM packed
        """,
        "pagerank_suppliers": """
            WITH und AS (
                SELECT DISTINCT l_suppkey * 2 AS a, l_partkey * 2 + 1 AS b
                FROM lineitem),
            e AS (SELECT a AS src, b AS dst FROM und
                  UNION ALL SELECT b, a FROM und),
            deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
            nodes AS (SELECT DISTINCT src AS node FROM e),
            n AS (SELECT count(*) AS n FROM nodes),
            p0 AS (SELECT node, 1000000000000 // (SELECT n FROM n) AS p
                   FROM nodes),
            c1 AS (SELECT e.dst, CAST(sum(p0.p // deg.deg) AS BIGINT) AS s
                   FROM p0 JOIN deg ON p0.node = deg.src
                           JOIN e ON e.src = deg.src
                   GROUP BY e.dst),
            p1 AS (SELECT node,
                          (15 * 1000000000000) // (100 * (SELECT n FROM n))
                          + (85 * COALESCE(s, 0)) // 100 AS p
                   FROM nodes LEFT JOIN c1 ON node = dst),
            c2 AS (SELECT e.dst, CAST(sum(p1.p // deg.deg) AS BIGINT) AS s
                   FROM p1 JOIN deg ON p1.node = deg.src
                           JOIN e ON e.src = deg.src
                   GROUP BY e.dst),
            p2 AS (SELECT node,
                          (15 * 1000000000000) // (100 * (SELECT n FROM n))
                          + (85 * COALESCE(s, 0)) // 100 AS p
                   FROM nodes LEFT JOIN c2 ON node = dst)
            SELECT node, p AS rank FROM p2
            ORDER BY rank DESC, node LIMIT 50
        """,
        "repetition_profile": """
            WITH t AS (
                SELECT doc_id, coalesce(text, '') AS text,
                       regexp_split_to_array(trim(coalesce(text, '')), '[ \\t\\n\\x0B\\f\\r]+') AS toks,
                       length(coalesce(text, '')) AS n_chars,
                       string_split(coalesce(text, ''), chr(10) || chr(10)) AS paras,
                       string_split(coalesce(text, ''), chr(10)) AS lines
                FROM documents),
            m AS (
                SELECT doc_id, n_chars, toks,
                       round(CASE WHEN len(paras) = 0 THEN 0.0 ELSE
                           CAST(len(paras) - len(list_distinct(paras)) AS DOUBLE)
                           / len(paras) END, 6) AS dup_para_frac,
                       round(CASE WHEN n_chars = 0 THEN 0.0 ELSE
                           CAST(coalesce(list_sum(list_transform(list_filter(lines,
                               l -> len(list_filter(lines, x -> x = l)) > 1),
                               l -> length(l))), 0) AS DOUBLE) / n_chars END, 6)
                           AS dup_line_char_frac
                FROM t),
            g3 AS (SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS gram
                   FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i FROM t)),
            c3 AS (SELECT doc_id, gram, count(*) AS cnt FROM g3 GROUP BY doc_id, gram),
            t3 AS (SELECT doc_id, gram, cnt FROM (
                       SELECT *, row_number() OVER
                           (PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rn
                       FROM c3) WHERE rn = 1),
            g4 AS (SELECT doc_id, array_to_string(toks[i:i+3], ' ') AS gram
                   FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 2)) AS i FROM t)),
            c4 AS (SELECT doc_id, gram, count(*) AS cnt FROM g4 GROUP BY doc_id, gram),
            t4 AS (SELECT doc_id, gram, cnt FROM (
                       SELECT *, row_number() OVER
                           (PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rn
                       FROM c4) WHERE rn = 1)
            SELECT m.doc_id, m.dup_para_frac, m.dup_line_char_frac,
                   round(CASE WHEN t3.gram IS NULL OR m.n_chars = 0 THEN 0.0 ELSE
                       CAST(t3.cnt * length(t3.gram) AS DOUBLE) / m.n_chars END, 6)
                       AS top_3gram_frac,
                   round(CASE WHEN t4.gram IS NULL OR m.n_chars = 0 THEN 0.0 ELSE
                       CAST(t4.cnt * length(t4.gram) AS DOUBLE) / m.n_chars END, 6)
                       AS top_4gram_frac
            FROM m LEFT JOIN t3 USING (doc_id) LEFT JOIN t4 USING (doc_id)
        """,
        "eval_report": _EVAL_CTE + """
            , bl AS (SELECT label AS cls, CAST(count(*) AS BIGINT) AS support,
                            CAST(sum(CASE WHEN pred = label THEN 1 ELSE 0 END)
                                 AS BIGINT) AS tp
                     FROM p GROUP BY label),
            bp AS (SELECT pred AS cls, CAST(count(*) AS BIGINT) AS predicted
                   FROM p GROUP BY pred),
            j AS (SELECT cls, COALESCE(support, 0) AS support,
                         COALESCE(predicted, 0) AS predicted,
                         COALESCE(tp, 0) AS tp
                  FROM bl FULL JOIN bp USING (cls))
            SELECT cls, support, predicted, tp,
                   predicted - tp AS fp, support - tp AS fn,
                   CASE WHEN predicted <> 0
                        THEN CAST(tp AS DOUBLE) / predicted END AS precision,
                   CASE WHEN support <> 0
                        THEN CAST(tp AS DOUBLE) / support END AS recall,
                   CASE WHEN support + predicted <> 0
                        THEN CAST(2 * tp AS DOUBLE) / (support + predicted)
                        END AS f1
            FROM j
        """,
        "eval_confusion": _EVAL_CTE + """
            SELECT label, pred, CAST(count(*) AS BIGINT) AS n
            FROM p GROUP BY label, pred
        """,
        "eval_kappa": _EVAL_CTE + """
            , bl AS (SELECT label AS cls, CAST(count(*) AS BIGINT) AS support
                     FROM p GROUP BY label),
            bp AS (SELECT pred AS cls, CAST(count(*) AS BIGINT) AS predicted
                   FROM p GROUP BY pred),
            chance AS (
                SELECT CAST(sum(COALESCE(support, 0) * COALESCE(predicted, 0))
                            AS BIGINT) AS chance_pairs
                FROM bl FULL JOIN bp USING (cls)),
            totals AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(CASE WHEN pred = label THEN 1 ELSE 0 END)
                            AS BIGINT) AS correct
                FROM p)
            SELECT n, correct, chance_pairs,
                   CASE WHEN n * n - chance_pairs <> 0
                        THEN CAST(n * correct - chance_pairs AS DOUBLE)
                             / (n * n - chance_pairs) END AS kappa
            FROM totals, chance
        """,
        "shard_manifest": _PACK_CTE
        + """
            , spans AS (
                SELECT source, start_offset,
                       start_offset + n_tokens AS end_offset,
                       unnest(range(chunk_start, chunk_end + 1)) AS chunk_id
                FROM packed WHERE n_tokens > 0),
            chunks AS (
                SELECT source, chunk_id,
                       CAST(sum(least(end_offset, (chunk_id + 1) * 256)
                              - greatest(start_offset, chunk_id * 256)) AS BIGINT)
                           AS n_tokens
                FROM spans GROUP BY source, chunk_id)
            SELECT source, chunk_id // 16 AS shard_id,
                   CAST(count(*) AS BIGINT) AS n_chunks,
                   min(chunk_id) AS chunk_lo,
                   max(chunk_id) AS chunk_hi,
                   CAST(sum(n_tokens) AS BIGINT) AS n_tokens
            FROM chunks GROUP BY source, chunk_id // 16
        """,
        "strip_boilerplate": """
            WITH t AS (
                SELECT doc_id,
                       concat(text,
                           chr(10), 'Copyright 2024 Example Corp. All rights reserved',
                           chr(10), 'Subscribe to the newsletter today',
                           chr(10), 'short',
                           chr(10), 'Closing paragraph with enough characters to survive.')
                           AS text2
                FROM documents),
            k AS (
                SELECT doc_id,
                       string_split(text2, chr(10)) AS lines,
                       list_filter(string_split(text2, chr(10)),
                           l -> len(trim(l)) >= 10 AND NOT regexp_matches(trim(l),
                               '(?i)^(copyright\\b|all rights reserved|terms of (use|service)|privacy policy|cookie|subscribe\\b|sign (in|up)\\b|log ?in\\b|share this|follow us|advertisement$)'))
                           AS kept
                FROM t)
            SELECT doc_id,
                   CAST(len(lines) AS BIGINT) AS n_lines,
                   CAST(len(kept) AS BIGINT) AS n_kept,
                   array_to_string(kept, chr(10)) AS cleaned
            FROM k
        """,
        "url_profile": """
            WITH u AS (
                SELECT doc_id,
                       concat('https://www.', source, CAST(doc_id % 7 AS VARCHAR),
                              '.com/', lang, '/page/', CAST(doc_id AS VARCHAR),
                              CASE WHEN doc_id % 3 = 0 THEN '/extra' ELSE '' END)
                           AS url
                FROM documents),
            p AS (
                SELECT doc_id, url,
                       regexp_extract(url,
                           '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1) AS host,
                       regexp_extract(url,
                           '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS path
                FROM u)
            SELECT doc_id, host,
                   regexp_extract(host, '([^.]+\\.[^.]+)$', 1) AS domain,
                   CAST(len(list_filter(string_split(path, '/'), s -> s <> ''))
                        AS BIGINT) AS depth
            FROM p
        """,
        "pack_chunks": _PACK_CTE
        + """
            , spans AS (
                SELECT source, start_offset,
                       start_offset + n_tokens AS end_offset,
                       unnest(range(chunk_start, chunk_end + 1)) AS chunk_id
                FROM packed WHERE n_tokens > 0)
            SELECT source, chunk_id,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(least(end_offset, (chunk_id + 1) * 256)
                          - greatest(start_offset, chunk_id * 256)) AS BIGINT)
                       AS n_tokens,
                   CAST(sum(least(end_offset, (chunk_id + 1) * 256)
                          - greatest(start_offset, chunk_id * 256)) AS DOUBLE) / 256
                       AS fill
            FROM spans GROUP BY source, chunk_id
        """,
        "decontaminate": _DECON_CTE + "SELECT doc_id, n_hits FROM hits",
        "decontaminate_clean": _DECON_CTE
        + """
            SELECT doc_id, lang, source FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM hits)
        """,
        # the bloom path's false positives are removed by its exact
        # verify, so its output IS the exact clean set — same oracle.
        "bloom_decontaminate": _DECON_CTE
        + """
            SELECT doc_id, lang, source FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM hits)
        """,
        "ivf_dedup": f"""
            WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
            vn AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS n FROM v),
            c AS (SELECT vec_id AS cid, e AS ce, n AS cn FROM vn WHERE vec_id % 50 = 0),
            scored AS (
                SELECT vn.vec_id, vn.e, vn.n, c.cid,
                       round(list_dot_product(vn.e, c.ce) / (vn.n * c.cn), 6) AS sim
                FROM vn, c),
            assigned AS (
                SELECT vec_id, e, n, cid FROM (
                    SELECT *, row_number() OVER
                        (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
                    FROM scored) WHERE rn = 1)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_dot_product(a.e, b.e) / (a.n * b.n), 6) AS sim
            FROM assigned a JOIN assigned b USING (cid)
            WHERE a.vec_id < b.vec_id
              AND round(list_dot_product(a.e, b.e) / (a.n * b.n), 6) >= 0.3
        """,
        "tpch_q6": """
            SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        "tpch_q4ish": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
              AND EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
            GROUP BY o_orderpriority
        """,
        "tpch_q12ish": """
            SELECT l_linestatus,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY l_linestatus
        """,
        "tpch_q18ish": """
            WITH big AS (
                SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
                FROM lineitem GROUP BY l_orderkey
                HAVING round(sum(l_quantity), 2) > 300)
            SELECT c_name, c_custkey, o_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate_s,
                   round(o_totalprice, 2) AS o_totalprice, total_qty
            FROM big
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY o_totalprice DESC, o_orderkey ASC
            LIMIT 100
        """,
        "tpch_q22ish": """
            WITH a AS (SELECT round(avg(c_acctbal) / 2, 2) AS av
                       FROM customer WHERE c_acctbal > 0)
            SELECT c_nationkey, count(*) AS numcust,
                   round(sum(c_acctbal), 2) AS totacctbal
            FROM customer, a
            WHERE c_acctbal > a.av
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_totalprice > 300000)
            GROUP BY c_nationkey
        """,
        "price_quantiles": """
            SELECT l_linestatus,
                   round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
                   round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
                   round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
                   round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
                   count(*) AS n_lines
            FROM lineitem
            GROUP BY l_linestatus
        """,
        "tpch_q10ish": """
            SELECT c_custkey, c_name, n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
            GROUP BY c_custkey, c_name, n_name
            ORDER BY revenue DESC, c_custkey ASC
            LIMIT 20
        """,
        "promo_revenue": """
            SELECT CAST(p_type LIKE 'PROMO%' AS INTEGER) AS promo,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY 1
        """,
        "asof_purchase": """
            WITH e AS (
                SELECT user_id, event_id, event_type, value,
                       epoch_ns(ts) // 1000000000 AS sec
                FROM events),
            c AS (SELECT user_id, event_id AS click_id, sec AS click_sec
                  FROM e WHERE event_type = 'click'),
            p0 AS (SELECT user_id, sec AS p_sec, value AS p_value,
                          row_number() OVER (PARTITION BY user_id, sec
                                             ORDER BY event_id DESC) AS rn
                   FROM e WHERE event_type = 'purchase'),
            p AS (SELECT user_id, p_sec, p_value FROM p0 WHERE rn = 1)
            SELECT c.click_id, c.user_id, c.click_sec,
                   round(p.p_value, 4) AS p_value
            FROM c ASOF LEFT JOIN p
              ON c.user_id = p.user_id AND c.click_sec >= p.p_sec
        """,
        "range_join_events": """
            WITH e AS (
                SELECT user_id, event_id, event_type,
                       epoch_ns(ts) // 1000000000 AS sec
                FROM events),
            s AS (SELECT user_id, event_id AS signup_id, sec AS s_sec
                  FROM e WHERE event_type = 'signup'),
            p AS (SELECT user_id, event_id AS purchase_id, sec AS p_sec
                  FROM e WHERE event_type = 'purchase')
            SELECT signup_id, purchase_id, s.user_id
            FROM s JOIN p ON s.user_id = p.user_id
            WHERE p.p_sec >= s.s_sec AND p.p_sec < s.s_sec + 600
        """,
        "incremental_dedup": f"""
            WITH raw AS (
                SELECT doc_id AS id, CASE WHEN doc_id < 250 THEN 0 ELSE 1 END AS side,
                       text
                FROM documents),
            sh AS (
                SELECT DISTINCT id, side, shingle FROM (
                    SELECT id, side,
                           unnest(list_transform(
                               range(1, greatest(length(text) - 7, 1) + 1),
                               g -> substring(text, g, 8))) AS shingle
                    FROM raw)
                WHERE length(shingle) = 8),
            keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
            shf AS (SELECT sh.id, sh.side, sh.shingle FROM sh JOIN keep USING (shingle)),
            sizes AS (SELECT id, side, count(*) AS n FROM shf GROUP BY id, side),
            inter AS (
                SELECT a.id AS corpus_id, b.id AS new_id, count(*) AS i
                FROM shf a JOIN shf b USING (shingle)
                WHERE a.side = 0 AND b.side = 1
                GROUP BY 1, 2)
            SELECT corpus_id, new_id, i / (sc.n + sn.n - i) AS jaccard
            FROM inter
            JOIN sizes sc ON sc.id = corpus_id AND sc.side = 0
            JOIN sizes sn ON sn.id = new_id AND sn.side = 1
            WHERE i / (sc.n + sn.n - i) >= 0.05
        """,
        "frame_sample": """
            SELECT doc_id,
                   CAST(f AS INTEGER) AS frame_id,
                   substring(text, CAST(f AS INTEGER) * 4 + 1, 4) AS frame_text
            FROM (SELECT doc_id, text,
                         unnest(range(0, length(text) % 30 + 1, 5)) AS f
                  FROM documents)
        """,
        "token_budget": """
            WITH s AS (
                SELECT source, CAST(sum(len(list_filter(
                           regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+'),
                           x -> x <> ''))) AS BIGINT) AS avail_tokens
                FROM documents GROUP BY source),
            c AS (SELECT source, avail_tokens,
                         avail_tokens * 1500 // 1000 AS cap_tokens,
                         CAST(floor(sqrt(CAST(avail_tokens AS DOUBLE)) * 1000)
                              AS BIGINT) AS w_milli
                  FROM s),
            t AS (SELECT CAST(sum(w_milli) AS BIGINT) AS w_total FROM c),
            f AS (
                SELECT source, avail_tokens, cap_tokens,
                       least(cap_tokens,
                             CAST(floor(CAST(38000 AS DOUBLE) *
                                 (CAST(w_milli AS DOUBLE) / w_total))
                                 AS BIGINT)) AS alloc1
                FROM c, t),
            p AS (SELECT CAST(38000 - sum(alloc1) AS BIGINT) AS leftover,
                         CAST(sum(cap_tokens - alloc1) AS BIGINT) AS headroom
                  FROM f),
            a AS (
                SELECT source, avail_tokens, cap_tokens,
                       least(cap_tokens, alloc1 +
                           CASE WHEN headroom > 0 AND leftover > 0
                           THEN CAST(floor(CAST(leftover AS DOUBLE) *
                               (CAST(cap_tokens - alloc1 AS DOUBLE) / headroom))
                               AS BIGINT)
                           ELSE CAST(0 AS BIGINT) END) AS alloc_tokens
                FROM f, p)
            SELECT source, avail_tokens, cap_tokens, alloc_tokens,
                   CASE WHEN avail_tokens > 0
                        THEN CAST(floor(1000.0 *
                            (CAST(alloc_tokens AS DOUBLE) / avail_tokens))
                            AS BIGINT)
                        ELSE CAST(0 AS BIGINT) END AS epochs_milli
            FROM a
        """,
        "epoch_plan": """
            WITH m AS (
                SELECT source, doc_id // 50 AS shard_id,
                       CAST(sum(n_chars) AS BIGINT) AS n_tokens
                FROM documents GROUP BY 1, 2),
            w AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS w
                  FROM m GROUP BY source),
            s AS (SELECT m.source, m.shard_id, m.n_tokens,
                         CAST(sum(m.n_tokens) OVER (PARTITION BY m.source
                             ORDER BY m.shard_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                             AS BIGINT) AS cum_incl,
                         w.w AS w
                  FROM m JOIN w ON m.source = w.source),
            v AS (SELECT source, shard_id,
                         (2 * cum_incl - n_tokens) * CAST(1000000000 AS BIGINT)
                             // (2 * w) AS vt
                  FROM s)
            SELECT CAST(row_number() OVER (ORDER BY vt, source, shard_id)
                        AS BIGINT) AS position,
                   source, shard_id, vt
            FROM v
        """,
        "communities": """
            WITH li AS (SELECT l_orderkey AS o, l_partkey AS p
                        FROM lineitem WHERE l_orderkey % 5 = 0),
            e AS MATERIALIZED (
                SELECT DISTINCT a.p AS s, b.p AS d
                FROM li a JOIN li b USING (o) WHERE a.p <> b.p),
            nodes AS MATERIALIZED (
                SELECT s AS node FROM e UNION SELECT d FROM e),
            l0 AS (SELECT node, CAST(node AS BIGINT) AS community FROM nodes),
            v1 AS MATERIALIZED (
                SELECT e.d AS node, l.community, count(*) AS cnt
                FROM e JOIN l0 l ON l.node = e.s GROUP BY e.d, l.community),
            b1 AS MATERIALIZED (
                SELECT node, community FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY node ORDER BY cnt DESC, community ASC) AS rn
                    FROM v1) WHERE rn = 1),
            l1 AS MATERIALIZED (
                SELECT n.node,
                       CAST(coalesce(b.community, l.community) AS BIGINT)
                           AS community
                FROM nodes n JOIN l0 l USING (node)
                LEFT JOIN b1 b USING (node)),
            v2 AS MATERIALIZED (
                SELECT e.d AS node, l.community, count(*) AS cnt
                FROM e JOIN l1 l ON l.node = e.s GROUP BY e.d, l.community),
            b2 AS MATERIALIZED (
                SELECT node, community FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY node ORDER BY cnt DESC, community ASC) AS rn
                    FROM v2) WHERE rn = 1),
            l2 AS MATERIALIZED (
                SELECT n.node,
                       CAST(coalesce(b.community, l.community) AS BIGINT)
                           AS community
                FROM nodes n JOIN l1 l USING (node)
                LEFT JOIN b2 b USING (node)),
            v3 AS MATERIALIZED (
                SELECT e.d AS node, l.community, count(*) AS cnt
                FROM e JOIN l2 l ON l.node = e.s GROUP BY e.d, l.community),
            b3 AS MATERIALIZED (
                SELECT node, community FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY node ORDER BY cnt DESC, community ASC) AS rn
                    FROM v3) WHERE rn = 1),
            l3 AS MATERIALIZED (
                SELECT n.node,
                       CAST(coalesce(b.community, l.community) AS BIGINT)
                           AS community
                FROM nodes n JOIN l2 l USING (node)
                LEFT JOIN b3 b USING (node))
            SELECT node, community FROM l3
        """,
        "hits": """
            WITH li AS (SELECT l_orderkey AS o, l_partkey AS p
                        FROM lineitem WHERE l_orderkey % 5 = 0),
            e AS (SELECT DISTINCT a.p AS s, b.p AS d
                  FROM li a JOIN li b USING (o) WHERE a.p <> b.p),
            nodes AS (SELECT s AS node FROM e UNION SELECT d FROM e),
            a1r AS (SELECT d AS node, CAST(1000 * count(*) AS BIGINT) AS a
                    FROM e GROUP BY d),
            a1f AS (SELECT node, CAST(coalesce(a, 0) AS BIGINT) AS a
                    FROM nodes LEFT JOIN a1r USING (node)),
            a1m AS (SELECT max(a) AS mx FROM a1f),
            a1 AS (SELECT node, CASE WHEN mx > 0 THEN
                       CAST((2 * 1000 * a + mx) // (2 * mx) AS BIGINT)
                       ELSE CAST(0 AS BIGINT) END AS a
                   FROM a1f, a1m),
            h1r AS (SELECT e.s AS node, CAST(sum(a1.a) AS BIGINT) AS h
                    FROM e JOIN a1 ON a1.node = e.d GROUP BY e.s),
            h1f AS (SELECT node, CAST(coalesce(h, 0) AS BIGINT) AS h
                    FROM nodes LEFT JOIN h1r USING (node)),
            h1m AS (SELECT max(h) AS mx FROM h1f),
            h1 AS (SELECT node, CASE WHEN mx > 0 THEN
                       CAST((2 * 1000 * h + mx) // (2 * mx) AS BIGINT)
                       ELSE CAST(0 AS BIGINT) END AS h
                   FROM h1f, h1m),
            a2r AS (SELECT e.d AS node, CAST(sum(h1.h) AS BIGINT) AS a
                    FROM e JOIN h1 ON h1.node = e.s GROUP BY e.d),
            a2f AS (SELECT node, CAST(coalesce(a, 0) AS BIGINT) AS a
                    FROM nodes LEFT JOIN a2r USING (node)),
            a2m AS (SELECT max(a) AS mx FROM a2f),
            a2 AS (SELECT node, CASE WHEN mx > 0 THEN
                       CAST((2 * 1000 * a + mx) // (2 * mx) AS BIGINT)
                       ELSE CAST(0 AS BIGINT) END AS a
                   FROM a2f, a2m),
            h2r AS (SELECT e.s AS node, CAST(sum(a2.a) AS BIGINT) AS h
                    FROM e JOIN a2 ON a2.node = e.d GROUP BY e.s),
            h2f AS (SELECT node, CAST(coalesce(h, 0) AS BIGINT) AS h
                    FROM nodes LEFT JOIN h2r USING (node)),
            h2m AS (SELECT max(h) AS mx FROM h2f),
            h2 AS (SELECT node, CASE WHEN mx > 0 THEN
                       CAST((2 * 1000 * h + mx) // (2 * mx) AS BIGINT)
                       ELSE CAST(0 AS BIGINT) END AS h
                   FROM h2f, h2m)
            SELECT node, h2.h AS hub_milli, a2.a AS authority_milli
            FROM h2 JOIN a2 USING (node)
        """,
        "remove_direction": f"""
            WITH {_ABTT_CTE},
            qid AS (
                SELECT vec_id,
                       list_transform(embedding,
                           x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)
                       ) AS qv
                FROM embeddings),
            cdims AS (
                SELECT d, CAST(sum(x) AS BIGINT) AS s
                FROM (SELECT unnest(qv) AS x,
                             unnest(range(1, len(qv) + 1)) AS d
                      FROM qid)
                GROUP BY d),
            csums AS (SELECT list(s ORDER BY d) AS ss FROM cdims),
            cn AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM qid),
            cenq AS (
                SELECT vec_id,
                       list_transform(range(1, len(qv) + 1),
                           i -> nn * qv[CAST(i AS INT)] - ss[CAST(i AS INT)]
                       ) AS c,
                       nn * 1000 AS dc
                FROM qid, csums, cn
                WHERE vec_id < 50),
            dirv AS (SELECT v, CAST(list_sum(list_transform(v, t -> t * t))
                            AS BIGINT) AS vn2
                     FROM v2),
            proj AS (
                SELECT vec_id, c, dc, v, vn2,
                       CAST(list_sum(list_transform(range(1, len(c) + 1),
                           i -> c[CAST(i AS INT)] * v[CAST(i AS INT)]))
                           AS BIGINT) AS s
                FROM cenq, dirv)
            SELECT vec_id, dc * vn2 AS denom, CAST(d - 1 AS INT) AS d,
                   c[CAST(d AS INT)] * vn2 - s * v[CAST(d AS INT)] AS r
            FROM (SELECT vec_id, c, dc, v, vn2, s,
                         unnest(range(1, len(c) + 1)) AS d
                  FROM proj)
        """,
        "pca_direction": f"""
            WITH {_ABTT_CTE}
            SELECT CAST(d - 1 AS INT) AS d, v[CAST(d AS INT)] AS v_milli
            FROM (SELECT v, unnest(range(1, len(v) + 1)) AS d FROM v2)
            UNION ALL
            SELECT CAST(-1 AS INT) AS d, CAST(round(nrm) AS BIGINT) AS v_milli
            FROM n2
        """,
        "exact_substr_spans": f"""
            WITH {_EXACT_SUBSTR_CTE}
            SELECT doc_id,
                   CAST(s AS BIGINT) AS span_start,
                   CAST(e AS BIGINT) AS span_end,
                   CAST(e - s AS BIGINT) AS span_len
            FROM spans
        """,
        "exact_substr_strip": f"""
            WITH {_EXACT_SUBSTR_CTE},
            segs AS (
                SELECT doc_id,
                       coalesce(lag(e) OVER (
                           PARTITION BY doc_id ORDER BY s), 1) AS seg_s,
                       s AS seg_e
                FROM spans
                UNION ALL
                SELECT doc_id, max(e) AS seg_s, NULL AS seg_e
                FROM spans GROUP BY doc_id),
            clean AS (
                SELECT g.doc_id,
                       string_agg(
                           substring(t.text, CAST(g.seg_s AS INT),
                               CAST(coalesce(g.seg_e, length(t.text) + 1)
                                    - g.seg_s AS INT)),
                           '' ORDER BY g.seg_s) AS kept
                FROM segs g JOIN t USING (doc_id) GROUP BY g.doc_id),
            cut AS (SELECT doc_id, CAST(sum(e - s) AS BIGINT) AS n_cut
                    FROM spans GROUP BY doc_id)
            SELECT t.doc_id,
                   CAST(length(t.text) AS BIGINT) AS n_chars,
                   coalesce(cut.n_cut, 0) AS n_removed,
                   coalesce(clean.kept, t.text) AS clean_text
            FROM t
            LEFT JOIN clean USING (doc_id)
            LEFT JOIN cut USING (doc_id)
        """,
        "exact_substr_fixpoint": f"""
            WITH t0 AS (SELECT doc_id, coalesce(text, '') AS text
                        FROM documents),
            {_strip_pass_sql("t0", "t1", "f1_", _dup_match_sql("f1_"))},
            {_strip_pass_sql("t1", "t2", "f2_", _dup_match_sql("f2_"))}
            SELECT t0.doc_id,
                   CAST(length(t0.text) AS BIGINT) AS n_chars,
                   CAST(length(t0.text) - length(t2.text) AS BIGINT)
                       AS n_removed,
                   t2.text AS clean_text,
                   CAST(CASE WHEN EXISTS (SELECT 1 FROM f1_dpos)
                        THEN 2 ELSE 1 END AS BIGINT) AS n_passes
            FROM t0 JOIN t2 USING (doc_id)
        """,
        "contaminated_strip_fixpoint": f"""
            WITH t0 AS (SELECT doc_id, coalesce(text, '') AS text
                        FROM documents WHERE doc_id % 7 <> 0),
            r AS (SELECT coalesce(text, '') AS text
                  FROM documents WHERE doc_id % 7 = 0),
            rg AS (SELECT DISTINCT substring(text, CAST(p AS INT), 60) AS g
                   FROM (SELECT text,
                                unnest(range(1, length(text) - 60 + 2)) AS p
                         FROM r WHERE length(text) >= 60)),
            {_strip_pass_sql("t0", "t1", "c1_", _ref_match_sql("c1_"))},
            {_strip_pass_sql("t1", "t2", "c2_", _ref_match_sql("c2_"))}
            SELECT t0.doc_id,
                   CAST(length(t0.text) AS BIGINT) AS n_chars,
                   CAST(length(t0.text) - length(t2.text) AS BIGINT)
                       AS n_removed,
                   t2.text AS clean_text,
                   CAST(CASE WHEN EXISTS (SELECT 1 FROM c1_dpos)
                        THEN 2 ELSE 1 END AS BIGINT) AS n_passes
            FROM t0 JOIN t2 USING (doc_id)
        """,
        "contaminated_spans": """
            WITH t AS (SELECT doc_id, coalesce(text, '') AS text
                       FROM documents WHERE doc_id % 7 <> 0),
            r AS (SELECT coalesce(text, '') AS text
                  FROM documents WHERE doc_id % 7 = 0),
            rg AS (SELECT DISTINCT substring(text, CAST(p AS INT), 60) AS g
                   FROM (SELECT text,
                                unnest(range(1, length(text) - 60 + 2)) AS p
                         FROM r WHERE length(text) >= 60)),
            grams AS (SELECT doc_id, p,
                             substring(text, CAST(p AS INT), 60) AS g
                      FROM (SELECT doc_id, text,
                                   unnest(range(1, length(text) - 60 + 2)) AS p
                            FROM t WHERE length(text) >= 60)),
            dpos AS (SELECT doc_id, p FROM grams JOIN rg USING (g)),
            isl AS (SELECT doc_id, p,
                           CASE WHEN p - lag(p) OVER (
                               PARTITION BY doc_id ORDER BY p) <= 60
                           THEN 0 ELSE 1 END AS brk
                    FROM dpos),
            g2 AS (SELECT doc_id, p,
                          sum(brk) OVER (PARTITION BY doc_id ORDER BY p
                              ROWS UNBOUNDED PRECEDING) AS island
                   FROM isl)
            SELECT doc_id,
                   CAST(min(p) AS BIGINT) AS span_start,
                   CAST(max(p) + 60 AS BIGINT) AS span_end,
                   CAST(max(p) + 60 - min(p) AS BIGINT) AS span_len
            FROM g2 GROUP BY doc_id, island
        """,
        "center_embeddings": """
            WITH q AS (
                SELECT vec_id,
                       list_transform(embedding,
                           x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)
                       ) AS q
                FROM embeddings),
            dims AS (
                SELECT d, CAST(sum(x) AS BIGINT) AS s
                FROM (SELECT unnest(q) AS x,
                             unnest(range(1, len(q) + 1)) AS d
                      FROM q)
                GROUP BY d),
            sums AS (SELECT list(s ORDER BY d) AS ss FROM dims),
            n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM q)
            SELECT vec_id, nn * 1000 AS denom,
                   CAST(d - 1 AS INT) AS d,
                   nn * q[CAST(d AS INT)] - ss[CAST(d AS INT)] AS c
            FROM (SELECT vec_id, q, unnest(range(1, len(q) + 1)) AS d
                  FROM q WHERE vec_id < 100), sums, n
        """,
        "embedding_anisotropy": """
            WITH q AS (
                SELECT list_transform(embedding,
                           x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)
                       ) AS q
                FROM embeddings),
            t AS (
                SELECT CAST(count(*) AS BIGINT) AS n_vecs,
                       CAST(coalesce(max(len(q)), 0) AS BIGINT) AS dim,
                       CAST(coalesce(sum(list_sum(
                           list_transform(q, x -> x * x))), 0) AS BIGINT)
                           AS t_self
                FROM q),
            dims AS (
                SELECT d, CAST(sum(x) AS BIGINT) AS s
                FROM (SELECT unnest(q) AS x,
                             unnest(range(1, len(q) + 1)) AS d
                      FROM q)
                GROUP BY d),
            sn AS (SELECT CAST(coalesce(sum(s * s), 0) AS BIGINT) AS s_norm2
                   FROM dims)
            SELECT n_vecs, dim, t_self, s_norm2,
                   CASE WHEN n_vecs >= 2 AND t_self > 0 THEN
                       CAST(s_norm2 - t_self AS DOUBLE)
                       / CAST((n_vecs - 1) * t_self AS DOUBLE) END
                       AS anisotropy
            FROM t, sn
        """,
        "embedding_norms": """
            WITH q AS (
                SELECT label,
                       CAST(list_sum(list_transform(embedding,
                           x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)
                              * CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)
                       )) AS BIGINT) AS n2
                FROM embeddings)
            SELECT label, count(*) AS n_vecs,
                   round(CAST(sum(n2) AS DOUBLE) / count(*), 6) AS mean_norm2,
                   CAST(min(n2) AS BIGINT) AS min_norm2,
                   CAST(max(n2) AS BIGINT) AS max_norm2
            FROM q GROUP BY label
        """,
        "winnow_recall": f"""
            WITH {_SHINGLES_CTE},
            rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
            shf AS (SELECT sh.id, sh.shingle FROM sh JOIN rare USING (shingle)),
            sizes AS (SELECT id, count(*) AS n FROM shf GROUP BY id),
            truth AS (
                SELECT id_a, id_b FROM (
                    SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
                    FROM shf a JOIN shf b USING (shingle)
                    WHERE a.id < b.id GROUP BY 1, 2) x
                JOIN sizes sa ON sa.id = x.id_a
                JOIN sizes sb ON sb.id = x.id_b
                WHERE i / (sa.n + sb.n - i) >= 0.1),
            g AS (
                SELECT doc_id AS id, CAST(p AS INTEGER) AS pos,
                       substring(text, CAST(p AS INTEGER), 8) AS gram
                FROM documents,
                     LATERAL unnest(range(1, greatest(length(text) - 7, 0) + 1))
                         AS t(p)),
            h AS (
                SELECT id, pos,
                       CAST(('0x' || substring(sha256('winnow:' || gram), 1, 8))
                            AS BIGINT) AS h
                FROM g WHERE length(gram) = 8),
            w AS (
                SELECT id, pos,
                       min(h) OVER (PARTITION BY id ORDER BY pos
                           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
                       count(*) OVER (PARTITION BY id) AS n_grams
                FROM h),
            f AS (SELECT DISTINCT id, fp FROM w WHERE pos <= n_grams - 3),
            d AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= 100),
            r AS (SELECT f.id, f.fp FROM f JOIN d ON f.fp = d.fp),
            cand AS (
                SELECT a.id AS id_a, b.id AS id_b
                FROM r a JOIN r b ON a.fp = b.fp AND a.id < b.id
                GROUP BY 1, 2 HAVING count(*) >= 2),
            joined AS (
                SELECT CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END AS t,
                       CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS c
                FROM truth t FULL OUTER JOIN cand c
                  ON t.id_a = c.id_a AND t.id_b = c.id_b),
            agg AS (
                SELECT CAST(sum(t) AS BIGINT) AS n_truth,
                       CAST(sum(c) AS BIGINT) AS n_cand,
                       CAST(sum(t * c) AS BIGINT) AS n_hit
                FROM joined)
            SELECT n_truth, n_cand, n_hit,
                   CASE WHEN n_truth > 0
                        THEN CAST(n_hit AS DOUBLE) / n_truth END AS recall,
                   CASE WHEN n_cand > 0
                        THEN CAST(n_hit AS DOUBLE) / n_cand END AS precision
            FROM agg
        """,
        "winnow_overlap": f"""
            WITH {_WINNOW_PAIRS_CTE}
            SELECT id_a, id_b, n_shared FROM win
        """,
        "dup_size_histogram": """
            WITH u AS (
                SELECT text FROM documents
                UNION ALL SELECT text FROM documents WHERE doc_id % 7 = 0
                UNION ALL SELECT text FROM documents WHERE doc_id % 21 = 0),
            c AS (
                SELECT count(*) AS cluster_size
                FROM u
                GROUP BY trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))
            )
            SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
                   count(*) AS n_clusters,
                   CAST(cluster_size * count(*) AS BIGINT) AS n_docs
            FROM c GROUP BY cluster_size
        """,
        "video_frames": """
            SELECT doc_id,
                   CAST(f AS INTEGER) AS frame_id,
                   CAST(list_sum(list_transform(
                       string_split(substring(text, CAST(f AS INTEGER) * 4 + 1, 4), ''),
                       c -> unicode(c))) AS DOUBLE) / 4 AS mean_luma,
                   'stub' AS decoder
            FROM (SELECT doc_id, coalesce(text, '') AS text FROM documents),
                 LATERAL unnest(range(0, length(text) // 4, 5)) AS t(f)
        """,
        "image_dhash": _DHASH_CTE + """
            SELECT b2.doc_id AS id, coalesce(h.dhash, 0) AS dhash
            FROM b2 LEFT JOIN hashes h USING (doc_id)
        """,
        "image_whash": _WHASH_CTE + """
            SELECT b2.doc_id AS id, coalesce(w.whash, 0) AS whash
            FROM b2 LEFT JOIN whashes w USING (doc_id)
        """,
        "pagerank_redistribute": """
            WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
            n0 AS (SELECT count(*) AS n FROM docs),
            e0 AS (
                SELECT id AS src, (id * 31 + 7) % (SELECT n FROM n0) AS dst
                FROM docs WHERE id % 5 != 0
                UNION ALL
                SELECT id, (id * 17 + 3) % (SELECT n FROM n0)
                FROM docs WHERE id % 5 != 0),
            e AS (SELECT src, dst FROM e0 WHERE dst != src),
            deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
            nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
            nn AS (SELECT count(*) AS n FROM nodes),
            p0 AS (SELECT node, 1000000000000 // (SELECT n FROM nn) AS p
                   FROM nodes),
            d1 AS (SELECT COALESCE(sum(p), 0) // (SELECT n FROM nn) AS share
                   FROM p0 WHERE node NOT IN (SELECT src FROM deg)),
            c1 AS (SELECT e.dst, CAST(sum(p0.p // deg.deg) AS BIGINT) AS s
                   FROM p0 JOIN deg ON p0.node = deg.src
                           JOIN e ON e.src = deg.src
                   GROUP BY e.dst),
            p1 AS (SELECT node,
                          (15 * 1000000000000) // (100 * (SELECT n FROM nn))
                          + (85 * (COALESCE(s, 0) + (SELECT share FROM d1)))
                            // 100 AS p
                   FROM nodes LEFT JOIN c1 ON node = dst),
            d2 AS (SELECT COALESCE(sum(p), 0) // (SELECT n FROM nn) AS share
                   FROM p1 WHERE node NOT IN (SELECT src FROM deg)),
            c2 AS (SELECT e.dst, CAST(sum(p1.p // deg.deg) AS BIGINT) AS s
                   FROM p1 JOIN deg ON p1.node = deg.src
                           JOIN e ON e.src = deg.src
                   GROUP BY e.dst),
            p2 AS (SELECT node,
                          (15 * 1000000000000) // (100 * (SELECT n FROM nn))
                          + (85 * (COALESCE(s, 0) + (SELECT share FROM d2)))
                            // 100 AS p
                   FROM nodes LEFT JOIN c2 ON node = dst)
            SELECT node, CAST(p AS BIGINT) AS rank_scaled FROM p2 ORDER BY node
        """,
        "salted_join": """
            SELECT s_nationkey,
                   count(*) AS n_li,
                   CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
            FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
            GROUP BY s_nationkey
            ORDER BY s_nationkey
        """,
        "two_phase_agg": """
            SELECT l_returnflag,
                   CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total,
                   count(*) AS n_rows
            FROM lineitem
            GROUP BY l_returnflag
            ORDER BY l_returnflag
        """,
        "dhash_pairs": _DHASH_CTE + """,
            hp AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS ham
                FROM (SELECT b2.doc_id, coalesce(h.dhash, 0) AS dhash
                      FROM b2 LEFT JOIN hashes h USING (doc_id)) a,
                     (SELECT b2.doc_id, coalesce(h.dhash, 0) AS dhash
                      FROM b2 LEFT JOIN hashes h USING (doc_id)) b
                WHERE a.doc_id < b.doc_id)
            SELECT id_a, id_b, ham FROM hp WHERE ham <= 3
        """,
        "audio_features": """
            WITH b AS (
                SELECT doc_id, length(text) AS n,
                       list_transform(string_split(text, ''), c -> unicode(c)) AS bytes
                FROM documents)
            SELECT doc_id,
                   CAST(n AS BIGINT) AS n_samples,
                   CAST(list_sum(bytes) AS DOUBLE) / n AS mean_amp,
                   sqrt(CAST(list_sum(list_transform(bytes, x -> x * x)) AS DOUBLE) / n)
                       AS rms,
                   CAST(n AS DOUBLE) / 16000 AS duration_s
            FROM b
        """,
        "list_source_infer": """
            SELECT row_id, prompt, 'ECHO: ' || upper(substr(prompt, 1, 32)) AS outputs
            FROM (VALUES (CAST(0 AS BIGINT), 'alpha beta'),
                         (CAST(1 AS BIGINT), 'gamma'),
                         (CAST(2 AS BIGINT), 'delta epsilon zeta')) AS t(row_id, prompt)
        """,
        "set_ops": """
            SELECT v FROM (
                SELECT DISTINCT event_type AS v FROM events
                UNION
                SELECT DISTINCT o_orderstatus AS v FROM orders)
            EXCEPT ALL SELECT 'click'
        """,
        "pivot_qty": """
            SELECT l_returnflag,
                   round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2)
                       AS qty_open,
                   round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2)
                       AS qty_filled
            FROM lineitem GROUP BY l_returnflag
        """,
        "rollup_counts": """
            SELECT l_returnflag, l_linestatus, count(*) AS n_rows
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "tpch_q2ish": """
            WITH m AS (
                SELECT p_type, min(p_retailprice) AS min_price
                FROM part GROUP BY p_type)
            SELECT p_type, p_partkey, p_name, p_retailprice
            FROM part JOIN m USING (p_type)
            WHERE p_retailprice = min_price
        """,
        "tpch_q8ish": """
            WITH asia_nk AS (
                SELECT n_nationkey FROM nation
                JOIN region ON n_regionkey = r_regionkey
                WHERE r_name = 'ASIA')
            SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   round(sum(CASE WHEN sn.n_name = 'NATION_1'
                             THEN l_extendedprice * (1 - l_discount)
                             ELSE 0.0 END)
                         / sum(l_extendedprice * (1 - l_discount)), 6)
                       AS mkt_share,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS total_rev
            FROM lineitem
            JOIN orders    ON l_orderkey = o_orderkey
            JOIN customer  ON o_custkey = c_custkey
            JOIN asia_nk   ON c_nationkey = n_nationkey
            JOIN supplier  ON l_suppkey = s_suppkey
            JOIN nation sn ON s_nationkey = sn.n_nationkey
            GROUP BY year(o_orderdate)
        """,
        "tpch_q9ish": """
            SELECT n_name AS nation,
                   CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS profit,
                   CAST(count(*) AS BIGINT) AS n_items
            FROM lineitem
            JOIN part     ON l_partkey = p_partkey
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            WHERE p_name LIKE '%red%'
            GROUP BY n_name, year(o_orderdate)
        """,
        "tpch_q11ish": """
            WITH per_part AS (
                SELECT l_partkey,
                       sum(l_extendedprice * (1 - l_discount)) AS part_rev
                FROM lineitem GROUP BY l_partkey),
            stats AS (
                SELECT sum(part_rev) AS total_rev, count(*) AS n_parts
                FROM per_part)
            SELECT l_partkey, round(part_rev, 2) AS part_value
            FROM per_part, stats
            WHERE part_rev > 1.4 * total_rev / n_parts
        """,
        "tpch_q13ish": """
            WITH per_cust AS (
                SELECT c_custkey, count(o_orderkey) AS c_count
                FROM customer
                LEFT JOIN (SELECT * FROM orders
                           WHERE o_orderpriority <> '1-URGENT') o
                  ON c_custkey = o_custkey
                GROUP BY c_custkey)
            SELECT c_count, count(*) AS custdist
            FROM per_cust GROUP BY c_count
        """,
        "tpch_q15ish": """
            WITH rev AS (
                SELECT l_suppkey,
                       round(sum(l_extendedprice * (1 - l_discount)), 2)
                           AS total_rev
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate <  TIMESTAMP '1996-04-01'
                GROUP BY l_suppkey)
            SELECT s_suppkey, s_name, total_rev
            FROM rev JOIN supplier ON l_suppkey = s_suppkey
            WHERE total_rev = (SELECT max(total_rev) FROM rev)
        """,
        "tpch_q16ish": """
            SELECT p_brand, p_type, p_size,
                   CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#1'
              AND l_suppkey NOT IN (
                  SELECT s_suppkey FROM supplier
                  WHERE s_name LIKE '%000000000%')
            GROUP BY p_brand, p_type, p_size
        """,
        "tpch_q19ish": """
            SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   CAST(count(*) AS BIGINT) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 1 AND 20)
               OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
                   AND l_quantity BETWEEN 10 AND 30)
               OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
                   AND l_quantity BETWEEN 20 AND 40)
        """,
        "tpch_q20ish": """
            WITH heavy AS (
                SELECT l_suppkey
                FROM lineitem
                JOIN (SELECT p_partkey FROM part
                      WHERE p_name LIKE 'small%') p
                  ON l_partkey = p_partkey
                WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                  AND l_shipdate <  TIMESTAMP '1998-01-01'
                GROUP BY l_suppkey
                HAVING sum(l_quantity) > 300)
            SELECT s_suppkey, s_name, n_name AS nation
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            WHERE s_suppkey IN (SELECT l_suppkey FROM heavy)
        """,
        "tpch_q21ish": """
            WITH l1 AS (
                SELECT l_orderkey, l_suppkey
                FROM lineitem WHERE l_returnflag = 'R')
            SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
            FROM l1
            JOIN supplier ON l1.l_suppkey = s_suppkey
            WHERE l1.l_orderkey IN
                  (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
              AND EXISTS (
                  SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (
                  SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
            GROUP BY s_name
        """,
        "events_rolling": """
            SELECT event_id, user_id,
                   epoch_ns(ts) // 1000000000 AS sec,
                   count(*) OVER w AS roll_cnt,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w
                       AS BIGINT) AS roll_cents
            FROM events
            WINDOW w AS (
                PARTITION BY user_id
                ORDER BY epoch_ns(ts) // 1000000000
                RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
        """,
        "dedup_keep_best": f"""
            WITH RECURSIVE {_SIMHASH_CTE},
            chunks AS (
                SELECT id, simhash, cid, (simhash >> (cid * 16)) & 65535 AS chunk
                FROM fp, (SELECT unnest(range(0, 4)) AS cid) c),
            p AS (
                SELECT DISTINCT x.id AS id_a, y.id AS id_b
                FROM chunks x
                JOIN chunks y ON x.cid = y.cid AND x.chunk = y.chunk
                WHERE x.id < y.id
                  AND bit_count(xor(x.simhash, y.simhash)) <= 8),
            edges AS (SELECT id_a AS a, id_b AS b FROM p
                      UNION ALL SELECT id_b, id_a FROM p),
            {_KEEP_BEST_TAIL}
        """,
        "quality_train": _QUALITY_TRAIN_SQL,
        "quality_train_eval": _QUALITY_TRAIN_EVAL_SQL,
        "zorder_key": """
            WITH z0 AS (SELECT o_orderkey,
                               o_custkey & 65535 AS xv,
                               o_orderkey & 65535 AS yv FROM orders),
            z1 AS (SELECT o_orderkey, ((xv | (xv << 8)) & 16711935) AS xv,
                          ((yv | (yv << 8)) & 16711935) AS yv FROM z0),
            z2 AS (SELECT o_orderkey, ((xv | (xv << 4)) & 252645135) AS xv,
                          ((yv | (yv << 4)) & 252645135) AS yv FROM z1),
            z3 AS (SELECT o_orderkey, ((xv | (xv << 2)) & 858993459) AS xv,
                          ((yv | (yv << 2)) & 858993459) AS yv FROM z2),
            z4 AS (SELECT o_orderkey, ((xv | (xv << 1)) & 1431655765) AS xv,
                          ((yv | (yv << 1)) & 1431655765) AS yv FROM z3)
            SELECT o_orderkey, CAST(xv | (yv << 1) AS BIGINT) AS zkey
            FROM z4
        """,
        "pq_codes": _pq_sql() + """
            SELECT vec_id, sub, code FROM pm2
        """,
        "pq_topk": _pq_sql() + _PQ_TOPK_TAIL + """
            SELECT query_id, neighbor_id, adist2, rank
            FROM pq_ranked WHERE rank <= 3
        """,
        "ivfpq_topk": _kmeans_sql() + "," + _pq_sql().replace("WITH ", "", 1) + """,
            qsv3 AS (SELECT vec_id AS query_id, sub, sqv FROM sv
                     WHERE vec_id < 5),
            qdt3 AS (
                SELECT q3.query_id, c.sub, c.code,
                       CAST(list_sum(list_transform(range(1, 9),
                           i -> (q3.sqv[CAST(i AS INT)] - c.cv[CAST(i AS INT)])
                              * (q3.sqv[CAST(i AS INT)] - c.cv[CAST(i AS INT)])))
                           AS BIGINT) AS d2
                FROM qsv3 q3 JOIN pc1 c USING (sub)),
            qp0 AS (
                SELECT p.vec_id AS query_id, c1.cluster,
                       CAST(list_sum(list_transform(range(1, 65),
                           i -> (p.qv[CAST(i AS INT)] - c1.cv[CAST(i AS INT)])
                              * (p.qv[CAST(i AS INT)] - c1.cv[CAST(i AS INT)])))
                           AS BIGINT) AS d2
                FROM q p, c1 WHERE p.vec_id < 5),
            qp AS (SELECT query_id, cluster FROM (
                    SELECT query_id, cluster,
                           row_number() OVER (PARTITION BY query_id
                               ORDER BY d2, cluster) AS rn
                    FROM qp0) WHERE rn <= 2),
            candv AS (SELECT qp.query_id, m2.vec_id AS neighbor_id
                      FROM qp JOIN m2 USING (cluster)
                      WHERE m2.vec_id <> qp.query_id),
            adcd AS (
                SELECT cv2.query_id, cv2.neighbor_id,
                       CAST(sum(qdt3.d2) AS BIGINT) AS adist2
                FROM candv cv2
                JOIN pm2 ON pm2.vec_id = cv2.neighbor_id
                JOIN qdt3 ON qdt3.query_id = cv2.query_id
                         AND qdt3.sub = pm2.sub AND qdt3.code = pm2.code
                GROUP BY cv2.query_id, cv2.neighbor_id)
            SELECT query_id, neighbor_id, adist2,
                   CAST(rank AS BIGINT) AS rank FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY adist2, neighbor_id) AS rank
                FROM adcd) WHERE rank <= 3
        """,
        "ivfpq_residual": _ivfpq_residual_sql() + """
            SELECT query_id, neighbor_id, adist2, rank
            FROM rranked WHERE rank <= 3
        """,
        "ivfpq_prune": _ivfpq_residual_sql() + """,
            bnd AS (
                SELECT query_id, cluster, CAST(sum(md) AS BIGINT) AS bound
                FROM (SELECT query_id, cluster, sub, min(d2) AS md
                      FROM rqdt GROUP BY query_id, cluster, sub) t
                GROUP BY query_id, cluster),
            prm AS (
                SELECT query_id, cluster AS prim_cluster FROM (
                    SELECT query_id, cluster,
                           row_number() OVER (PARTITION BY query_id
                               ORDER BY bound, cluster) AS rn
                    FROM bnd) WHERE rn = 1),
            pdx AS (
                SELECT rc.query_id, rc.cluster, rc.neighbor_id, ra.adist2
                FROM rcand rc JOIN radist ra
                  ON ra.query_id = rc.query_id
                 AND ra.neighbor_id = rc.neighbor_id),
            ptk AS (
                SELECT query_id, max(adist2) AS tau, count(*) AS nk FROM (
                    SELECT p2.query_id, p2.adist2, p2.neighbor_id,
                           row_number() OVER (PARTITION BY p2.query_id
                               ORDER BY p2.adist2, p2.neighbor_id) AS rn
                    FROM pdx p2 JOIN prm ON prm.query_id = p2.query_id
                                        AND prm.prim_cluster = p2.cluster) t
                WHERE rn <= 3 GROUP BY query_id),
            srv AS (
                SELECT b.query_id, b.cluster
                FROM bnd b JOIN prm USING (query_id)
                LEFT JOIN ptk USING (query_id)
                WHERE b.cluster = prm.prim_cluster
                   OR ptk.tau IS NULL OR ptk.nk < 3
                   OR b.bound <= ptk.tau),
            fullc AS (
                SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
                       CAST(count(*) AS BIGINT) AS cand_full
                FROM rcand),
            prc AS (
                SELECT CAST(count(*) AS BIGINT) AS cand_pruned
                FROM rcand rc JOIN srv ON srv.query_id = rc.query_id
                                      AND srv.cluster = rc.cluster)
            SELECT n_queries, cand_full, cand_pruned FROM fullc, prc
        """,
        "ivfpq_rescore": _ivfpq_residual_sql() + """,
            shortl AS (SELECT query_id, neighbor_id FROM rranked
                       WHERE rank <= 10),
            rsd AS (
                SELECT s.query_id, s.neighbor_id,
                       CAST(list_sum(list_transform(range(1, 65),
                           i -> (qq.qv[CAST(i AS INT)] - nn.qv[CAST(i AS INT)])
                              * (qq.qv[CAST(i AS INT)] - nn.qv[CAST(i AS INT)])))
                           AS BIGINT) AS dist2
                FROM shortl s
                JOIN q nn ON nn.vec_id = s.neighbor_id
                JOIN q qq ON qq.vec_id = s.query_id)
            SELECT query_id, neighbor_id, dist2,
                   CAST(rank AS BIGINT) AS rank FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY dist2, neighbor_id) AS rank
                FROM rsd) WHERE rank <= 3
        """,
        "ivfpq_rescore_recall": _ivfpq_residual_sql() + """,
            shortl AS (SELECT query_id, neighbor_id FROM rranked
                       WHERE rank <= 10),
            rsd AS (
                SELECT s.query_id, s.neighbor_id,
                       CAST(list_sum(list_transform(range(1, 65),
                           i -> (qq.qv[CAST(i AS INT)] - nn.qv[CAST(i AS INT)])
                              * (qq.qv[CAST(i AS INT)] - nn.qv[CAST(i AS INT)])))
                           AS BIGINT) AS dist2
                FROM shortl s
                JOIN q nn ON nn.vec_id = s.neighbor_id
                JOIN q qq ON qq.vec_id = s.query_id),
            cd AS (SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                           ORDER BY dist2, neighbor_id) AS rn
                FROM rsd) WHERE rn <= 3),
            exq AS (SELECT vec_id AS query_id, qv FROM q WHERE vec_id < 5),
            exd AS (
                SELECT exq.query_id, p.vec_id AS neighbor_id,
                       CAST(list_sum(list_transform(range(1, 65),
                           i -> (exq.qv[CAST(i AS INT)] - p.qv[CAST(i AS INT)])
                              * (exq.qv[CAST(i AS INT)] - p.qv[CAST(i AS INT)])))
                           AS BIGINT) AS dist2
                FROM exq, q p WHERE p.vec_id <> exq.query_id),
            tr AS (SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                           ORDER BY dist2, neighbor_id) AS rn
                FROM exd) WHERE rn <= 3),
            joined AS (
                SELECT CASE WHEN tr.query_id IS NOT NULL THEN 1 ELSE 0 END AS t,
                       CASE WHEN cd.query_id IS NOT NULL THEN 1 ELSE 0 END AS c
                FROM tr FULL OUTER JOIN cd
                  ON tr.query_id = cd.query_id
                 AND tr.neighbor_id = cd.neighbor_id),
            agg AS (
                SELECT CAST(sum(t) AS BIGINT) AS n_truth,
                       CAST(sum(c) AS BIGINT) AS n_cand,
                       CAST(sum(t * c) AS BIGINT) AS n_hit
                FROM joined)
            SELECT n_truth, n_cand, n_hit,
                   CASE WHEN n_truth > 0
                        THEN CAST(n_hit AS DOUBLE) / n_truth END AS recall,
                   CASE WHEN n_cand > 0
                        THEN CAST(n_hit AS DOUBLE) / n_cand END AS precision
            FROM agg
        """,
        "ivfpq_recall": _ivfpq_residual_sql() + """,
            exq AS (SELECT vec_id AS query_id, qv FROM q WHERE vec_id < 5),
            exd AS (
                SELECT exq.query_id, p.vec_id AS neighbor_id,
                       CAST(list_sum(list_transform(range(1, 65),
                           i -> (exq.qv[CAST(i AS INT)] - p.qv[CAST(i AS INT)])
                              * (exq.qv[CAST(i AS INT)] - p.qv[CAST(i AS INT)])))
                           AS BIGINT) AS dist2
                FROM exq, q p WHERE p.vec_id <> exq.query_id),
            tr AS (SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                           ORDER BY dist2, neighbor_id) AS rn
                FROM exd) WHERE rn <= 3),
            cd AS (SELECT query_id, neighbor_id FROM rranked
                   WHERE rank <= 3),
            joined AS (
                SELECT CASE WHEN tr.query_id IS NOT NULL THEN 1 ELSE 0 END AS t,
                       CASE WHEN cd.query_id IS NOT NULL THEN 1 ELSE 0 END AS c
                FROM tr FULL OUTER JOIN cd
                  ON tr.query_id = cd.query_id
                 AND tr.neighbor_id = cd.neighbor_id),
            agg AS (
                SELECT CAST(sum(t) AS BIGINT) AS n_truth,
                       CAST(sum(c) AS BIGINT) AS n_cand,
                       CAST(sum(t * c) AS BIGINT) AS n_hit
                FROM joined)
            SELECT n_truth, n_cand, n_hit,
                   CASE WHEN n_truth > 0
                        THEN CAST(n_hit AS DOUBLE) / n_truth END AS recall,
                   CASE WHEN n_cand > 0
                        THEN CAST(n_hit AS DOUBLE) / n_cand END AS precision
            FROM agg
        """,
        "pq_recall": _pq_sql() + _PQ_TOPK_TAIL + """,
            exq AS (SELECT vec_id AS query_id, qv FROM pqv WHERE vec_id < 5),
            exd AS (
                SELECT exq.query_id, p.vec_id AS neighbor_id,
                       CAST(list_sum(list_transform(range(1, 65),
                           i -> (exq.qv[CAST(i AS INT)] - p.qv[CAST(i AS INT)])
                              * (exq.qv[CAST(i AS INT)] - p.qv[CAST(i AS INT)])))
                           AS BIGINT) AS dist2
                FROM exq, pqv p WHERE p.vec_id <> exq.query_id),
            tr AS (SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                           ORDER BY dist2, neighbor_id) AS rn
                FROM exd) WHERE rn <= 3),
            cd AS (SELECT query_id, neighbor_id FROM pq_ranked
                   WHERE rank <= 3),
            joined AS (
                SELECT CASE WHEN tr.query_id IS NOT NULL THEN 1 ELSE 0 END AS t,
                       CASE WHEN cd.query_id IS NOT NULL THEN 1 ELSE 0 END AS c
                FROM tr FULL OUTER JOIN cd
                  ON tr.query_id = cd.query_id
                 AND tr.neighbor_id = cd.neighbor_id),
            agg AS (
                SELECT CAST(sum(t) AS BIGINT) AS n_truth,
                       CAST(sum(c) AS BIGINT) AS n_cand,
                       CAST(sum(t * c) AS BIGINT) AS n_hit
                FROM joined)
            SELECT n_truth, n_cand, n_hit,
                   CASE WHEN n_truth > 0
                        THEN CAST(n_hit AS DOUBLE) / n_truth END AS recall,
                   CASE WHEN n_cand > 0
                        THEN CAST(n_hit AS DOUBLE) / n_cand END AS precision
            FROM agg
        """,
        "winnow_dedup": f"""
            WITH RECURSIVE {_WINNOW_PAIRS_CTE},
            wk AS (SELECT id_a, id_b FROM win WHERE n_shared >= 32),
            edges AS (SELECT id_a AS a, id_b AS b FROM wk
                      UNION ALL SELECT id_b, id_a FROM wk),
            {_KEEP_BEST_TAIL}
        """,
        "tfidf_topk": """
            WITH toks AS (
                SELECT doc_id,
                       unnest(list_filter(
                           regexp_split_to_array(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                           x -> x <> '')) AS term
                FROM documents),
            tf AS (
                SELECT doc_id, term, count(*) AS tf
                FROM toks GROUP BY doc_id, term),
            dfreq AS (
                SELECT term, count(*) AS doc_freq FROM tf GROUP BY term),
            n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
            scored AS (
                SELECT doc_id, term, tf, doc_freq,
                       tf * n_docs / doc_freq AS weight
                FROM tf JOIN dfreq USING (term), n),
            ranked AS (
                SELECT doc_id, term, tf, doc_freq, weight,
                       row_number() OVER (PARTITION BY doc_id
                           ORDER BY weight DESC, term) AS rank
                FROM scored)
            SELECT doc_id, term, tf, doc_freq,
                   round(weight, 6) AS weight, CAST(rank AS BIGINT) AS rank
            FROM ranked WHERE rank <= 3
        """,
        "word_bigrams": """
            WITH t AS (
                SELECT list_filter(regexp_split_to_array(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                                   x -> x <> '') AS toks
                FROM documents),
            b AS (
                SELECT unnest(list_transform(range(1, len(toks)),
                              i -> toks[i] || ' ' || toks[i + 1])) AS bigram
                FROM t WHERE len(toks) >= 2)
            SELECT bigram, count(*) AS occurrences
            FROM b GROUP BY bigram
            ORDER BY occurrences DESC, bigram
            LIMIT 40
        """,
        "domain_split": """
            WITH u AS (
                SELECT doc_id,
                       concat('www.', source, CAST(doc_id % 7 AS VARCHAR),
                              '.com') AS host
                FROM documents),
            d AS (
                SELECT doc_id,
                       regexp_extract(host, '([^.]+\\.[^.]+)$', 1) AS domain
                FROM u),
            b AS (
                SELECT doc_id, domain,
                       CAST(concat('0x', substr(sha256(concat('split:', domain)),
                            1, 8)) AS UBIGINT) % 100 AS kb
                FROM d)
            SELECT doc_id, domain,
                   CASE WHEN kb < 98 THEN 'train'
                        WHEN kb < 99 THEN 'val'
                        ELSE 'test' END AS split
            FROM b
        """,
        "length_histogram": """
            SELECT least(length(COALESCE(text, '')) // 200, 9) AS len_bucket,
                   count(*) AS n_docs,
                   CAST(sum(CAST(length(COALESCE(text, '')) AS BIGINT))
                       AS BIGINT) AS total_chars
            FROM documents
            GROUP BY 1
        """,
        "events_sessionize": """
            WITH g AS (
                SELECT user_id, event_id,
                       epoch_ns(ts) // 1000000000 AS sec,
                       lag(epoch_ns(ts) // 1000000000) OVER
                           (PARTITION BY user_id
                            ORDER BY epoch_ns(ts) // 1000000000 ASC, event_id ASC)
                           AS prev_sec
                FROM events)
            SELECT user_id,
                   CAST(sum(CASE WHEN prev_sec IS NULL OR sec - prev_sec > 1800
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM g GROUP BY user_id
        """,
        "merge_upsert": """
            WITH base AS (
                SELECT o_orderkey, o_orderstatus,
                       round(o_totalprice, 2) AS total
                FROM orders),
            changes AS (
                SELECT o_orderkey, o_orderstatus,
                       round(total + 100, 2) AS total, 'U' AS op, 2 AS v
                FROM base WHERE o_orderkey % 10 = 0
                UNION ALL
                SELECT o_orderkey, o_orderstatus,
                       round(total + 999, 2), 'U', 1
                FROM base WHERE o_orderkey % 10 = 0
                UNION ALL
                SELECT o_orderkey, o_orderstatus, total, 'D', 2
                FROM base WHERE o_orderkey % 10 = 1
                UNION ALL
                SELECT o_orderkey + 10000000, 'N', total, 'I', 2
                FROM base WHERE o_orderkey % 10 = 2),
            latest AS (
                SELECT * FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY o_orderkey ORDER BY v DESC, op DESC) AS rn
                    FROM changes)
                WHERE rn = 1)
            SELECT o_orderkey, o_orderstatus, total FROM base
            WHERE o_orderkey NOT IN (SELECT o_orderkey FROM latest)
            UNION ALL
            SELECT o_orderkey, o_orderstatus, total FROM latest WHERE op <> 'D'
        """,
        "gap_fill": """
            WITH e AS (
                SELECT user_id, epoch_ns(ts) // 1000000000 AS sec, value
                FROM events),
            pb AS (
                SELECT user_id, (sec // 3600) * 3600 AS bucket,
                       count(*) AS n_events,
                       CAST(sum(CAST(round(value * 100) AS BIGINT))
                           AS BIGINT) AS cents
                FROM e GROUP BY 1, 2),
            spans AS (
                SELECT user_id, min(bucket) AS lo, max(bucket) AS hi
                FROM pb GROUP BY 1),
            grid AS (
                SELECT user_id,
                       unnest(generate_series(lo, hi, 3600)) AS bucket
                FROM spans),
            j AS (
                SELECT g.user_id, g.bucket,
                       coalesce(pb.n_events, 0) AS n_events, pb.cents
                FROM grid g LEFT JOIN pb
                  ON g.user_id = pb.user_id AND g.bucket = pb.bucket)
            SELECT user_id, bucket, n_events,
                   coalesce(cents, 0) AS sum_cents,
                   coalesce(last_value(cents IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                       0) AS filled_cents
            FROM j
        """,
        "funnel": """
            WITH e AS (
                SELECT user_id, epoch_ns(ts) // 1000000000 AS sec, event_type
                FROM events),
            s1 AS (
                SELECT user_id, min(sec) AS t1 FROM e
                WHERE event_type = 'signup' GROUP BY 1),
            s2 AS (
                SELECT e.user_id, s1.t1, min(e.sec) AS t2
                FROM e JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = 'click' AND e.sec >= s1.t1
                GROUP BY 1, 2),
            s3 AS (
                SELECT e.user_id, min(e.sec) AS t3
                FROM e JOIN s2 ON e.user_id = s2.user_id
                WHERE e.event_type = 'purchase' AND e.sec >= s2.t2
                GROUP BY 1)
            SELECT * FROM (
                SELECT CAST(1 AS BIGINT) AS stage, 'signup' AS step,
                       count(*) AS n_users FROM s1
                UNION ALL
                SELECT CAST(2 AS BIGINT), 'click', count(*) FROM s2
                UNION ALL
                SELECT CAST(3 AS BIGINT), 'purchase', count(*) FROM s3)
            WHERE n_users > 0
        """,
        "retention": """
            WITH e AS (
                SELECT user_id,
                       (epoch_ns(ts) // 1000000000) // 86400 AS p
                FROM events),
            m AS (
                SELECT user_id, p,
                       min(p) OVER (PARTITION BY user_id) AS cp
                FROM e)
            SELECT cp * 86400 AS cohort, p - cp AS "offset",
                   count(DISTINCT user_id) AS n_users
            FROM m GROUP BY 1, 2
        """,
        "fuzzy_join_names": """
            WITH s AS (SELECT s_suppkey, s_name FROM supplier
                       WHERE s_suppkey <= 400),
            c AS (
                SELECT s_suppkey + 100000 AS c_suppkey,
                       CASE WHEN s_suppkey % 3 = 0
                            THEN substr(s_name, 1, 9) ||
                                 substr(s_name, 11, length(s_name) - 11)
                            ELSE substr(s_name, 1, length(s_name) - 1)
                       END AS c_name
                FROM supplier WHERE s_suppkey <= 400)
            SELECT s_suppkey, c_suppkey, s_name, c_name,
                   CAST(levenshtein(s_name, c_name) AS BIGINT) AS distance
            FROM s, c
            WHERE levenshtein(s_name, c_name) <= 2
        """,
        "weighted_sample": """
            WITH d AS (
                SELECT doc_id,
                       length(coalesce(text, '')) + 1 AS weight
                FROM documents),
            p AS (
                SELECT doc_id, weight,
                       CAST(CAST(concat('0x', substr(sha256(concat('weighted:',
                            CAST(doc_id AS VARCHAR))), 1, 8)) AS UBIGINT)
                            % 2147483648 + 1 AS DOUBLE)
                           / CAST(weight AS DOUBLE) AS pri
                FROM d)
            SELECT doc_id, weight FROM p
            ORDER BY pri ASC, doc_id ASC LIMIT 200
        """,
        "winsorize_prices": """
            WITH b AS (
                SELECT l_linestatus,
                       quantile_cont(l_extendedprice, 0.05) AS lo,
                       quantile_cont(l_extendedprice, 0.95) AS hi
                FROM lineitem GROUP BY 1)
            SELECT l_orderkey, l_linenumber,
                   l.l_linestatus AS l_linestatus,
                   round(least(greatest(l_extendedprice, lo), hi), 4) AS clipped
            FROM lineitem l JOIN b ON l.l_linestatus = b.l_linestatus
        """,
        "zscore_outliers": """
            WITH sc AS (
                SELECT event_id AS id, event_type AS grp,
                       CAST(round(value * 100) AS BIGINT) AS cents
                FROM events),
            st AS (
                SELECT grp, count(*) AS n, sum(cents) AS s,
                       sum(cents * cents) AS ssq
                FROM sc GROUP BY 1)
            SELECT id, grp, cents, z FROM (
                SELECT id, sc.grp AS grp, cents, n,
                       round((cents - CAST(s AS DOUBLE) / n)
                             / sqrt((ssq - (CAST(s AS DOUBLE) / n) * s)
                                    / (n - 1)), 3) AS z
                FROM sc JOIN st ON sc.grp = st.grp) t
            WHERE n > 1 AND abs(z) > 2.5
        """,
        "cube_counts": """
            SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem
            GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "kmv_distinct": """
            WITH h AS (
                SELECT DISTINCT event_type AS grp,
                       CAST(concat('0x', substr(sha256(concat('kmv:',
                            CAST(user_id AS VARCHAR))), 1, 8)) AS UBIGINT)
                           % 4294967296 AS h
                FROM events),
            r AS (
                SELECT grp, h,
                       row_number() OVER (PARTITION BY grp ORDER BY h ASC) AS rn
                FROM h)
            SELECT grp, count(*) AS n_le_k,
                   CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
                        ELSE (63.0 * 4294967296.0) / max(h)
                   END AS est_distinct
            FROM r WHERE rn <= 64 GROUP BY grp
        """,
        "weighted_sample_group": """
            WITH d AS (
                SELECT doc_id, source,
                       length(coalesce(text, '')) + 1 AS weight
                FROM documents),
            p AS (
                SELECT doc_id, source,
                       CAST(CAST(concat('0x', substr(sha256(concat('weighted:',
                            CAST(doc_id AS VARCHAR))), 1, 8)) AS UBIGINT)
                            % 2147483648 + 1 AS DOUBLE)
                           / CAST(weight AS DOUBLE) AS pri
                FROM d),
            r AS (
                SELECT doc_id, source,
                       row_number() OVER (PARTITION BY source
                           ORDER BY pri ASC, doc_id ASC) AS sample_rank
                FROM p)
            SELECT doc_id, source, sample_rank FROM r WHERE sample_rank <= 5
        """,
        "jsonl_scan": """
            SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
        """,
        "fuzzy_decontaminate": f"""
            WITH {_SHINGLES_CTE},
            bt AS (
                SELECT doc_id + 500000 AS id,
                       'Z' || substr(text, 3) AS text
                FROM documents WHERE doc_id % 11 = 0),
            shb AS (
                SELECT DISTINCT id, shingle FROM (
                    SELECT id,
                           unnest(list_transform(
                               range(1, greatest(length(text) - 7, 1) + 1),
                               g -> substring(text, g, 8))) AS shingle
                    FROM bt)
                WHERE length(shingle) = 8),
            mins_t AS (
                SELECT id, i,
                       min(substring(sha256('s' || CAST(i // 8 AS VARCHAR)
                               || ':' || shingle), (i % 8) * 8 + 1, 8)) AS h
                FROM sh, (SELECT unnest(range(0, 16)) AS i) seeds
                GROUP BY id, i),
            sigs_t AS (SELECT id, list(h ORDER BY i) AS sig
                       FROM mins_t GROUP BY id),
            bands_t AS (
                SELECT id, unnest(list_transform(range(0, 8),
                    b -> CAST(b AS VARCHAR) || '|' || sig[2*b + 1]
                         || '|' || sig[2*b + 2])) AS band_key
                FROM sigs_t),
            mins_b AS (
                SELECT id, i,
                       min(substring(sha256('s' || CAST(i // 8 AS VARCHAR)
                               || ':' || shingle), (i % 8) * 8 + 1, 8)) AS h
                FROM shb, (SELECT unnest(range(0, 16)) AS i) seeds
                GROUP BY id, i),
            sigs_b AS (SELECT id, list(h ORDER BY i) AS sig
                       FROM mins_b GROUP BY id),
            bands_b AS (
                SELECT DISTINCT id, unnest(list_transform(range(0, 8),
                    b -> CAST(b AS VARCHAR) || '|' || sig[2*b + 1]
                         || '|' || sig[2*b + 2])) AS band_key
                FROM sigs_b)
            SELECT t.id AS doc_id,
                   count(DISTINCT b.id) AS n_bench_hits
            FROM bands_t t
            JOIN (SELECT DISTINCT id, band_key FROM bands_b) b
              USING (band_key)
            GROUP BY t.id
        """,
        "dedup_lines": """
            WITH l0 AS (
                SELECT doc_id AS id,
                       string_split(coalesce(text, ''), chr(10)) AS parts
                FROM documents),
            lines AS (
                SELECT id, CAST(t.i - 1 AS BIGINT) AS pos,
                       parts[CAST(t.i AS INT)] AS line
                FROM l0, unnest(generate_series(1, len(parts))) AS t(i)),
            surv AS (
                SELECT id, pos, line FROM (
                    SELECT id, pos, line,
                           row_number() OVER (PARTITION BY line
                               ORDER BY id ASC, pos ASC) AS rn
                    FROM lines) WHERE rn = 1),
            nl AS (SELECT id, CAST(len(parts) AS BIGINT) AS n_lines FROM l0),
            reb AS (
                SELECT id,
                       string_agg(line, chr(10) ORDER BY pos ASC) AS text,
                       count(*) AS n_kept
                FROM surv GROUP BY id)
            SELECT nl.id AS doc_id, coalesce(reb.text, '') AS text,
                   nl.n_lines, coalesce(reb.n_kept, 0) AS n_kept
            FROM nl LEFT JOIN reb ON nl.id = reb.id
        """,
        "snapshot_diff": """
            WITH old AS (SELECT doc_id FROM documents),
            newt AS (
                SELECT doc_id FROM documents WHERE doc_id % 7 NOT IN (0)
                UNION ALL
                SELECT doc_id + 1000000 FROM documents WHERE doc_id % 7 = 2)
            SELECT o.doc_id AS doc_id, 'removed' AS change
            FROM old o LEFT JOIN newt n ON o.doc_id = n.doc_id
            WHERE n.doc_id IS NULL
            UNION ALL
            SELECT n.doc_id, 'added'
            FROM newt n LEFT JOIN old o ON o.doc_id = n.doc_id
            WHERE o.doc_id IS NULL
            UNION ALL
            SELECT doc_id, 'changed' FROM documents WHERE doc_id % 7 = 1
        """,
        "temperature_mix": """
            WITH c AS (
                SELECT source AS stratum, count(*) AS n_docs
                FROM documents GROUP BY 1),
            t AS (SELECT sum(n_docs) AS total FROM c),
            p AS (
                SELECT stratum, n_docs,
                       CAST(floor(sqrt(CAST(n_docs AS DOUBLE) / total)
                            * 1000000000000) AS BIGINT) AS wi,
                       CAST(n_docs AS DOUBLE) / total AS share
                FROM c, t),
            s AS (SELECT sum(wi) AS wsum FROM p)
            SELECT stratum, n_docs,
                   CAST(least(100, greatest(1,
                        CAST(floor(50 * (CAST(wi AS DOUBLE) / wsum) / share)
                             AS BIGINT)
                   )) AS INTEGER) AS rate_pct
            FROM p, s
        """,
        "asof_forward": """
            WITH e AS (
                SELECT user_id, event_id, event_type, value,
                       epoch_ns(ts) // 1000000000 AS sec
                FROM events),
            clicks AS (
                SELECT user_id, event_id AS click_id, sec AS click_sec
                FROM e WHERE event_type = 'click'),
            purchases AS (
                SELECT user_id, sec AS p_sec, value AS p_value FROM (
                    SELECT user_id, sec, value,
                           row_number() OVER (PARTITION BY user_id, sec
                               ORDER BY event_id ASC) AS rn
                    FROM e WHERE event_type = 'purchase')
                WHERE rn = 1),
            m AS (
                SELECT c.click_id, c.user_id, c.click_sec,
                       min(p.p_sec) AS m_sec
                FROM clicks c LEFT JOIN purchases p
                  ON c.user_id = p.user_id
                 AND p.p_sec >= c.click_sec
                 AND p.p_sec <= c.click_sec + 3600
                GROUP BY 1, 2, 3)
            SELECT m.click_id, m.user_id, m.click_sec,
                   round(p.p_value, 4) AS p_value
            FROM m LEFT JOIN purchases p
              ON m.user_id = p.user_id AND p.p_sec = m.m_sec
        """,
        "event_transitions": """
            WITH g AS (
                SELECT user_id, event_type AS to_type,
                       lag(event_type) OVER (PARTITION BY user_id
                           ORDER BY epoch_ns(ts) // 1000000000 ASC,
                                    event_id ASC) AS from_type
                FROM events)
            SELECT from_type, to_type, count(*) AS n_transitions
            FROM g WHERE from_type IS NOT NULL
            GROUP BY 1, 2
        """,
        "shuffled_shards": """
            WITH a AS (
                SELECT doc_id,
                       CAST(concat('0x', substr(sha256(concat('shuffle:',
                            CAST(doc_id AS VARCHAR))), 1, 8)) AS UBIGINT)
                           % 16 AS shard,
                       CAST(concat('0x', substr(sha256(concat('shuffle:pos:',
                            CAST(doc_id AS VARCHAR))), 1, 8)) AS UBIGINT)
                           % 2147483648 AS pos_key
                FROM documents)
            SELECT doc_id, CAST(shard AS BIGINT) AS shard,
                   row_number() OVER (PARTITION BY shard
                       ORDER BY pos_key ASC, doc_id ASC) AS position
            FROM a
        """,
        "dsir_select": """
            WITH tokr AS (
                SELECT doc_id AS id,
                       unnest(list_filter(regexp_split_to_array(
                           lower(coalesce(text, '')), '[ \\t\\n\\x0B\\f\\r]+'),
                           t -> t <> '')) AS tok
                FROM documents),
            tbr AS (
                SELECT id,
                       CAST(CAST(concat('0x', substr(sha256(concat('dsir:',
                            tok)), 1, 8)) AS UBIGINT) % 4096 AS BIGINT) AS b
                FROM tokr),
            tbt AS (
                SELECT tbr.id, tbr.b FROM tbr
                JOIN documents d ON tbr.id = d.doc_id
                WHERE d.lang = 'de'),
            rc AS (SELECT b, count(*) AS rc FROM tbr GROUP BY 1),
            tc AS (SELECT b, count(*) AS tc FROM tbt GROUP BY 1),
            tots AS (
                SELECT (SELECT count(*) FROM tbr) AS R,
                       (SELECT count(*) FROM tbt) AS T),
            model AS (
                SELECT coalesce(rc.b, tc.b) AS b,
                       CAST(round(1000 * ln(
                           (CAST(coalesce(tc, 0) + 1 AS DOUBLE)
                            * CAST(R + 4096 AS DOUBLE))
                           / (CAST(coalesce(rc, 0) + 1 AS DOUBLE)
                              * CAST(T + 4096 AS DOUBLE))))
                           AS BIGINT) AS w_milli
                FROM rc FULL OUTER JOIN tc ON rc.b = tc.b
                CROSS JOIN tots),
            per_doc AS (
                SELECT id, b, count(*) AS cnt FROM tbr GROUP BY 1, 2),
            scored AS (
                SELECT id,
                       CAST(sum(cnt) AS BIGINT) AS n_tokens,
                       CAST(sum(cnt * w_milli) AS BIGINT) AS dsir_milli
                FROM per_doc JOIN model USING (b) GROUP BY 1)
            SELECT d.doc_id AS id,
                   coalesce(s.n_tokens, 0) AS n_tokens,
                   coalesce(s.dsir_milli, 0) AS dsir_milli
            FROM documents d LEFT JOIN scored s ON d.doc_id = s.id
        """,
        "charlm_quality": """
            WITH norm AS (
                SELECT doc_id AS id,
                       trim(regexp_replace(lower(coalesce(text, '')),
                                           '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS t
                FROM documents),
            grams AS (
                SELECT id, substr(t, CAST(i AS INT), 2) AS bg
                FROM norm, unnest(range(1, length(t))) AS u(i)
                WHERE length(t) >= 2),
            nxy AS (SELECT bg, count(*) AS nxy FROM grams GROUP BY 1),
            nx AS (SELECT substr(bg, 1, 1) AS x, count(*) AS nx
                   FROM grams GROUP BY 1),
            vocab AS (SELECT count(DISTINCT substr(bg, 2, 1)) AS V
                      FROM grams),
            model AS (
                SELECT bg,
                       CAST(round(1000 * ln(
                           CAST(nxy + 1 AS DOUBLE) / (nx + V)))
                           AS BIGINT) AS w_milli
                FROM nxy JOIN nx ON substr(nxy.bg, 1, 1) = nx.x
                CROSS JOIN vocab),
            per_doc AS (
                SELECT id, bg, count(*) AS cnt FROM grams GROUP BY 1, 2),
            scored AS (
                SELECT id,
                       CAST(sum(cnt) AS BIGINT) AS n_bigrams,
                       CAST(sum(cnt * w_milli) AS BIGINT) AS s_milli
                FROM per_doc JOIN model USING (bg) GROUP BY 1)
            SELECT d.doc_id AS id,
                   coalesce(s.n_bigrams, 0) AS n_bigrams,
                   CASE WHEN coalesce(s.n_bigrams, 0) > 0
                        THEN round(CAST(s.s_milli AS DOUBLE)
                                   / (s.n_bigrams * 1000), 3)
                        ELSE 0.0 END AS mean_logp
            FROM documents d LEFT JOIN scored s ON d.doc_id = s.id
        """,
        "sq_topk": """
            WITH base AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                FROM embeddings),
            mx AS (
                SELECT vec_id, e,
                       list_max(list_transform(e, x -> abs(x))) AS ma
                FROM base),
            qt AS (
                SELECT vec_id,
                       CASE WHEN ma = 0
                            THEN list_transform(e, x -> CAST(0 AS BIGINT))
                            ELSE list_transform(e,
                                x -> CAST(round(x / (ma / 127)) AS BIGINT))
                       END AS qv
                FROM mx),
            qn AS (
                SELECT vec_id, qv,
                       CAST(list_sum(list_transform(qv, x -> x * x))
                            AS BIGINT) AS qn2
                FROM qt),
            pairs AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       CASE WHEN c.qn2 > 0 AND q.qn2 > 0 THEN
                           round(CAST(list_dot_product(
                                     CAST(c.qv AS DOUBLE[]),
                                     CAST(q.qv AS DOUBLE[])) AS DOUBLE)
                                 / (sqrt(c.qn2) * sqrt(q.qn2)), 6)
                       ELSE 0.0 END AS sim_q
                FROM qn c, (SELECT * FROM qn WHERE vec_id < 5) q
                WHERE c.vec_id <> q.vec_id),
            ranked AS (
                SELECT query_id, neighbor_id, sim_q,
                       row_number() OVER (PARTITION BY query_id
                           ORDER BY sim_q DESC, neighbor_id ASC) AS rank
                FROM pairs)
            SELECT query_id, neighbor_id, sim_q, rank
            FROM ranked WHERE rank <= 3
        """,
        "dedup_paragraphs": """
            WITH l0 AS (
                SELECT doc_id AS id,
                       regexp_split_to_array(
                           replace(coalesce(text, ''), ' table ',
                                   chr(10) || chr(10)),
                           '\\n\\n+') AS parts
                FROM documents),
            lines AS (
                SELECT id, CAST(t.i - 1 AS BIGINT) AS pos,
                       parts[CAST(t.i AS INT)] AS line
                FROM l0, unnest(generate_series(1, len(parts))) AS t(i)),
            surv AS (
                SELECT id, pos, line FROM (
                    SELECT id, pos, line,
                           row_number() OVER (PARTITION BY line
                               ORDER BY id ASC, pos ASC) AS rn
                    FROM lines) WHERE rn = 1),
            nl AS (SELECT id, CAST(len(parts) AS BIGINT) AS n_lines FROM l0),
            reb AS (
                SELECT id,
                       string_agg(line, chr(10) || chr(10)
                                  ORDER BY pos ASC) AS text,
                       count(*) AS n_kept
                FROM surv GROUP BY id)
            SELECT nl.id AS doc_id, coalesce(reb.text, '') AS text,
                   nl.n_lines, coalesce(reb.n_kept, 0) AS n_kept
            FROM nl LEFT JOIN reb ON nl.id = reb.id
        """,
        "dup_passages": _PASSAGE_CTE + """,
            dupu AS (
                SELECT doc_id,
                       least(6, coalesce(pos - lag(pos) OVER (
                           PARTITION BY doc_id ORDER BY pos), 6)) AS c
                FROM fo WHERE n_occ > 1),
            du AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS dup_tokens
                   FROM dupu GROUP BY doc_id),
            pw AS (SELECT doc_id, count(*) AS n_windows,
                          sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS n_dup_windows
                   FROM fo GROUP BY doc_id)
            SELECT b3.doc_id, b3.n_tokens,
                   CAST(coalesce(pw.n_windows, 0) AS BIGINT) AS n_windows,
                   CAST(coalesce(pw.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
                   CAST(coalesce(du.dup_tokens, 0) AS BIGINT) AS dup_tokens,
                   round(CASE WHEN b3.n_tokens = 0 THEN 0.0
                              ELSE CAST(coalesce(du.dup_tokens, 0) AS DOUBLE)
                                   / b3.n_tokens END, 6) AS dup_ratio
            FROM b3 LEFT JOIN pw USING (doc_id) LEFT JOIN du USING (doc_id)
        """,
        "strip_passages": _PASSAGE_CTE + """,
            ro AS (SELECT doc_id, pos FROM (
                       SELECT doc_id, pos, row_number() OVER (
                           PARTITION BY dig ORDER BY doc_id, pos) AS rn
                       FROM fo WHERE n_occ > 1) WHERE rn > 1),
            rp AS (SELECT DISTINCT doc_id, pos + u.i AS p
                   FROM ro, unnest(range(0, 6)) AS u(i)),
            tp AS (SELECT doc_id, CAST(t.i - 1 AS BIGINT) AS p,
                          toks[CAST(t.i AS INT)] AS tok
                   FROM b3, unnest(generate_series(1, CAST(n_tokens AS INT))) AS t(i)),
            keep AS (SELECT tp.doc_id, tp.p, tp.tok
                     FROM tp LEFT JOIN rp
                       ON tp.doc_id = rp.doc_id AND tp.p = rp.p
                     WHERE rp.doc_id IS NULL),
            reb AS (SELECT doc_id, count(*) AS n_kept,
                           string_agg(tok, ' ' ORDER BY p) AS clean_text
                    FROM keep GROUP BY doc_id)
            SELECT b3.doc_id, b3.n_tokens,
                   CAST(coalesce(reb.n_kept, 0) AS BIGINT) AS n_kept,
                   CAST(b3.n_tokens - coalesce(reb.n_kept, 0) AS BIGINT) AS n_removed,
                   coalesce(reb.clean_text, '') AS clean_text
            FROM b3 LEFT JOIN reb USING (doc_id)
        """,
        "hll_distinct": _HLL_SQL,
        # merged per-day registers == direct registers (max is
        # associative + idempotent), so the merge oracle IS the direct
        # computation — equality proves the mergeability property.
        "hll_merge": _HLL_SQL,
        "bpe_merges": _BPE_SQL,
        "bpe_vocab": _BPE_VOCAB_SQL,
        "cms_heavy_hitters": """
            WITH seeds AS (SELECT unnest(range(0, 4)) AS r),
            cells AS (
                SELECT s.r,
                       CAST(CAST(concat('0x', substr(sha256(concat(
                            'cms', CAST(s.r AS VARCHAR), ':',
                            CAST(e.user_id AS VARCHAR))), 1, 8)) AS UBIGINT)
                            % 256 AS INT) AS bucket
                FROM events e, seeds s),
            sk AS (SELECT r, bucket, count(*) AS cnt
                   FROM cells GROUP BY r, bucket),
            cands AS (
                SELECT user_id, CAST(count(*) AS BIGINT) AS n_exact
                FROM events GROUP BY user_id
                ORDER BY n_exact DESC, user_id ASC LIMIT 10),
            probes AS (
                SELECT CAST(c.user_id AS VARCHAR) AS key, c.n_exact, s.r,
                       CAST(CAST(concat('0x', substr(sha256(concat(
                            'cms', CAST(s.r AS VARCHAR), ':',
                            CAST(c.user_id AS VARCHAR))), 1, 8)) AS UBIGINT)
                            % 256 AS INT) AS bucket
                FROM cands c, seeds s)
            SELECT p.key, p.n_exact,
                   CAST(min(coalesce(sk.cnt, 0)) AS BIGINT) AS est_count
            FROM probes p LEFT JOIN sk
              ON p.r = sk.r AND p.bucket = sk.bucket
            GROUP BY p.key, p.n_exact
        """,
        "source_overlap": """
            WITH b2 AS (
                SELECT doc_id, source,
                       list_filter(regexp_split_to_array(coalesce(text, ''), '[ \\t\\n\\x0B\\f\\r]+'),
                                   t -> t <> '') AS toks
                FROM documents),
            b3 AS (SELECT doc_id, source, toks,
                          CAST(len(toks) AS BIGINT) AS n_tokens FROM b2),
            og AS (
                SELECT source AS src,
                       substr(sha256(array_to_string(
                           toks[CAST(t.i + 1 AS INT) : CAST(t.i + 6 AS INT)],
                           ' ')), 1, 16) AS dig
                FROM b3, unnest(generate_series(0, n_tokens - 6)) AS t(i)
                WHERE n_tokens >= 6),
            g AS (SELECT DISTINCT src, dig FROM og),
            sh AS (SELECT a.src AS src_a, b.src AS src_b
                   FROM g a JOIN g b ON a.dig = b.dig AND a.src < b.src),
            shared AS (SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_shared
                       FROM sh GROUP BY src_a, src_b),
            tot AS (SELECT src, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY src)
            SELECT s.src_a, s.src_b, s.n_shared, ta.n AS n_a, tb.n AS n_b,
                   round(CAST(s.n_shared AS DOUBLE)
                         / (ta.n + tb.n - s.n_shared), 6) AS jaccard
            FROM shared s
            JOIN tot ta ON s.src_a = ta.src
            JOIN tot tb ON s.src_b = tb.src
        """,
        "jaccard_histogram": f"""
            WITH {_SHINGLES_CTE},
            rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
            shf AS (SELECT sh.id, sh.shingle FROM sh JOIN rare USING (shingle)),
            sizes AS (SELECT id, count(*) AS n FROM shf GROUP BY id),
            inter AS (
                SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
                FROM shf a JOIN shf b USING (shingle)
                WHERE a.id < b.id GROUP BY 1, 2),
            bk AS (
                SELECT least(9, CAST((i * 10) // (sa.n + sb.n - i) AS INT)) AS bucket
                FROM inter
                JOIN sizes sa ON sa.id = id_a
                JOIN sizes sb ON sb.id = id_b),
            hist AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_pairs
                     FROM bk GROUP BY bucket)
            SELECT bucket, n_pairs,
                   CAST(sum(n_pairs) OVER (ORDER BY bucket DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS n_pairs_ge
            FROM hist
        """,
        "lsh_recall": f"""
            WITH {_SHINGLES_CTE},
            rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
            shf AS (SELECT sh.id, sh.shingle FROM sh JOIN rare USING (shingle)),
            sizes AS (SELECT id, count(*) AS n FROM shf GROUP BY id),
            truth AS (
                SELECT id_a, id_b FROM (
                    SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
                    FROM shf a JOIN shf b USING (shingle)
                    WHERE a.id < b.id GROUP BY 1, 2) x
                JOIN sizes sa ON sa.id = x.id_a
                JOIN sizes sb ON sb.id = x.id_b
                WHERE i / (sa.n + sb.n - i) >= 0.1),
            mins AS (
                SELECT id, i,
                       min(substring(sha256('s' || CAST(i // 8 AS VARCHAR) || ':' || shingle),
                                     (i % 8) * 8 + 1, 8)) AS h
                FROM sh, (SELECT unnest(range(0, 16)) AS i) seeds
                GROUP BY id, i),
            sigs AS (SELECT id, list(h ORDER BY i) AS sig FROM mins GROUP BY id),
            bands AS (
                SELECT id, unnest(list_transform(range(0, 8),
                    b -> sha256('band' || CAST(b AS VARCHAR) || ':'
                                || sig[2*b + 1] || '|' || sig[2*b + 2]))) AS band_key
                FROM sigs),
            cand AS (
                SELECT DISTINCT x.id AS id_a, y.id AS id_b
                FROM bands x JOIN bands y USING (band_key)
                WHERE x.id < y.id),
            joined AS (
                SELECT coalesce(t.id_a, c.id_a) AS id_a,
                       CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END AS t,
                       CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS c
                FROM truth t FULL OUTER JOIN cand c
                  ON t.id_a = c.id_a AND t.id_b = c.id_b),
            agg AS (
                SELECT CAST(sum(t) AS BIGINT) AS n_truth,
                       CAST(sum(c) AS BIGINT) AS n_cand,
                       CAST(sum(t * c) AS BIGINT) AS n_hit
                FROM joined)
            SELECT n_truth, n_cand, n_hit,
                   CASE WHEN n_truth > 0
                        THEN CAST(n_hit AS DOUBLE) / n_truth END AS recall,
                   CASE WHEN n_cand > 0
                        THEN CAST(n_hit AS DOUBLE) / n_cand END AS precision
            FROM agg
        """,
        "leakage_safe_split": f"""
            WITH RECURSIVE {_SIMHASH_CTE},
            chunks AS (
                SELECT id, simhash, cid, (simhash >> (cid * 16)) & 65535 AS chunk
                FROM fp, (SELECT unnest(range(0, 4)) AS cid) c),
            p AS (
                SELECT DISTINCT x.id AS id_a, y.id AS id_b
                FROM chunks x
                JOIN chunks y ON x.cid = y.cid AND x.chunk = y.chunk
                WHERE x.id < y.id
                  AND bit_count(xor(x.simhash, y.simhash)) <= 8),
            edges AS (SELECT id_a AS a, id_b AS b FROM p
                      UNION ALL SELECT id_b, id_a FROM p),
            reach AS (
                SELECT doc_id AS node, doc_id AS r FROM documents
                UNION
                SELECT reach.node, e.b AS r
                FROM reach JOIN edges e ON e.a = reach.r),
            lab AS (SELECT node AS doc_id, min(r) AS cluster_id
                    FROM reach GROUP BY node),
            sizes AS (SELECT cluster_id, count(*) AS cluster_size
                      FROM lab GROUP BY cluster_id),
            kb AS (SELECT lab.doc_id, lab.cluster_id, sizes.cluster_size,
                          CAST(concat('0x', substr(sha256(concat('split:',
                               CAST(lab.cluster_id AS VARCHAR))), 1, 8))
                               AS UBIGINT) % 100 AS b
                   FROM lab JOIN sizes USING (cluster_id))
            SELECT doc_id, cluster_id, cluster_size,
                   CASE WHEN b < 98 THEN 'train'
                        WHEN b < 99 THEN 'val'
                        ELSE 'test' END AS split
            FROM kb
        """,
        "bigram_lift": """
            WITH t AS (
                SELECT list_filter(regexp_split_to_array(
                           lower(coalesce(text, '')), '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '') AS toks
                FROM documents),
            uni AS (SELECT tok AS w, count(*) AS c
                    FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY tok),
            bg AS (SELECT a, b, count(*) AS c_ab FROM (
                       SELECT toks[CAST(g.i AS INT)] AS a,
                              toks[CAST(g.i + 1 AS INT)] AS b
                       FROM t, unnest(generate_series(1, len(toks) - 1)) AS g(i)
                       WHERE len(toks) >= 2) x
                   GROUP BY a, b HAVING count(*) >= 5),
            nu AS (SELECT CAST(sum(c) AS BIGINT) AS n_uni FROM uni),
            nb AS (SELECT CAST(sum(len(toks) - 1) AS BIGINT) AS n_bi
                   FROM t WHERE len(toks) >= 2),
            s AS (
                SELECT bg.a || ' ' || bg.b AS bigram,
                       CAST(c_ab AS BIGINT) AS c_ab,
                       CAST(c_ab AS DOUBLE) / nb.n_bi
                           / (CAST(ua.c AS DOUBLE) / nu.n_uni
                              * (CAST(ub.c AS DOUBLE) / nu.n_uni)) AS lift
                FROM bg
                JOIN uni ua ON bg.a = ua.w
                JOIN uni ub ON bg.b = ub.w, nu, nb)
            SELECT bigram, c_ab, lift FROM s
            ORDER BY lift DESC, bigram ASC LIMIT 20
        """,
        "validate_orders": """
            WITH rl AS (
                SELECT count(*) AS n,
                       sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS v0,
                       sum(CASE WHEN o_totalprice IS NOT NULL
                                 AND o_totalprice < 0 THEN 1 ELSE 0 END) AS v1,
                       sum(CASE WHEN o_orderpriority IS NOT NULL
                                 AND o_orderpriority NOT IN ('1-URGENT', '2-HIGH',
                                     '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW')
                                THEN 1 ELSE 0 END) AS v2,
                       sum(CASE WHEN o_orderstatus IS NOT NULL
                                 AND NOT regexp_matches(o_orderstatus, '^[A-Z]$')
                                THEN 1 ELSE 0 END) AS v3
                FROM orders),
            uq AS (SELECT count(o_orderkey) AS n,
                          count(DISTINCT o_orderkey) AS d FROM orders),
            fk AS (
                SELECT count(*) AS n,
                       sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS v
                FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
                WHERE o.o_custkey IS NOT NULL),
            rep AS (
                SELECT 'o_orderkey' AS column_name, 'not_null' AS check_name,
                       CAST(n AS BIGINT) AS n_rows, CAST(v0 AS BIGINT) AS n_violations
                FROM rl
                UNION ALL
                SELECT 'o_totalprice', 'min(0)', CAST(n AS BIGINT), CAST(v1 AS BIGINT)
                FROM rl
                UNION ALL
                SELECT 'o_orderpriority',
                       'in_set(1-URGENT,2-HIGH,3-MEDIUM,4-NOT SPECIFIED,5-LOW)',
                       CAST(n AS BIGINT), CAST(v2 AS BIGINT)
                FROM rl
                UNION ALL
                SELECT 'o_orderstatus', 'regex(^[A-Z]$)',
                       CAST(n AS BIGINT), CAST(v3 AS BIGINT)
                FROM rl
                UNION ALL
                SELECT 'o_orderkey', 'unique', CAST(n AS BIGINT),
                       CAST(n - d AS BIGINT)
                FROM uq
                UNION ALL
                SELECT 'o_custkey', 'foreign_key(c_custkey)', CAST(n AS BIGINT),
                       CAST(v AS BIGINT)
                FROM fk)
            SELECT column_name, check_name, n_rows, n_violations,
                   CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS INT) AS passed
            FROM rep
        """,
        "mixture_drift": """
            WITH oldc AS (SELECT source AS stratum, count(*) AS n_old
                          FROM documents GROUP BY source),
            newdocs AS (
                SELECT CASE WHEN doc_id % 7 = 1 THEN 'src_injected'
                            ELSE source END AS source
                FROM documents WHERE doc_id % 3 <> 0),
            newc AS (SELECT source AS stratum, count(*) AS n_new
                     FROM newdocs GROUP BY source),
            tot AS (SELECT (SELECT sum(n_old) FROM oldc) AS total_old,
                           (SELECT sum(n_new) FROM newc) AS total_new),
            j AS (SELECT coalesce(o.stratum, n.stratum) AS stratum,
                         CAST(coalesce(o.n_old, 0) AS BIGINT) AS n_old,
                         CAST(coalesce(n.n_new, 0) AS BIGINT) AS n_new
                  FROM oldc o FULL OUTER JOIN newc n ON o.stratum = n.stratum)
            SELECT j.stratum, j.n_old, j.n_new,
                   CASE WHEN j.n_old > 0 THEN
                       CAST(j.n_old AS DOUBLE) * CAST(t.total_new AS DOUBLE)
                           / CAST(t.total_old AS DOUBLE) END AS expected_new,
                   CASE WHEN j.n_old > 0 THEN
                       (CAST(j.n_new AS DOUBLE)
                        - CAST(j.n_old AS DOUBLE) * CAST(t.total_new AS DOUBLE)
                          / CAST(t.total_old AS DOUBLE))
                       * (CAST(j.n_new AS DOUBLE)
                          - CAST(j.n_old AS DOUBLE) * CAST(t.total_new AS DOUBLE)
                            / CAST(t.total_old AS DOUBLE))
                       / (CAST(j.n_old AS DOUBLE) * CAST(t.total_new AS DOUBLE)
                          / CAST(t.total_old AS DOUBLE))
                   END AS chi2_contribution,
                   CAST(CASE WHEN j.n_old = 0 THEN 1 ELSE 0 END AS INT) AS is_new,
                   CAST(CASE WHEN j.n_new = 0 THEN 1 ELSE 0 END AS INT) AS is_gone
            FROM j, tot t
        """,
        "corr_tokens_chars": """
            WITH vals AS (
                SELECT source AS grp, CAST(n_chars AS BIGINT) AS x,
                       CAST(len(list_filter(
                           regexp_split_to_array(coalesce(text, ''), '[ \\t\\n\\x0B\\f\\r]+'),
                           t -> t <> '')) AS BIGINT) AS y
                FROM documents
                WHERE n_chars IS NOT NULL),
            a AS (SELECT grp, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                         sum(x * y) AS sxy, sum(x * x) AS sxx,
                         sum(y * y) AS syy
                  FROM vals GROUP BY grp)
            SELECT grp, CAST(n AS BIGINT) AS n,
                   CASE WHEN n >= 2
                             AND CAST(n * sxx - sx * sx AS DOUBLE) > 0.0
                             AND CAST(n * syy - sy * sy AS DOUBLE) > 0.0
                        THEN CAST(n * sxy - sx * sy AS DOUBLE)
                             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                                * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
                   END AS r
            FROM a
        """,
        "table_profile": """
            WITH b AS (
                SELECT count(*) AS n,
                       sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS z0,
                       sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS z1,
                       sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS z2,
                       sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS z3,
                       min(CAST(o_orderkey AS VARCHAR)) AS mn0,
                       max(CAST(o_orderkey AS VARCHAR)) AS mx0,
                       min(CAST(o_custkey AS VARCHAR)) AS mn1,
                       max(CAST(o_custkey AS VARCHAR)) AS mx1,
                       min(o_orderstatus) AS mn2, max(o_orderstatus) AS mx2,
                       min(o_orderpriority) AS mn3, max(o_orderpriority) AS mx3,
                       count(DISTINCT o_orderkey) AS d0,
                       count(DISTINCT o_custkey) AS d1,
                       count(DISTINCT o_orderstatus) AS d2,
                       count(DISTINCT o_orderpriority) AS d3
                FROM orders)
            SELECT 'o_orderkey' AS column_name, CAST(n AS BIGINT) AS n_rows,
                   CAST(z0 AS BIGINT) AS n_nulls, CAST(d0 AS BIGINT) AS n_distinct,
                   coalesce(mn0, '') AS min_value, coalesce(mx0, '') AS max_value
            FROM b
            UNION ALL
            SELECT 'o_custkey', CAST(n AS BIGINT), CAST(z1 AS BIGINT),
                   CAST(d1 AS BIGINT), coalesce(mn1, ''), coalesce(mx1, '') FROM b
            UNION ALL
            SELECT 'o_orderstatus', CAST(n AS BIGINT), CAST(z2 AS BIGINT),
                   CAST(d2 AS BIGINT), coalesce(mn2, ''), coalesce(mx2, '') FROM b
            UNION ALL
            SELECT 'o_orderpriority', CAST(n AS BIGINT), CAST(z3 AS BIGINT),
                   CAST(d3 AS BIGINT), coalesce(mn3, ''), coalesce(mx3, '') FROM b
        """,
        "ols_tokens_vs_chars": """
            WITH vals AS (
                SELECT source AS grp, CAST(n_chars AS BIGINT) AS x,
                       CAST(len(list_filter(
                           regexp_split_to_array(coalesce(text, ''), '[ \\t\\n\\x0B\\f\\r]+'),
                           t -> t <> '')) AS BIGINT) AS y
                FROM documents
                WHERE n_chars IS NOT NULL),
            a AS (SELECT grp, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                         sum(x * y) AS sxy, sum(x * x) AS sxx
                  FROM vals GROUP BY grp)
            SELECT grp, CAST(n AS BIGINT) AS n,
                   CASE WHEN n >= 2 AND CAST(n * sxx - sx * sx AS DOUBLE) <> 0.0
                        THEN CAST(n * sxy - sx * sy AS DOUBLE)
                             / CAST(n * sxx - sx * sx AS DOUBLE) END AS slope,
                   CASE WHEN n >= 2 AND CAST(n * sxx - sx * sx AS DOUBLE) <> 0.0
                        THEN (CAST(sy AS DOUBLE)
                              - (CAST(n * sxy - sx * sy AS DOUBLE)
                                 / CAST(n * sxx - sx * sx AS DOUBLE))
                                * CAST(sx AS DOUBLE))
                             / CAST(n AS DOUBLE) END AS intercept
            FROM a
        """,
        "lang_confidence": """
            WITH base AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                                                         '[ \\t\\n\\x0B\\f\\r]+'),
                                   x -> x <> '') AS ltoks
                FROM documents),
            sc AS (
                SELECT doc_id, list_sort([
                    {'h': len(list_intersect(ltoks, ['der','die','das','und','ist','ein','zu','mit'])), 'ni': 0, 'lang': 'de'},
                    {'h': len(list_intersect(ltoks, ['the','a','of','and','to','in','is','it'])), 'ni': -1, 'lang': 'en'},
                    {'h': len(list_intersect(ltoks, ['el','la','de','que','y','en','un','es'])), 'ni': -2, 'lang': 'es'},
                    {'h': len(list_intersect(ltoks, ['le','la','de','et','un','est','en','que'])), 'ni': -3, 'lang': 'fr'},
                    {'h': len(list_intersect(ltoks, ['de','shi','le','zai','you','wo','ta','men'])), 'ni': -4, 'lang': 'zh'}
                ]) AS arr
                FROM base)
            SELECT doc_id,
                   arr[5].lang AS lang_pred,
                   CAST(arr[5].h AS BIGINT) AS hits,
                   CAST(arr[5].h - arr[4].h AS BIGINT) AS margin
            FROM sc
        """,
        "curation_pipeline_v2": f"""
            WITH kept AS (SELECT doc_id FROM ({_GOPHER_SQL}) gq WHERE keep = 1),
            kd AS (SELECT d.* FROM documents d JOIN kept USING (doc_id)),
            {_PASSAGE_CTE.replace("WITH b2", "b2").replace("FROM documents", "FROM kd").strip()},
            ro AS (SELECT doc_id, pos FROM (
                       SELECT doc_id, pos, row_number() OVER (
                           PARTITION BY dig ORDER BY doc_id, pos) AS rn
                       FROM fo WHERE n_occ > 1) WHERE rn > 1),
            rp AS (SELECT DISTINCT doc_id, pos + u.i AS p
                   FROM ro, unnest(range(0, 6)) AS u(i)),
            tp AS (SELECT doc_id, CAST(t.i - 1 AS BIGINT) AS p
                   FROM b3, unnest(generate_series(1, CAST(n_tokens AS INT))) AS t(i)),
            keepp AS (SELECT tp.doc_id, tp.p
                      FROM tp LEFT JOIN rp
                        ON tp.doc_id = rp.doc_id AND tp.p = rp.p
                      WHERE rp.doc_id IS NULL),
            reb AS (SELECT doc_id, count(*) AS n_kept
                    FROM keepp GROUP BY doc_id),
            stripped AS (
                SELECT b3.doc_id, b3.n_tokens,
                       coalesce(reb.n_kept, 0) AS n_kept
                FROM b3 LEFT JOIN reb USING (doc_id))
            SELECT kd.source, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(s.n_tokens) AS BIGINT) AS tokens_in,
                   CAST(sum(s.n_kept) AS BIGINT) AS tokens_kept,
                   round(CASE WHEN sum(s.n_tokens) > 0
                              THEN CAST(sum(s.n_kept) AS DOUBLE)
                                   / sum(s.n_tokens)
                              ELSE 0.0 END, 6) AS keep_ratio
            FROM stripped s JOIN kd USING (doc_id)
            GROUP BY kd.source
        """,
        "curation_pipeline_v3": f"""
            WITH kept AS (SELECT doc_id FROM ({_GOPHER_SQL}) gq WHERE keep = 1),
            t0 AS (SELECT d.doc_id, coalesce(d.text, '') AS text
                   FROM documents d JOIN kept USING (doc_id)
                   WHERE d.doc_id % 7 <> 0),
            r AS (SELECT coalesce(text, '') AS text
                  FROM documents WHERE doc_id % 7 = 0),
            rg AS (SELECT DISTINCT substring(text, CAST(p AS INT), 60) AS g
                   FROM (SELECT text,
                                unnest(range(1, length(text) - 60 + 2)) AS p
                         FROM r WHERE length(text) >= 60)),
            {_strip_pass_sql("t0", "t1", "v1_", _dup_match_sql("v1_"))},
            {_strip_pass_sql("t1", "t2", "v2_", _ref_match_sql("v2_"))}
            SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(length(t0.text)) AS BIGINT) AS chars_in,
                   CAST(sum(length(t0.text) - length(t1.text)) AS BIGINT)
                       AS chars_cut_dup,
                   CAST(sum(length(t1.text) - length(t2.text)) AS BIGINT)
                       AS chars_cut_contam,
                   CAST(sum(length(t2.text)) AS BIGINT) AS chars_kept,
                   round(CASE WHEN sum(length(t0.text)) > 0
                              THEN CAST(sum(length(t2.text)) AS DOUBLE)
                                   / sum(length(t0.text))
                              ELSE 0.0 END, 6) AS keep_ratio
            FROM t0 JOIN t1 USING (doc_id) JOIN t2 USING (doc_id)
            JOIN documents d USING (doc_id)
            GROUP BY d.source
        """,
        "ffd_pack": _ffd_sql(budget=96, group_size=64)
        + """
            SELECT grp, bin, doc_id, n_tokens FROM packed
            ORDER BY grp, bin, doc_id
        """,
        "ffd_stats": _ffd_sql(budget=96, group_size=64)
        + """,
            pk AS (SELECT * FROM packed WHERE bin >= 0),
            bins AS (SELECT grp, bin, CAST(sum(n_tokens) AS BIGINT) AS fill
                     FROM pk GROUP BY grp, bin),
            pb AS (SELECT CAST(count(*) AS BIGINT) AS n_bins,
                          CAST(sum(CASE WHEN fill > 96 THEN 1 ELSE 0 END)
                              AS BIGINT) AS n_overflow_bins,
                          CAST(sum(CASE WHEN fill * 2 <= 96 THEN 1 ELSE 0 END)
                              AS BIGINT) AS n_halfempty_bins,
                          CAST(count(DISTINCT grp) AS BIGINT) AS n_groups
                   FROM bins),
            dc AS (SELECT CAST(sum(CASE WHEN bin >= 0 THEN 1 ELSE 0 END)
                              AS BIGINT) AS n_docs,
                          CAST(sum(CASE WHEN bin < 0 THEN 1 ELSE 0 END)
                              AS BIGINT) AS n_overlong,
                          CAST(coalesce(sum(CASE WHEN bin >= 0
                              THEN n_tokens END), 0) AS BIGINT)
                              AS total_tokens
                   FROM packed)
            SELECT n_docs, n_overlong, total_tokens, n_bins,
                   (total_tokens + 95) // 96 AS lb_bins,
                   CASE WHEN n_bins > 0
                        THEN total_tokens * 1000 // (n_bins * 96)
                   END AS fill_per_mille,
                   n_overflow_bins, n_halfempty_bins, n_groups,
                   (n_overflow_bins = 0 AND n_halfempty_bins <= n_groups)
                       AS bound_ok
            FROM dc, pb
        """,
        "weighted_jaccard": "WITH "
        + _WJ_PAIRS_SQL
        + """
            SELECT id_a, id_b, inter, ta, tb, wjaccard
            FROM wjp WHERE wjaccard >= 0.1
            ORDER BY id_a, id_b
        """,
        "weighted_dedup": "WITH RECURSIVE "
        + _WJ_PAIRS_SQL
        + """,
            wk AS (SELECT id_a, id_b FROM wjp WHERE wjaccard >= 0.3),
            edges AS (SELECT id_a AS a, id_b AS b FROM wk
                      UNION ALL SELECT id_b, id_a FROM wk),
        """
        + _KEEP_BEST_TAIL,
        "encoding_damage": _mojibake_sql(),
        "ndcg": _ndcg_sql(k=10)
        + """
            SELECT query, dcg_micro, idcg_micro,
                   CASE WHEN idcg_micro > 0 THEN
                       CAST((1000000 * dcg_micro) // idcg_micro AS BIGINT)
                       END AS ndcg_micro,
                   CASE WHEN idcg_micro > 0 THEN
                       CAST(dcg_micro AS DOUBLE)
                       / CAST(idcg_micro AS DOUBLE) END AS ndcg
            FROM per ORDER BY query
        """,
        "ndcg_summary": _ndcg_sql(k=10)
        + """
            SELECT CAST(coalesce(sum(CASE WHEN idcg_micro > 0
                       THEN 1 END), 0) AS BIGINT) AS n_queries,
                   CAST(coalesce(sum(CASE WHEN idcg_micro = 0
                       THEN 1 END), 0) AS BIGINT) AS n_zero_ideal,
                   CAST(sum(CASE WHEN idcg_micro > 0 THEN
                       (1000000 * dcg_micro) // idcg_micro END)
                       // sum(CASE WHEN idcg_micro > 0 THEN 1 END)
                       AS BIGINT) AS mean_ndcg_micro,
                   CAST(sum(CASE WHEN idcg_micro > 0 THEN
                       (1000000 * dcg_micro) // idcg_micro END)
                       AS DOUBLE)
                       / CAST(1000000 * sum(CASE WHEN idcg_micro > 0
                           THEN 1 END) AS DOUBLE) AS mean_ndcg
            FROM per
        """,
        "unigram_apply": _unigram_apply_sql(seed_top=48, target=24, max_len=4)
        + """
            , appseg AS (
                SELECT f.w, string_agg(f.piece, '|' ORDER BY f.idx)
                           AS pieces,
                       CAST(count(*) AS BIGINT) AS n_pieces,
                       CAST(sum(CASE WHEN v.piece IS NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_unk
                FROM fwdU f LEFT JOIN vc1 v ON v.piece = f.piece
                WHERE f.idx >= 1 GROUP BY f.w)
            SELECT wcapp.w, wcapp.weight, a.pieces, a.n_pieces,
                   bf.bests[1] AS cost_milli, a.n_unk
            FROM wcapp JOIN appseg a USING (w)
            JOIN bfinU bf ON bf.w = wcapp.w
            ORDER BY w
        """,
        "script_gate": _script_gate_sql(threshold=800),
        "qdigest_quantiles": _qdigest_sql(bits=20, k=64)
        + """
            SELECT q_milli, value, target_rank, n
            FROM quant ORDER BY q_milli
        """,
        "qdigest_by_group": _qdigest_grp_sql(bits=20, k=32)
        + """
            SELECT t.grp, t.q_milli, CAST(min(c.e) AS BIGINT) AS value,
                   t.target_rank, t.n
            FROM tgtg t JOIN cumg c
              ON c.grp = t.grp AND c.cum >= t.target_rank
            GROUP BY 1, 2, 4, 5
            ORDER BY t.grp, t.q_milli
        """,
        "luhn_cards": """
            WITH m AS (
                SELECT doc_id AS id,
                       substring(coalesce(text, ''), 1, 40)
                       || CASE WHEN doc_id % 6 = 0
                               THEN ' card 4539578763621486' ELSE '' END
                       || CASE WHEN doc_id % 8 = 0
                               THEN ' ref 4539578763621487' ELSE '' END
                       || CASE WHEN doc_id % 9 = 0
                               THEN ' pan 4111111111111111 x' ELSE '' END
                       || CASE WHEN doc_id % 10 = 0
                               THEN ' id 123456789012' ELSE '' END AS ct
                FROM documents),
            c AS (
                SELECT id, ct,
                       regexp_extract_all(ct, '[0-9]{13,19}') AS cands
                FROM m),
            v AS (
                SELECT id, ct, cands,
                       list_filter(cands, c2 ->
                           list_sum(list_transform(
                               range(1, length(c2) + 1),
                               i -> CASE WHEN (length(c2) - i) % 2 = 1
                                    THEN CASE WHEN (ascii(substring(c2,
                                            CAST(i AS INT), 1)) - 48) * 2 > 9
                                        THEN (ascii(substring(c2,
                                            CAST(i AS INT), 1)) - 48) * 2 - 9
                                        ELSE (ascii(substring(c2,
                                            CAST(i AS INT), 1)) - 48) * 2 END
                                    ELSE ascii(substring(c2,
                                        CAST(i AS INT), 1)) - 48 END))
                           % 10 = 0) AS valid
                FROM c)
            SELECT id,
                   CAST(len(cands) AS BIGINT) AS n_card_candidates,
                   CAST(len(valid) AS BIGINT) AS n_valid_cards,
                   len(valid) > 0 AS has_card,
                   list_reduce(list_prepend(ct, valid),
                       (acc, x) -> replace(acc, x, '[CARD]')) AS redacted
            FROM v ORDER BY id
        """,
        "url_canonical": f"""
            WITH m AS (
                SELECT doc_id AS id,
                       {_URL_FIXTURE_CASE.replace(
                           "CAST(doc_id AS STRING)",
                           "CAST(doc_id AS VARCHAR)").replace(
                           "CAST(doc_id % 5 AS STRING)",
                           "CAST(doc_id % 5 AS VARCHAR)")} AS u
                FROM documents),
            p AS (
                SELECT id, u,
                    lower(regexp_extract(u,
                        '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
                    lower(regexp_extract(u,
                        '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1))
                        AS hostport,
                    regexp_extract(u,
                        '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1)
                        AS path0,
                    regexp_extract(u, '^[^#]*?\\?([^#]*)', 1) AS query
                FROM m),
            q AS (
                SELECT id, u, scheme, hostport,
                    CASE WHEN scheme = 'http'
                         THEN regexp_replace(hostport, ':80$', '')
                         WHEN scheme = 'https'
                         THEN regexp_replace(hostport, ':443$', '')
                         ELSE hostport END AS host,
                    CASE WHEN regexp_replace(path0, '/+$', '') = ''
                         THEN '/'
                         ELSE regexp_replace(path0, '/+$', '') END AS path,
                    list_sort(list_filter(string_split(query, '&'),
                        p2 -> p2 <> '' AND NOT regexp_matches(p2,
                        '^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|mc_eid|ref)=')))
                        AS kept
                FROM p)
            SELECT id,
                   CASE WHEN scheme <> '' AND hostport <> ''
                        THEN scheme || '://' || host || path ||
                             CASE WHEN len(kept) > 0
                                  THEN '?' || array_to_string(kept, '&')
                                  ELSE '' END
                        ELSE u END AS canonical,
                   (scheme <> '' AND hostport <> '') AS is_url
            FROM q ORDER BY id
        """,
        "psl_domain": f"""
            WITH m AS (
                SELECT doc_id AS id,
                       {_PSL_FIXTURE_CASE.replace(
                           "CAST(doc_id % 7 AS STRING)",
                           "CAST(doc_id % 7 AS VARCHAR)")} AS host
                FROM documents),
            s AS (
                SELECT id, host,
                       string_split(lower(host), '.') AS labels,
                       len(string_split(lower(host), '.')) AS n
                FROM m),
            t AS (
                SELECT id, host, labels, n,
                    CASE WHEN n >= 2 THEN array_to_string(
                        list_slice(labels, -2, -1), '.') ELSE '' END AS l2,
                    CASE WHEN n >= 3 THEN array_to_string(
                        list_slice(labels, -3, -1), '.') ELSE '' END AS l3,
                    CASE WHEN n >= 4 THEN array_to_string(
                        list_slice(labels, -4, -1), '.') ELSE '' END AS l4
                FROM s),
            u AS (
                SELECT id, host, labels, n,
                    CASE WHEN l4 IN ({_psl_in(4)}) THEN 4
                         WHEN l3 IN ({_psl_in(3)}) THEN 3
                         WHEN l2 IN ({_psl_in(2)}) THEN 2
                         ELSE 1 END AS slen
                FROM t)
            SELECT id, host,
                   CASE WHEN trim(host) = '' OR n < slen + 1
                             OR list_contains(labels, '') THEN ''
                        ELSE array_to_string(
                            list_slice(labels, -(slen + 1), -1), '.')
                   END AS domain
            FROM u ORDER BY id
        """,
        "hadamard_rotate": """
            SELECT vec_id AS id, CAST(t.i AS BIGINT) AS pos,
                   CAST(list_sum(
                       list_transform(range(0, 64), j ->
                           CASE WHEN bit_count(CAST(t.i AS BIGINT) & j)
                                    % 2 = 0
                                THEN (CAST(trunc(CAST(
                                    embedding[CAST(j AS INT) + 1]
                                    AS DOUBLE) * 1000) AS BIGINT)
                                    + 1000) - 1000
                                ELSE 1000 - (CAST(trunc(CAST(
                                    embedding[CAST(j AS INT) + 1]
                                    AS DOUBLE) * 1000) AS BIGINT)
                                    + 1000) END))
                   AS BIGINT) AS component
            FROM embeddings CROSS JOIN range(0, 64) AS t(i)
            WHERE vec_id < 40 ORDER BY vec_id, pos
        """,
        "qdigest_guarantee": _qdigest_sql(bits=20, k=64)
        + f"""
            , e AS (
                SELECT q.q_milli, q.target_rank, q.n,
                       CAST(coalesce(sum(l.cnt), 0) AS BIGINT)
                           AS true_rank
                FROM quant q LEFT JOIN l20 l
                  ON l.id - {1 << 20} <= q.value
                GROUP BY 1, 2, 3)
            SELECT CAST(max(n) AS BIGINT) AS n,
                   CAST(20 AS BIGINT) AS bits,
                   CAST(64 AS BIGINT) AS k,
                   CAST(max(abs(true_rank - target_rank)) AS BIGINT)
                       AS max_abs_rank_err,
                   CAST(max(n) * 20 // 64 AS BIGINT) AS rank_bound,
                   max(abs(true_rank - target_rank))
                       <= max(n) * 20 // 64 AS bound_ok
            FROM e
        """,
        "script_profile": """
            WITH m AS (
                SELECT doc_id AS id,
                       coalesce(text, '')
                       || CASE WHEN doc_id % 5 = 0
                               THEN ' привет мир' ELSE '' END
                       || CASE WHEN doc_id % 9 = 0
                               THEN ' 你好世界' ELSE '' END AS ct
                FROM documents),
            p AS (
                SELECT id,
                       CAST(length(ct) AS BIGINT) AS n_chars,
                       CAST(length(ct) - length(regexp_replace(ct,
                           '[A-Za-z]', '', 'g')) AS BIGINT) AS n_latin,
                       CAST(length(ct) - length(regexp_replace(ct,
                           '[\\x{0400}-\\x{04FF}]', '', 'g')) AS BIGINT)
                           AS n_cyrillic,
                       CAST(length(ct) - length(regexp_replace(ct,
                           '[\\x{4E00}-\\x{9FFF}]', '', 'g')) AS BIGINT)
                           AS n_cjk,
                       CAST(length(ct) - length(regexp_replace(ct,
                           '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
                       CAST(length(ct) - length(regexp_replace(ct,
                           '[ \\t\\n\\x0B\\f\\r]', '', 'g')) AS BIGINT)
                           AS n_space
                FROM m)
            SELECT id, n_chars, n_latin, n_cyrillic, n_cjk, n_digit,
                   n_space,
                   CASE WHEN n_chars > 0
                        THEN 1000 * n_latin // n_chars END AS latin_milli,
                   CASE WHEN n_latin + n_cyrillic + n_cjk = 0 THEN 'none'
                        WHEN n_latin >= n_cyrillic AND n_latin >= n_cjk
                             THEN 'latin'
                        WHEN n_cyrillic >= n_cjk THEN 'cyrillic'
                        ELSE 'cjk' END AS dominant
            FROM p ORDER BY id
        """,
        "wordpiece_segment": _wordpiece_sql(top=64, max_len=4)
        + """
            SELECT wc.w, wc.weight, segs.pieces, segs.n_pieces
            FROM wc JOIN segs USING (w) ORDER BY w
        """,
        "wordpiece_subwords": _wordpiece_sql(top=64, max_len=4)
        + """
            SELECT subword, CAST(count(DISTINCT w) AS BIGINT) AS n_words,
                   CAST(sum(weight) AS BIGINT) AS occurrences
            FROM (SELECT wc.w, wc.weight,
                         unnest(string_split(segs.pieces, '|')) AS subword
                  FROM wc JOIN segs USING (w))
            GROUP BY subword
            ORDER BY occurrences DESC, subword ASC LIMIT 20
        """,
        "unigram_vocab": _unigram_sql(seed_top=48, target=24, max_len=4)
        + """
            , usageB AS (
                SELECT f.piece, CAST(sum(wc.weight) AS BIGINT) AS usage,
                       CAST(count(DISTINCT f.w) AS BIGINT) AS n_words
                FROM fwdB f JOIN wc ON wc.w = f.w
                WHERE f.idx >= 1 GROUP BY 1)
            SELECT v.piece, length(v.piece) = 1 AS is_char,
                   c.cost AS cost_milli,
                   CAST(coalesce(u.usage, 0) AS BIGINT) AS usage,
                   CAST(coalesce(u.n_words, 0) AS BIGINT) AS n_words
            FROM v1 v JOIN vc1 c USING (piece)
            LEFT JOIN usageB u USING (piece)
            ORDER BY piece
        """,
        "unigram_segment": _unigram_sql(seed_top=48, target=24, max_len=4)
        + """
            , segs AS (
                SELECT w, string_agg(piece, '|' ORDER BY idx) AS pieces,
                       CAST(count(*) AS BIGINT) AS n_pieces
                FROM fwdB WHERE idx >= 1 GROUP BY w)
            SELECT wc.w, wc.weight, segs.pieces, segs.n_pieces,
                   bf.bests[1] AS cost_milli
            FROM wc JOIN segs USING (w) JOIN bfinB bf ON bf.w = wc.w
            ORDER BY w
        """,
        "unigram_fertility": _unigram_sql(seed_top=48, target=24, max_len=4)
        + """
            , segn AS (
                SELECT w, CAST(count(*) AS BIGINT) AS n_pieces
                FROM fwdB WHERE idx >= 1 GROUP BY w),
            lw AS (
                SELECT grp, w, CAST(count(*) AS BIGINT) AS cnt FROM (
                    SELECT lang AS grp, unnest(list_filter(
                        regexp_split_to_array(
                            text, '[ \\t\\n\\x0B\\f\\r]+'),
                        x -> x <> '')) AS w
                    FROM documents) t
                WHERE grp IS NOT NULL GROUP BY 1, 2),
            fert AS (
                SELECT grp,
                       CAST(sum(cnt) AS BIGINT) AS words,
                       CAST(sum(cnt * n_pieces) AS BIGINT) AS pieces,
                       CAST(sum(cnt * length(w)) AS BIGINT) AS chars
                FROM lw JOIN segn USING (w) GROUP BY 1)
            SELECT grp, words, pieces, chars,
                   CAST(pieces * 1000 // words AS BIGINT)
                       AS fertility_milli,
                   CAST(pieces * 1000 // chars AS BIGINT)
                       AS pieces_per_kchar
            FROM fert ORDER BY grp
        """,
        "psi_drift": """
            WITH hoc AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT)
                                    AS c
                         FROM orders WHERE o_totalprice IS NOT NULL),
            hnc AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
                    FROM orders
                    WHERE o_totalprice IS NOT NULL
                      AND o_totalprice < 100000),
            hrg AS (SELECT min(c) AS lo,
                           CAST((max(c) - min(c) + 20) // 20 AS BIGINT) AS w
                    FROM (SELECT c FROM hoc UNION ALL SELECT c FROM hnc)),
            hbo AS (SELECT CAST((c - lo) // w AS BIGINT) AS bin,
                           CAST(count(*) AS BIGINT) AS c_old
                    FROM hoc, hrg GROUP BY 1),
            hbn AS (SELECT CAST((c - lo) // w AS BIGINT) AS bin,
                           CAST(count(*) AS BIGINT) AS c_new
                    FROM hnc, hrg GROUP BY 1),
            hcn AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM hoc)
                               AS n_old,
                           (SELECT CAST(count(*) AS BIGINT) FROM hnc)
                               AS n_new),
            hpb AS (SELECT coalesce(c_old, 0) AS c_old,
                           coalesce(c_new, 0) AS c_new
                    FROM hbo FULL OUTER JOIN hbn USING (bin)),
            hno AS (SELECT CAST(count(*) AS BIGINT) AS n_bins_observed
                    FROM hpb),
            terms AS (
                SELECT CAST(((1000000 * (c_old + 1))
                                // (n_old + n_bins_observed)
                             - (1000000 * (c_new + 1))
                                // (n_new + n_bins_observed))
                        * ((1000 * (length(format('{:b}', (c_old + 1))) - 1) + (((c_old + 1) - (1::BIGINT << (length(format('{:b}', (c_old + 1))) - 1))) * 1000) // (1::BIGINT << (length(format('{:b}', (c_old + 1))) - 1))) - (1000 * (length(format('{:b}', (c_new + 1))) - 1) + (((c_new + 1) - (1::BIGINT << (length(format('{:b}', (c_new + 1))) - 1))) * 1000) // (1::BIGINT << (length(format('{:b}', (c_new + 1))) - 1))) - (1000 * (length(format('{:b}', (n_old + n_bins_observed))) - 1) + (((n_old + n_bins_observed) - (1::BIGINT << (length(format('{:b}', (n_old + n_bins_observed))) - 1))) * 1000) // (1::BIGINT << (length(format('{:b}', (n_old + n_bins_observed))) - 1))) + (1000 * (length(format('{:b}', (n_new + n_bins_observed))) - 1) + (((n_new + n_bins_observed) - (1::BIGINT << (length(format('{:b}', (n_new + n_bins_observed))) - 1))) * 1000) // (1::BIGINT << (length(format('{:b}', (n_new + n_bins_observed))) - 1))))
                        AS BIGINT) AS term
                FROM hpb, hcn, hno),
            agg AS (SELECT CAST(sum(term) AS BIGINT) AS psi_nano
                    FROM terms)
            SELECT n_old, n_new, n_bins_observed,
                   CASE WHEN n_bins_observed = 0 THEN NULL
                        ELSE coalesce(psi_nano, 0) END AS psi_nano,
                   CASE WHEN n_bins_observed = 0 THEN NULL
                        ELSE CAST(coalesce(psi_nano, 0) AS DOUBLE) / 1e9
                   END AS psi_log2,
                   CASE WHEN n_bins_observed = 0 THEN NULL
                        WHEN coalesce(psi_nano, 0) < 144269504
                            THEN 'stable'
                        WHEN coalesce(psi_nano, 0) < 360673760
                            THEN 'moderate'
                        ELSE 'major' END AS band
            FROM hcn, hno, agg
        """,
        "psi_drift_grouped": f"""
            WITH hoc AS (SELECT o_orderpriority AS grp,
                                CAST(round(o_totalprice * 100) AS BIGINT)
                                    AS c
                         FROM orders
                         WHERE o_totalprice IS NOT NULL
                           AND o_orderpriority IS NOT NULL),
            hnc AS (SELECT o_orderpriority AS grp,
                           CAST(round(o_totalprice * 100) AS BIGINT) AS c
                    FROM orders
                    WHERE o_totalprice IS NOT NULL
                      AND o_orderpriority IS NOT NULL
                      AND o_totalprice < 100000),
            hrg AS (SELECT grp, min(c) AS lo,
                           CAST((max(c) - min(c) + 20) // 20 AS BIGINT)
                               AS w
                    FROM (SELECT grp, c FROM hoc
                          UNION ALL SELECT grp, c FROM hnc)
                    GROUP BY grp),
            hbo AS (SELECT h.grp,
                           CAST((c - lo) // w AS BIGINT) AS bin,
                           CAST(count(*) AS BIGINT) AS c_old
                    FROM hoc h JOIN hrg USING (grp) GROUP BY 1, 2),
            hbn AS (SELECT h.grp,
                           CAST((c - lo) // w AS BIGINT) AS bin,
                           CAST(count(*) AS BIGINT) AS c_new
                    FROM hnc h JOIN hrg USING (grp) GROUP BY 1, 2),
            hco AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_old
                    FROM hoc GROUP BY grp),
            hcg AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_new
                    FROM hnc GROUP BY grp),
            hcounts AS (SELECT coalesce(o.grp, n.grp) AS grp,
                               coalesce(n_old, 0) AS n_old,
                               coalesce(n_new, 0) AS n_new
                        FROM hco o FULL OUTER JOIN hcg n
                          ON o.grp = n.grp),
            hpb AS (SELECT coalesce(o.grp, n.grp) AS grp,
                           coalesce(c_old, 0) AS c_old,
                           coalesce(c_new, 0) AS c_new
                    FROM hbo o FULL OUTER JOIN hbn n
                      ON o.grp = n.grp AND o.bin = n.bin),
            hno AS (SELECT grp,
                           CAST(count(*) AS BIGINT) AS n_bins_observed
                    FROM hpb GROUP BY grp),
            hmeta AS (SELECT c.grp, c.n_old, c.n_new,
                             coalesce(n_bins_observed, 0)
                                 AS n_bins_observed
                      FROM hcounts c LEFT JOIN hno USING (grp)),
            terms AS (
                SELECT p.grp,
                       CAST(((1000000 * (c_old + 1))
                                // (n_old + n_bins_observed)
                             - (1000000 * (c_new + 1))
                                // (n_new + n_bins_observed))
                        * ({_unigram_ml('(c_old + 1)')}
                           - {_unigram_ml('(c_new + 1)')}
                           - {_unigram_ml('(n_old + n_bins_observed)')}
                           + {_unigram_ml('(n_new + n_bins_observed)')})
                        AS BIGINT) AS term
                FROM hpb p JOIN hmeta USING (grp)),
            tagg AS (SELECT grp, CAST(sum(term) AS BIGINT) AS psi_nano
                     FROM terms GROUP BY grp)
            SELECT m.grp AS o_orderpriority, n_old, n_new,
                   n_bins_observed,
                   CASE WHEN n_bins_observed = 0 THEN NULL
                        ELSE coalesce(psi_nano, 0) END AS psi_nano,
                   CASE WHEN n_bins_observed = 0 THEN NULL
                        ELSE CAST(coalesce(psi_nano, 0) AS DOUBLE) / 1e9
                   END AS psi_log2,
                   CASE WHEN n_bins_observed = 0 THEN NULL
                        WHEN coalesce(psi_nano, 0) < 144269504
                            THEN 'stable'
                        WHEN coalesce(psi_nano, 0) < 360673760
                            THEN 'moderate'
                        ELSE 'major' END AS band
            FROM hmeta m LEFT JOIN tagg USING (grp)
            ORDER BY 1
        """,
        "psi_drift_quantile": f"""
            WITH hoc AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT)
                                    AS c
                         FROM orders WHERE o_totalprice IS NOT NULL),
            hnc AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
                    FROM orders
                    WHERE o_totalprice IS NOT NULL
                      AND o_totalprice < 100000),
            vc AS (SELECT c, CAST(count(*) AS BIGINT) AS cnt
                   FROM hoc GROUP BY c),
            vcum AS (SELECT c, CAST(sum(cnt) OVER (ORDER BY c) AS BIGINT)
                            AS cum
                     FROM vc),
            nref AS (SELECT CAST(count(*) AS BIGINT) AS n_ref FROM hoc),
            js AS (SELECT CAST(j AS BIGINT) AS j
                   FROM unnest(range(1, 20)) AS t(j)),
            hits AS (SELECT j, min(c) AS edge
                     FROM vcum, nref, js
                     WHERE cum >= (j * n_ref + 19) // 20
                     GROUP BY j),
            earr AS (SELECT list(edge ORDER BY edge) AS edges FROM hits),
            hbo AS (SELECT CAST(len(list_filter(edges, e -> c >= e))
                            AS BIGINT) AS bin,
                           CAST(count(*) AS BIGINT) AS c_old
                    FROM hoc, earr GROUP BY 1),
            hbn AS (SELECT CAST(len(list_filter(edges, e -> c >= e))
                            AS BIGINT) AS bin,
                           CAST(count(*) AS BIGINT) AS c_new
                    FROM hnc, earr GROUP BY 1),
            hcn AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM hoc)
                               AS n_old,
                           (SELECT CAST(count(*) AS BIGINT) FROM hnc)
                               AS n_new),
            hpb AS (SELECT coalesce(c_old, 0) AS c_old,
                           coalesce(c_new, 0) AS c_new
                    FROM hbo FULL OUTER JOIN hbn USING (bin)),
            hno AS (SELECT CAST(count(*) AS BIGINT) AS n_bins_observed
                    FROM hpb),
            terms AS (
                SELECT CAST(((1000000 * (c_old + 1))
                                // (n_old + n_bins_observed)
                             - (1000000 * (c_new + 1))
                                // (n_new + n_bins_observed))
                        * ({_unigram_ml('(c_old + 1)')}
                           - {_unigram_ml('(c_new + 1)')}
                           - {_unigram_ml('(n_old + n_bins_observed)')}
                           + {_unigram_ml('(n_new + n_bins_observed)')})
                        AS BIGINT) AS term
                FROM hpb, hcn, hno),
            agg AS (SELECT CAST(sum(term) AS BIGINT) AS psi_nano
                    FROM terms)
            SELECT n_old, n_new, n_bins_observed,
                   CASE WHEN n_bins_observed = 0 THEN NULL
                        ELSE coalesce(psi_nano, 0) END AS psi_nano,
                   CASE WHEN n_bins_observed = 0 THEN NULL
                        ELSE CAST(coalesce(psi_nano, 0) AS DOUBLE) / 1e9
                   END AS psi_log2,
                   CASE WHEN n_bins_observed = 0 THEN NULL
                        WHEN coalesce(psi_nano, 0) < 144269504
                            THEN 'stable'
                        WHEN coalesce(psi_nano, 0) < 360673760
                            THEN 'moderate'
                        ELSE 'major' END AS band
            FROM hcn, hno, agg
        """,
        "split_leakage_audit": """
            WITH seeded AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 7 = 0
                            THEN concat('dup seed ',
                                        CAST(doc_id % 13 AS VARCHAR))
                            ELSE text END AS text
                FROM documents),
            hsh AS (
                SELECT doc_id,
                       sha256(trim(regexp_replace(lower(text),
                           '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))) AS h
                FROM seeded),
            rep AS (
                SELECT doc_id, min(doc_id) OVER (PARTITION BY h) AS rep
                FROM hsh),
            pairs AS (
                SELECT rep AS id_a, doc_id AS id_b
                FROM rep WHERE doc_id <> rep),
            asg AS (
                SELECT doc_id,
                       CASE WHEN kb < 2 THEN 'train'
                            WHEN kb < 3 THEN 'val'
                            ELSE 'test' END AS split
                FROM (
                    SELECT doc_id,
                           CAST(concat('0x', substr(sha256(concat(
                               'split:', CAST(doc_id AS VARCHAR))), 1, 8))
                               AS UBIGINT) % 4 AS kb
                    FROM documents WHERE doc_id % 97 <> 0) t),
            j AS (
                SELECT coalesce(a.split, '__unassigned__') AS sa,
                       coalesce(b.split, '__unassigned__') AS sb
                FROM pairs p
                LEFT JOIN asg a ON a.doc_id = p.id_a
                LEFT JOIN asg b ON b.doc_id = p.id_b)
            SELECT least(sa, sb) AS split_a,
                   greatest(sa, sb) AS split_b,
                   CAST(count(*) AS BIGINT) AS n_pairs,
                   least(sa, sb) <> greatest(sa, sb) AS leaked
            FROM j GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "adaptive_salted_join": """
            WITH fact AS (
                SELECT CASE WHEN l_linenumber >= 3 THEN 0
                            ELSE l_partkey % 50 END AS k,
                       CAST(l_quantity AS BIGINT) AS qty
                FROM lineitem),
            dim AS (
                SELECT CAST(i AS BIGINT) AS k,
                       concat('g', CAST(i % 5 AS VARCHAR)) AS label
                FROM (SELECT unnest(range(0, 50)) AS i) t)
            SELECT label,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(qty) AS BIGINT) AS total_qty
            FROM fact JOIN dim USING (k)
            GROUP BY label ORDER BY label
        """,
        "bq_topk": _BQ_CTE + """
            SELECT query_id, neighbor_id, sim, rank FROM bqr
            ORDER BY query_id, rank
        """,
        "bq_recall": _BQ_CTE + _BQ_RECALL_TAIL,
        "ivf_bq_topk": _ivf_bq_sql() + """
            SELECT query_id, neighbor_id, sim, rank FROM bqr
            ORDER BY query_id, rank
        """,
        "ivf_bq_recall": _ivf_bq_sql() + _BQ_RECALL_TAIL,
        "ivf_bq_append": _ivf_bq_append_sql() + """
            SELECT m.vec_id AS id, m.cluster,
                   c.lo AS code_lo, c.hi AS code_hi
            FROM m2all m JOIN codes c USING (vec_id)
            ORDER BY id
        """,
        "ivf_routing_balance": _ivf_bq_append_sql() + f"""
            , nb_ AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_build
                      FROM m2all WHERE vec_id % 4 <> 0 GROUP BY cluster),
            nn_ AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_new
                    FROM m2all WHERE vec_id % 4 = 0 GROUP BY cluster),
            per AS (SELECT coalesce(b.cluster, n.cluster) AS cluster,
                           coalesce(n_build, 0) AS n_build,
                           coalesce(n_new, 0) AS n_new
                    FROM nb_ b FULL OUTER JOIN nn_ n
                      ON b.cluster = n.cluster),
            tot AS (SELECT CAST(sum(n_build) AS BIGINT) AS t_build,
                           CAST(sum(n_new) AS BIGINT) AS t_new,
                           CAST(count(*) AS BIGINT) AS n_buckets
                    FROM per),
            rows_ AS (
                SELECT cluster, n_build, n_new,
                       CAST(CASE WHEN t_build = 0 THEN NULL
                            ELSE (1000000 * n_build) // t_build END
                            AS BIGINT) AS share_build_micro,
                       CAST(CASE WHEN t_new = 0 THEN NULL
                            ELSE (1000000 * n_new) // t_new END
                            AS BIGINT) AS share_new_micro,
                       CAST(((1000000 * (n_build + 1))
                                // (t_build + n_buckets)
                             - (1000000 * (n_new + 1))
                                // (t_new + n_buckets))
                            * ({_unigram_ml('(n_build + 1)')}
                               - {_unigram_ml('(n_new + 1)')}
                               - {_unigram_ml('(t_build + n_buckets)')}
                               + {_unigram_ml('(t_new + n_buckets)')})
                            AS BIGINT) AS psi_term_nano
                FROM per, tot),
            tpsi AS (SELECT CAST(sum(psi_term_nano) AS BIGINT) AS psi_nano
                     FROM rows_)
            SELECT cluster, n_build, n_new,
                   share_build_micro, share_new_micro,
                   CAST(coalesce(share_new_micro, 0)
                        - coalesce(share_build_micro, 0) AS BIGINT)
                       AS delta_share_micro,
                   psi_term_nano, psi_nano,
                   CAST(psi_nano AS DOUBLE) / 1e9 AS psi_log2,
                   CASE WHEN psi_nano < 144269504 THEN 'stable'
                        WHEN psi_nano < 360673760 THEN 'moderate'
                        ELSE 'major' END AS band
            FROM rows_, tpsi ORDER BY cluster
        """,
        "pass_at_k": """
            WITH per AS (
                SELECT user_id AS problem, CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(CASE WHEN event_type = 'purchase'
                           THEN 1 ELSE 0 END) AS BIGINT) AS c
                FROM events GROUP BY user_id),
            f AS (SELECT problem, n, c FROM per WHERE n >= 5),
            -- HUGEINT products: matches the Spark side's DECIMAL(38,0)
            -- envelope (BIGINT would overflow-ERROR at n-c > ~390 once
            -- num*1e6 crosses 2^63 — a latent engine-parity break)
            ff AS (SELECT problem, n, c,
                   CAST(greatest(n - c, 0) AS HUGEINT)
                       * greatest(n - c - 1, 0)
                       * greatest(n - c - 2, 0) * greatest(n - c - 3, 0)
                       * greatest(n - c - 4, 0) AS num,
                   CAST(n AS HUGEINT)
                       * (n - 1) * (n - 2) * (n - 3) * (n - 4) AS den
                   FROM f)
            SELECT problem, n, c, CAST(5 AS BIGINT) AS k,
                   CAST(1000000 - (1000000 * num) // den AS BIGINT)
                       AS pass_micro,
                   CAST(1 AS DOUBLE)
                       - CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
                       AS pass_at_k
            FROM ff ORDER BY problem
        """,
        "pass_at_k_summary": """
            WITH per AS (
                SELECT user_id AS problem, CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(CASE WHEN event_type = 'purchase'
                           THEN 1 ELSE 0 END) AS BIGINT) AS c
                FROM events GROUP BY user_id),
            -- UNFILTERED per-problem tallies: n < 5 problems ride the
            -- same scan as the n_dropped conditional leg (no-silent-
            -- caps rule); HUGEINT products match Spark's DECIMAL(38,0)
            ff AS (SELECT problem, n, c,
                   CASE WHEN n >= 5 THEN
                       CAST(greatest(n - c, 0) AS HUGEINT)
                       * greatest(n - c - 1, 0)
                       * greatest(n - c - 2, 0) * greatest(n - c - 3, 0)
                       * greatest(n - c - 4, 0) END AS num,
                   CASE WHEN n >= 5 THEN
                       CAST(n AS HUGEINT)
                       * (n - 1) * (n - 2) * (n - 3) * (n - 4) END AS den
                   FROM per),
            m AS (SELECT problem, c, n,
                   CAST(1000000 - (1000000 * num) // den AS BIGINT)
                       AS pass_micro
                  FROM ff)
            SELECT CAST(coalesce(sum(CASE WHEN n >= 5 THEN 1 END), 0)
                       AS BIGINT) AS n_problems,
                   CAST(5 AS BIGINT) AS k,
                   CAST(sum(pass_micro)
                       // sum(CASE WHEN n >= 5 THEN 1 END) AS BIGINT)
                       AS mean_pass_micro,
                   CAST(sum(pass_micro) AS DOUBLE)
                       / CAST(1000000 * sum(CASE WHEN n >= 5 THEN 1 END)
                              AS DOUBLE)
                       AS mean_pass_at_k,
                   CAST(coalesce(sum(CASE WHEN n >= 5 AND c + 5 > n
                       THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_saturated,
                   CAST(coalesce(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END),
                       0) AS BIGINT) AS n_dropped
            FROM m
        """,
        "majority_vote": """
            WITH votes AS (
                SELECT user_id AS problem, event_type AS answer,
                       count(*) AS v
                FROM events WHERE event_type IS NOT NULL
                GROUP BY user_id, event_type),
            top AS (SELECT problem, answer FROM (
                    SELECT problem, answer,
                           row_number() OVER (PARTITION BY problem
                               ORDER BY v DESC, answer ASC) AS rn
                    FROM votes) WHERE rn = 1),
            g AS (SELECT DISTINCT user_id AS problem,
                         CASE user_id % 3 WHEN 0 THEN 'click'
                              WHEN 1 THEN 'view' ELSE 'purchase' END AS gold
                  FROM events),
            s AS (SELECT CASE WHEN top.answer = g.gold THEN 1 ELSE 0 END
                      AS ok
                  FROM top JOIN g USING (problem))
            SELECT CAST(count(*) AS BIGINT) AS n_problems,
                   CAST(sum(ok) AS BIGINT) AS n_correct,
                   CAST(1000 * sum(ok) // count(*) AS BIGINT)
                       AS accuracy_milli,
                   CAST(sum(ok) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                       AS accuracy
            FROM s
        """,
        "mg_heavy_hitters": _mg_sql(k=4, buckets=8)
        + """
            SELECT key, est AS est_count FROM m7
            ORDER BY est_count DESC, key
        """,
        "mg_guarantee": _mg_sql(k=4, buckets=8)
        + """,
            exact AS (SELECT key, CAST(count(*) AS BIGINT) AS n_true
                      FROM s GROUP BY key),
            j AS (SELECT exact.n_true, coalesce(m7.est, 0) AS est
                  FROM exact LEFT JOIN m7 USING (key)),
            a AS (SELECT CAST(4 AS BIGINT) AS k,
                         CAST(sum(n_true) AS BIGINT) AS n_total,
                         CAST(count(*) AS BIGINT) AS n_keys,
                         CAST(sum(CASE WHEN est > 0 THEN 1 ELSE 0 END)
                             AS BIGINT) AS n_summary,
                         CAST(max(n_true - est) AS BIGINT) AS max_underest,
                         max(est - n_true) <= 0 AS no_overestimate
                  FROM j)
            SELECT k, n_total, n_keys, n_summary, n_total // 5 AS bound,
                   max_underest, no_overestimate,
                   max_underest <= n_total // 5 AS within_bound
            FROM a
        """,
        "time_split": """
            WITH nn AS (SELECT count(*) AS n FROM events WHERE ts IS NOT NULL),
            spine AS (SELECT ts AS t, count(*) AS c FROM events
                      WHERE ts IS NOT NULL GROUP BY ts),
            cum AS (SELECT t, sum(c) OVER (ORDER BY t ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                    FROM spine),
            cutoff AS (
                SELECT min(t) AS cut FROM cum, nn
                WHERE cum >= CAST(ceil(n * CAST(0.8 AS DOUBLE)) AS BIGINT)),
            lab AS (
                SELECT e.*, CASE WHEN e.ts IS NULL OR e.ts <= c.cut
                                 THEN 'train' ELSE 'holdout' END AS split
                FROM events e, cutoff c)
            SELECT split, CAST(count(*) AS BIGINT) AS n_events,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS ts_min,
                   strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS ts_max
            FROM lab GROUP BY split
        """,
        "sql_interface": """
            SELECT n.n_name AS nation,
                   count(*) AS n_orders,
                   CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
                       AS revenue_cents
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'ASIA' AND o.o_totalprice IS NOT NULL
            GROUP BY n.n_name
            ORDER BY revenue_cents DESC, nation ASC
        """,
        "skew_report": """
            WITH counts AS (
                SELECT CAST(event_type AS VARCHAR) AS key, count(*) AS cnt
                FROM events GROUP BY 1),
            stats AS (SELECT count(*) AS n_keys, sum(cnt) AS total,
                             max(cnt) AS max_cnt
                      FROM counts),
            ranked AS (
                SELECT key, cnt, rnk FROM (
                    SELECT key, cnt, row_number() OVER
                        (ORDER BY cnt DESC, key ASC) AS rnk
                    FROM counts) WHERE rnk <= 10)
            SELECT r.key, CAST(r.cnt AS BIGINT) AS cnt,
                   CAST(r.rnk AS BIGINT) AS rank,
                   CAST(s.n_keys AS BIGINT) AS n_keys,
                   CAST(s.total AS BIGINT) AS total,
                   CAST(s.max_cnt AS BIGINT) AS max_cnt,
                   CAST(s.total AS DOUBLE) / s.n_keys AS avg_cnt,
                   CAST(s.max_cnt AS DOUBLE)
                       / (CAST(s.total AS DOUBLE) / s.n_keys) AS skew_factor
            FROM ranked r, stats s
        """,
        "price_histogram_quantiles": """
            WITH vals AS (
                SELECT o_orderpriority AS grp,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS x
                FROM orders WHERE o_totalprice IS NOT NULL),
            bounds AS (SELECT grp, min(x) AS lo, max(x) AS hi,
                              count(*) AS n
                       FROM vals GROUP BY grp),
            binned AS (
                SELECT v.grp, b.n,
                       CAST(((v.x - b.lo) * 1000) // (b.hi - b.lo + 1) AS INT) AS bb,
                       b.lo, b.hi, count(*) AS c
                FROM vals v JOIN bounds b USING (grp)
                GROUP BY 1, 2, 3, 4, 5),
            cum AS (SELECT *, sum(c) OVER (PARTITION BY grp ORDER BY bb ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                    FROM binned),
            ex AS (SELECT cum.*, qq.q
                   FROM cum, (SELECT unnest([CAST(0.5 AS DOUBLE),
                                             CAST(0.95 AS DOUBLE),
                                             CAST(0.99 AS DOUBLE)]) AS q) qq),
            hit AS (SELECT grp, q, n, bb, lo, hi FROM ex
                    WHERE cum >= CAST(ceil(q * n) AS BIGINT))
            SELECT grp, q, CAST(max(n) AS BIGINT) AS n,
                   CAST(min(lo + (bb * (hi - lo + 1)) // 1000) AS BIGINT)
                       AS approx_value
            FROM hit GROUP BY grp, q
        """,
        "length_gini": """
            WITH vals AS (
                SELECT source AS grp, CAST(n_chars AS BIGINT) AS x
                FROM documents
                WHERE n_chars IS NOT NULL AND n_chars >= 0),
            r AS (SELECT grp, x, row_number() OVER
                      (PARTITION BY grp ORDER BY x ASC) AS i
                  FROM vals),
            a AS (SELECT grp, count(*) AS n, sum(x) AS total,
                         sum(i * x) AS ix
                  FROM r GROUP BY grp)
            SELECT grp, CAST(n AS BIGINT) AS n, CAST(total AS BIGINT) AS total,
                   CASE WHEN total > 0 THEN
                       CAST(2 * ix - (n + 1) * total AS DOUBLE)
                       / (n * total) END AS gini
            FROM a
        """,
        "ivf_recall": f"""
            WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                       FROM embeddings WHERE vec_id < 5),
            c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
                  FROM embeddings),
            s AS (
                SELECT query_id, neighbor_id,
                       {_COSINE.format(a='qv', b='cv')} AS sim
                FROM q, c WHERE neighbor_id <> query_id),
            r AS (SELECT *, row_number() OVER
                      (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
                  FROM s),
            truth AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 3),
            v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
            vn AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS n FROM v),
            cents AS (SELECT vec_id AS cid, e AS ce, n AS cn
                      FROM vn WHERE vec_id % 50 = 0),
            assigned AS (
                SELECT vec_id, e, n, cid FROM (
                    SELECT vn.vec_id, vn.e, vn.n, cents.cid,
                           row_number() OVER (PARTITION BY vn.vec_id
                               ORDER BY list_dot_product(vn.e, cents.ce) DESC,
                                        cents.cid ASC) AS rn
                    FROM vn, cents) WHERE rn = 1),
            qprobe AS (
                SELECT query_id, qv, cid FROM (
                    SELECT qq.vec_id AS query_id, qq.e AS qv, cents.cid,
                           row_number() OVER (PARTITION BY qq.vec_id
                               ORDER BY list_dot_product(qq.e, cents.ce) DESC,
                                        cents.cid ASC) AS rn
                    FROM (SELECT * FROM vn WHERE vec_id < 5) qq, cents)
                WHERE rn <= 2),
            scored AS (
                SELECT p.query_id, a.vec_id AS neighbor_id,
                       round(list_dot_product(p.qv, a.e)
                             / (sqrt(list_dot_product(p.qv, p.qv)) * a.n), 6) AS sim
                FROM qprobe p JOIN assigned a USING (cid)
                WHERE a.vec_id <> p.query_id),
            ranked AS (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                           ORDER BY sim DESC, neighbor_id ASC) AS rank
                FROM scored),
            cand AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 3),
            joined AS (
                SELECT CASE WHEN t.query_id IS NOT NULL THEN 1 ELSE 0 END AS t,
                       CASE WHEN cd.query_id IS NOT NULL THEN 1 ELSE 0 END AS c
                FROM truth t FULL OUTER JOIN cand cd
                  ON t.query_id = cd.query_id AND t.neighbor_id = cd.neighbor_id),
            agg AS (
                SELECT CAST(sum(t) AS BIGINT) AS n_truth,
                       CAST(sum(c) AS BIGINT) AS n_cand,
                       CAST(sum(t * c) AS BIGINT) AS n_hit
                FROM joined)
            SELECT n_truth, n_cand, n_hit,
                   CASE WHEN n_truth > 0
                        THEN CAST(n_hit AS DOUBLE) / n_truth END AS recall,
                   CASE WHEN n_cand > 0
                        THEN CAST(n_hit AS DOUBLE) / n_cand END AS precision
            FROM agg
        """,
        "sq_recall": f"""
            WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                       FROM embeddings WHERE vec_id < 5),
            c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
                  FROM embeddings),
            s AS (
                SELECT query_id, neighbor_id,
                       {_COSINE.format(a='qv', b='cv')} AS sim
                FROM q, c WHERE neighbor_id <> query_id),
            r AS (SELECT *, row_number() OVER
                      (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
                  FROM s),
            truth AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 3),
            base AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                FROM embeddings),
            mx AS (
                SELECT vec_id, e,
                       list_max(list_transform(e, x -> abs(x))) AS ma
                FROM base),
            qt AS (
                SELECT vec_id,
                       CASE WHEN ma = 0
                            THEN list_transform(e, x -> CAST(0 AS BIGINT))
                            ELSE list_transform(e,
                                x -> CAST(round(x / (ma / 127)) AS BIGINT))
                       END AS qv
                FROM mx),
            qn AS (
                SELECT vec_id, qv,
                       CAST(list_sum(list_transform(qv, x -> x * x))
                            AS BIGINT) AS qn2
                FROM qt),
            pairs AS (
                SELECT qq.vec_id AS query_id, cc.vec_id AS neighbor_id,
                       CASE WHEN cc.qn2 > 0 AND qq.qn2 > 0 THEN
                           round(CAST(list_dot_product(
                                     CAST(cc.qv AS DOUBLE[]),
                                     CAST(qq.qv AS DOUBLE[])) AS DOUBLE)
                                 / (sqrt(cc.qn2) * sqrt(qq.qn2)), 6)
                       ELSE 0.0 END AS sim_q
                FROM qn cc, (SELECT * FROM qn WHERE vec_id < 5) qq
                WHERE cc.vec_id <> qq.vec_id),
            ranked AS (
                SELECT query_id, neighbor_id, sim_q,
                       row_number() OVER (PARTITION BY query_id
                           ORDER BY sim_q DESC, neighbor_id ASC) AS rank
                FROM pairs),
            cand AS (SELECT query_id, neighbor_id FROM ranked WHERE rank <= 3),
            joined AS (
                SELECT CASE WHEN t.query_id IS NOT NULL THEN 1 ELSE 0 END AS t,
                       CASE WHEN cd.query_id IS NOT NULL THEN 1 ELSE 0 END AS c
                FROM truth t FULL OUTER JOIN cand cd
                  ON t.query_id = cd.query_id AND t.neighbor_id = cd.neighbor_id),
            agg AS (
                SELECT CAST(sum(t) AS BIGINT) AS n_truth,
                       CAST(sum(c) AS BIGINT) AS n_cand,
                       CAST(sum(t * c) AS BIGINT) AS n_hit
                FROM joined)
            SELECT n_truth, n_cand, n_hit,
                   CASE WHEN n_truth > 0
                        THEN CAST(n_hit AS DOUBLE) / n_truth END AS recall,
                   CASE WHEN n_cand > 0
                        THEN CAST(n_hit AS DOUBLE) / n_cand END AS precision
            FROM agg
        """,
        # MRR@3 / hit@3 of the int8-SQ ranked list vs exact cosine
        # truth: same exact/quantized chains as sq_recall, then
        # first-hit rank per query; reciprocal ranks summed as
        # lcm(1..3)=6-scaled exact integers, ONE trailing division.
        "ann_mrr": f"""
            WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                       FROM embeddings WHERE vec_id < 5),
            c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
                  FROM embeddings),
            s AS (
                SELECT query_id, neighbor_id,
                       {_COSINE.format(a='qv', b='cv')} AS sim
                FROM q, c WHERE neighbor_id <> query_id),
            r AS (SELECT *, row_number() OVER
                      (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
                  FROM s),
            truth AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 3),
            base AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                FROM embeddings),
            mx AS (
                SELECT vec_id, e,
                       list_max(list_transform(e, x -> abs(x))) AS ma
                FROM base),
            qt AS (
                SELECT vec_id,
                       CASE WHEN ma = 0
                            THEN list_transform(e, x -> CAST(0 AS BIGINT))
                            ELSE list_transform(e,
                                x -> CAST(round(x / (ma / 127)) AS BIGINT))
                       END AS qv
                FROM mx),
            qn AS (
                SELECT vec_id, qv,
                       CAST(list_sum(list_transform(qv, x -> x * x))
                            AS BIGINT) AS qn2
                FROM qt),
            pairs AS (
                SELECT qq.vec_id AS query_id, cc.vec_id AS neighbor_id,
                       CASE WHEN cc.qn2 > 0 AND qq.qn2 > 0 THEN
                           round(CAST(list_dot_product(
                                     CAST(cc.qv AS DOUBLE[]),
                                     CAST(qq.qv AS DOUBLE[])) AS DOUBLE)
                                 / (sqrt(cc.qn2) * sqrt(qq.qn2)), 6)
                       ELSE 0.0 END AS sim_q
                FROM qn cc, (SELECT * FROM qn WHERE vec_id < 5) qq
                WHERE cc.vec_id <> qq.vec_id),
            ranked AS (
                SELECT query_id, neighbor_id, sim_q,
                       row_number() OVER (PARTITION BY query_id
                           ORDER BY sim_q DESC, neighbor_id ASC) AS rank
                FROM pairs),
            first AS (
                SELECT t.query_id, min(rk.rank) AS first_rank
                FROM truth t
                JOIN ranked rk ON t.query_id = rk.query_id
                             AND t.neighbor_id = rk.neighbor_id
                WHERE rk.rank <= 3
                GROUP BY t.query_id),
            per AS (
                SELECT qs.query_id, f.first_rank
                FROM (SELECT DISTINCT query_id FROM truth) qs
                LEFT JOIN first f USING (query_id))
            SELECT CAST(count(*) AS BIGINT) AS n_queries,
                   CAST(sum(CASE WHEN first_rank IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_hit,
                   CASE WHEN count(*) > 0 THEN
                       CAST(sum(CASE WHEN first_rank IS NOT NULL THEN 1 ELSE 0 END)
                            AS DOUBLE) / count(*) END AS hit_rate,
                   CASE WHEN count(*) > 0 THEN
                       CAST(sum(CASE WHEN first_rank IS NOT NULL
                                     THEN 6 // first_rank ELSE 0 END)
                            AS DOUBLE) / (6 * count(*)) END AS mrr
            FROM per
        """,
        "hll_set_ops": """
            WITH hs0 AS (
                SELECT event_type AS grp,
                       CAST(concat('0x', substr(sha256(concat('hll:',
                            CAST(user_id AS VARCHAR))), 1, 8)) AS UBIGINT)
                           % 4294967296 AS h
                FROM events
                WHERE event_type IN ('click', 'purchase')
                  AND user_id IS NOT NULL),
            hsh AS (SELECT grp, CAST(h % 64 AS BIGINT) AS j,
                           CAST(h // 64 AS BIGINT) AS rem FROM hs0),
            hsr AS (SELECT grp, j,
                           CASE WHEN rem = 0 THEN 27
                                ELSE 27 - length(bin(rem)) END AS rho
                    FROM hsh),
            hsregs AS (SELECT grp, j, max(rho) AS M
                       FROM hsr GROUP BY grp, j),
            hsu AS (SELECT 'u' AS grp, j, max(M) AS M
                    FROM hsregs GROUP BY j),
            hsall AS (SELECT grp, j, M FROM hsregs
                      UNION ALL SELECT grp, j, M FROM hsu),
            hsgrid AS (SELECT g.grp, gj.j
                       FROM (SELECT unnest(['click', 'purchase', 'u'])
                                 AS grp) g,
                            (SELECT unnest(range(0, 64)) AS j) gj),
            hsfl AS (SELECT hsgrid.grp, hsgrid.j,
                            coalesce(hsall.M, 0) AS M
                     FROM hsgrid LEFT JOIN hsall
                       ON hsgrid.grp = hsall.grp
                      AND hsgrid.j = hsall.j),
            hsag AS (SELECT grp,
                            CAST(sum(CAST(1 AS BIGINT) << (27 - M))
                                 AS BIGINT) AS s_scaled
                     FROM hsfl GROUP BY grp),
            hse AS (SELECT grp,
                           CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE)
                               * CAST(134217728 AS DOUBLE) / s_scaled
                               AS est
                    FROM hsag)
            SELECT
                (SELECT est FROM hse WHERE grp = 'click') AS est_left,
                (SELECT est FROM hse WHERE grp = 'purchase')
                    AS est_right,
                (SELECT est FROM hse WHERE grp = 'u') AS est_union,
                greatest(0.0,
                    (SELECT est FROM hse WHERE grp = 'click')
                    + (SELECT est FROM hse WHERE grp = 'purchase')
                    - (SELECT est FROM hse WHERE grp = 'u'))
                    AS est_intersection,
                greatest(0.0,
                    (SELECT est FROM hse WHERE grp = 'u')
                    - (SELECT est FROM hse WHERE grp = 'purchase'))
                    AS est_left_only,
                greatest(0.0,
                    (SELECT est FROM hse WHERE grp = 'u')
                    - (SELECT est FROM hse WHERE grp = 'click'))
                    AS est_right_only
        """,
        "bpe_encode": _BPE_ENCODE_SQL,
        "json_keys": """
            WITH jkt AS (SELECT CAST(count(*) AS BIGINT) AS n_rows
                         FROM events),
            jkk AS (SELECT props,
                           unnest(json_keys(props)) AS key
                    FROM events WHERE json_valid(props)),
            jkv AS (SELECT key,
                           json_extract_string(props, '$.' || key)
                               AS value
                    FROM jkk),
            jkp AS (SELECT key,
                           CAST(count(*) AS BIGINT) AS n_present,
                           CAST(sum(CASE WHEN regexp_full_match(value,
                                '-?[0-9]+(\\.[0-9]+)?') THEN 1 ELSE 0
                                END) AS BIGINT) AS n_numeric
                    FROM jkv GROUP BY key)
            SELECT key, n_present, n_numeric,
                   CASE WHEN n_rows > 0 THEN
                       CAST((1000 * n_present) // n_rows AS BIGINT)
                   ELSE 0 END AS presence_milli
            FROM jkp, jkt ORDER BY key
        """,
        "incremental_cc": """
            WITH RECURSIVE
            icp AS (
                SELECT o_orderkey AS a,
                       o_orderkey - o_orderkey % 64 AS b
                FROM orders WHERE o_orderkey % 2 = 0
                UNION
                SELECT o_orderkey,
                       o_orderkey - o_orderkey % 128
                FROM orders WHERE o_orderkey % 2 = 1),
            ice AS (SELECT a, b FROM icp WHERE a <> b
                    UNION SELECT b, a FROM icp WHERE a <> b),
            icr AS (
                SELECT a AS node, b AS r FROM ice
                UNION
                SELECT e.a, r.r
                FROM ice e JOIN icr r ON e.b = r.node)
            SELECT node, CAST(least(min(r), node) AS BIGINT) AS component
            FROM icr GROUP BY node
            HAVING least(min(r), node) <> node
            ORDER BY node
        """,
        "benford": """
            WITH bfd AS (
                SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT)
                           AS digit,
                       CAST(count(*) AS BIGINT) AS n
                FROM (SELECT CAST(round(abs(o_totalprice) * 100)
                             AS BIGINT) AS c
                      FROM orders)
                WHERE c IS NOT NULL AND c > 0
                GROUP BY 1),
            bfs AS (SELECT unnest([1,2,3,4,5,6,7,8,9]) AS digit,
                           unnest([301,176,125,97,79,67,58,51,46])
                               AS exp_milli),
            bft AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS total
                    FROM bfd)
            SELECT s.digit, CAST(coalesce(d.n, 0) AS BIGINT) AS n,
                   CASE WHEN t.total > 0 THEN
                       CAST((1000 * coalesce(d.n, 0)) // t.total
                            AS BIGINT) ELSE 0 END AS obs_milli,
                   CAST(s.exp_milli AS BIGINT) AS exp_milli,
                   abs(CASE WHEN t.total > 0 THEN
                       CAST((1000 * coalesce(d.n, 0)) // t.total
                            AS BIGINT) ELSE 0 END
                       - CAST(s.exp_milli AS BIGINT)) AS dev_milli
            FROM bfs s LEFT JOIN bfd d USING (digit), bft t
            ORDER BY s.digit
        """,
        "attribution": """
            WITH ate AS (
                SELECT user_id, event_id, event_type, value,
                       CAST(epoch_us(ts) // 1000000 AS BIGINT) AS sec,
                       props
                FROM events),
            atp AS (SELECT user_id, event_id AS purchase_id, sec AS p_sec,
                           CAST(round(value * 100) AS BIGINT) AS cents
                    FROM ate WHERE event_type = 'purchase'),
            atc0 AS (SELECT user_id, sec AS c_sec,
                            CAST(json_extract_string(props, '$.k')
                                 AS BIGINT) % 4 AS campaign
                     FROM ate WHERE event_type = 'click'),
            atc AS (SELECT user_id, c_sec, campaign FROM (
                        SELECT user_id, c_sec, campaign,
                               row_number() OVER (
                                   PARTITION BY user_id, c_sec
                                   ORDER BY campaign DESC) AS rn
                        FROM atc0) WHERE rn = 1),
            atm AS (SELECT p.purchase_id, p.cents, c.campaign,
                           row_number() OVER (
                               PARTITION BY p.purchase_id
                               ORDER BY c.c_sec DESC) AS rn
                    FROM atp p JOIN atc c
                      ON p.user_id = c.user_id AND c.c_sec <= p.p_sec),
            ata AS (SELECT p.purchase_id, p.cents, m.campaign
                    FROM atp p LEFT JOIN
                         (SELECT * FROM atm WHERE rn = 1) m
                      USING (purchase_id))
            SELECT coalesce(campaign, -1) AS campaign,
                   CAST(count(*) AS BIGINT) AS conversions,
                   CAST(sum(cents) AS BIGINT) AS revenue_cents
            FROM ata GROUP BY 1 ORDER BY campaign
        """,
        "quantile_normalize": """
            WITH qns AS (SELECT doc_id AS id, source AS grp,
                                CAST(n_chars AS BIGINT) AS v
                         FROM documents WHERE n_chars IS NOT NULL),
            qng AS (SELECT v AS norm_value,
                           row_number() OVER (ORDER BY v, id) AS gr
                    FROM qns),
            qnn AS (SELECT CAST(count(*) AS BIGINT) AS N FROM qns),
            qnr AS (SELECT id, grp, v,
                           row_number() OVER (PARTITION BY grp
                                              ORDER BY v, id) AS rn,
                           count(*) OVER (PARTITION BY grp) AS ng
                    FROM qns)
            SELECT r.id AS doc_id, r.grp AS source, r.v AS n_chars,
                   g.norm_value
            FROM qnr r, qnn
            JOIN qng g ON g.gr = (r.rn * qnn.N + r.ng - 1) // r.ng
            ORDER BY doc_id
        """,
        "ann_map": f"""
            WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                       FROM embeddings WHERE vec_id < 5),
            c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
                  FROM embeddings),
            s AS (
                SELECT query_id, neighbor_id,
                       {_COSINE.format(a='qv', b='cv')} AS sim
                FROM q, c WHERE neighbor_id <> query_id),
            r AS (SELECT *, row_number() OVER
                      (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
                  FROM s),
            truth AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 3),
            base AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                FROM embeddings),
            mx AS (
                SELECT vec_id, e,
                       list_max(list_transform(e, x -> abs(x))) AS ma
                FROM base),
            qt AS (
                SELECT vec_id,
                       CASE WHEN ma = 0
                            THEN list_transform(e, x -> CAST(0 AS BIGINT))
                            ELSE list_transform(e,
                                x -> CAST(round(x / (ma / 127)) AS BIGINT))
                       END AS qv
                FROM mx),
            qn AS (
                SELECT vec_id, qv,
                       CAST(list_sum(list_transform(qv, x -> x * x))
                            AS BIGINT) AS qn2
                FROM qt),
            pairs AS (
                SELECT qq.vec_id AS query_id, cc.vec_id AS neighbor_id,
                       CASE WHEN cc.qn2 > 0 AND qq.qn2 > 0 THEN
                           round(CAST(list_dot_product(
                                     CAST(cc.qv AS DOUBLE[]),
                                     CAST(qq.qv AS DOUBLE[])) AS DOUBLE)
                                 / (sqrt(cc.qn2) * sqrt(qq.qn2)), 6)
                       ELSE 0.0 END AS sim_q
                FROM qn cc, (SELECT * FROM qn WHERE vec_id < 5) qq
                WHERE cc.vec_id <> qq.vec_id),
            ranked AS (
                SELECT query_id, neighbor_id, sim_q,
                       row_number() OVER (PARTITION BY query_id
                           ORDER BY sim_q DESC, neighbor_id ASC) AS rank
                FROM pairs),
            rel AS (SELECT query_id, CAST(count(*) AS BIGINT) AS R
                    FROM truth GROUP BY query_id),
            hits AS (
                SELECT t.query_id, rk.rank AS p
                FROM truth t
                JOIN ranked rk ON t.query_id = rk.query_id
                             AND t.neighbor_id = rk.neighbor_id
                WHERE rk.rank <= 3),
            contrib AS (
                SELECT query_id,
                       CAST(sum(h * (6 // p)) AS BIGINT) AS ap_scaled
                FROM (SELECT query_id, p,
                             row_number() OVER (PARTITION BY query_id
                                                ORDER BY p) AS h
                      FROM hits)
                GROUP BY query_id),
            per AS (
                SELECT CAST((1000000 * coalesce(c.ap_scaled, 0))
                            // (6 * least(rel.R, 3)) AS BIGINT)
                           AS ap_micro,
                       CASE WHEN coalesce(c.ap_scaled, 0) > 0
                            THEN 1 ELSE 0 END AS hit
                FROM rel LEFT JOIN contrib c USING (query_id))
            SELECT CAST(count(*) AS BIGINT) AS n_queries,
                   CAST(sum(hit) AS BIGINT) AS n_hit_queries,
                   CASE WHEN count(*) > 0 THEN
                       CAST(coalesce(sum(ap_micro), 0)
                            // (1000 * count(*)) AS BIGINT) END
                       AS map_milli,
                   CASE WHEN count(*) > 0 THEN
                       CAST(coalesce(sum(ap_micro), 0) AS DOUBLE)
                           / CAST(1000000 * count(*) AS DOUBLE) END
                       AS mean_ap
            FROM per
        """,
        "calibration": _EVAL_CTE + """
            , cal AS (
                SELECT doc_id, pred, label, (doc_id * 37) % 1001 AS conf
                FROM p),
            b AS (
                SELECT least((conf * 10) // 1000, 9) AS bin,
                       count(*) AS n,
                       sum(CASE WHEN pred = label THEN 1 ELSE 0 END) AS correct,
                       sum(conf) AS conf_sum
                FROM cal GROUP BY 1)
            SELECT CAST(bin AS BIGINT) AS bin,
                   CAST(n AS BIGINT) AS n,
                   CAST(correct AS BIGINT) AS correct,
                   CAST(conf_sum AS BIGINT) AS conf_sum,
                   CAST(correct AS DOUBLE) / n AS accuracy,
                   CAST(conf_sum AS DOUBLE) / (1000 * n) AS avg_conf,
                   CAST(abs(1000 * correct - conf_sum) AS BIGINT) AS gap_scaled
            FROM b
        """,
        "classify_calibration": """
            WITH p AS (
                SELECT doc_id,
                       (['news', 'blog', 'code'])[length(coalesce(
                           CAST(text AS VARCHAR), '')) % 3 + 1] AS pred,
                       (['news', 'blog', 'code'])[CAST(doc_id % 3 + 1 AS INT)]
                           AS label,
                       1000000 // (1000 + 10 * length(coalesce(
                           CAST(text AS VARCHAR), ''))) AS conf
                FROM documents),
            b AS (
                SELECT least((conf * 10) // 1000, 9) AS bin,
                       count(*) AS n,
                       sum(CASE WHEN pred = label THEN 1 ELSE 0 END) AS correct,
                       sum(conf) AS conf_sum
                FROM p GROUP BY 1)
            SELECT CAST(bin AS BIGINT) AS bin,
                   CAST(n AS BIGINT) AS n,
                   CAST(correct AS BIGINT) AS correct,
                   CAST(conf_sum AS BIGINT) AS conf_sum,
                   CAST(correct AS DOUBLE) / n AS accuracy,
                   CAST(conf_sum AS DOUBLE) / (1000 * n) AS avg_conf,
                   CAST(abs(1000 * correct - conf_sum) AS BIGINT) AS gap_scaled
            FROM b
        """,
        "ece": _EVAL_CTE + """
            , cal AS (
                SELECT doc_id, pred, label, (doc_id * 37) % 1001 AS conf
                FROM p),
            b AS (
                SELECT least((conf * 10) // 1000, 9) AS bin,
                       count(*) AS n,
                       sum(CASE WHEN pred = label THEN 1 ELSE 0 END) AS correct,
                       sum(conf) AS conf_sum
                FROM cal GROUP BY 1)
            SELECT CAST(sum(n) AS BIGINT) AS n,
                   CAST(sum(abs(1000 * correct - conf_sum)) AS BIGINT)
                       AS gap_total,
                   CASE WHEN sum(n) > 0 THEN
                       CAST(sum(abs(1000 * correct - conf_sum)) AS DOUBLE)
                       / (1000 * sum(n)) END AS ece
            FROM b
        """,
        "keyword_flags": """
            WITH t AS (
                SELECT doc_id, unnest(list_filter(regexp_split_to_array(
                           lower(coalesce(text, '')), '[^a-z0-9]+'),
                           x -> x <> '')) AS tok
                FROM documents),
            h AS (
                SELECT doc_id, count(*) AS n_hits,
                       count(DISTINCT tok) AS n_terms
                FROM t
                WHERE tok IN ('slow', 'legacy', 'spam', 'merge', 'hash')
                GROUP BY doc_id)
            SELECT d.doc_id AS id,
                   CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
                   CAST(coalesce(h.n_terms, 0) AS BIGINT) AS n_terms,
                   CAST(CASE WHEN coalesce(h.n_hits, 0) >= 3
                             THEN 1 ELSE 0 END AS INT) AS flagged
            FROM documents d LEFT JOIN h USING (doc_id)
        """,
        "rollup_incr": """
            SELECT o_orderpriority,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders
            WHERE o_orderkey % 5 = 0
               OR (o_orderkey % 5 <> 0 AND o_orderkey % 7 <> 0)
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority
        """,
    }
