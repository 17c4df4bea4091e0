"""Physical-plan regression guards: assert the plan SHAPE we designed
for — broadcasts on dim legs, pushdown reaching the scan, TakeOrdered
for top-k, no Python nodes outside model/media stages. A refactor that
silently degrades one of these (e.g. a broadcast falling back to
sort-merge, a filter stuck above the scan) fails here, not in a
benchmark three rounds later.

sf0.001 keeps planning fast; the assertions are about operators chosen,
not timings, so scale factor does not matter.
"""

import pytest

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = entry.queries()[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_tpch_q3_broadcasts_dim_legs(spark):
    plan = _plan(spark, "tpch_q3")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # no dim leg should degrade


def test_tpch_q6_filters_reach_the_scan(spark):
    plan = _plan(spark, "tpch_q6")
    assert "PushedFilters: [" in plan
    # the selective predicates appear as pushed scan filters, not only
    # as a post-scan Filter node
    assert "GreaterThanOrEqual(l_discount" in plan or "GreaterThanOrEqual(l_quantity" in plan or "IsNotNull(l_discount)" in plan


def test_top_orders_is_takeordered_not_global_sort(spark):
    plan = _plan(spark, "top_orders")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_exact_dedup_single_aggregate_shuffle(spark):
    plan = _plan(spark, "exact_dedup")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_min" in plan or "partial_count" in plan  # map-side combine


def test_scan_prunes_columns(spark):
    plan = _plan(spark, "select_prompt_column")
    # 2-column projection must not read the whole documents schema
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" in read_schema and "n_chars" not in read_schema


def test_no_python_nodes_outside_model_stages(spark):
    # pure-Catalyst operators must stay JVM-side end to end
    for name in ["tpch_q1", "exact_dedup", "text_profile", "gopher_quality",
                 "dup_passages", "hll_distinct", "bigram_lift"]:
        plan = _plan(spark, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert "MapInPandas" not in plan, name


def test_model_stage_is_arrow_batched_not_row_python(spark):
    plan = _plan(spark, "flagship_extract")
    assert "MapInPandas" in plan          # the one sanctioned Python stage
    assert "BatchEvalPython" not in plan  # never row-at-a-time UDFs


def test_stratified_sample_is_scan_stage_filter(spark):
    plan = _plan(spark, "stratified_sample")
    # membership = broadcast-joined rate dim + filter; no data shuffle
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan


def test_fuzzy_join_never_cartesian(spark):
    plan = _plan(spark, "fuzzy_join_names")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_weighted_sample_global_topk_no_sort_exchange(spark):
    plan = _plan(spark, "weighted_sample")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_table_profile_is_one_scan(spark):
    # C profiled columns must cost ONE table pass: nulls/min/max/exact
    # distincts all fold into a single aggregate (multi-count_distinct
    # compiles to one Expand), per-column rows come from an explode —
    # never a per-column df.agg rescan or a unionAll of frames.
    plan = _plan(spark, "table_profile")
    assert plan.count("Scan parquet") == 1
    assert "Expand" in plan
    assert "CartesianProduct" not in plan and "Union" not in plan


def test_dsir_model_join_is_broadcast(spark):
    # the per-(doc,bucket) counts join the ≤`buckets`-row model table
    # via broadcast; sort-merge is allowed ONLY for the bounded
    # full-outer model build (two ≤4096-row sides) and the final id
    # carry-join — a third SMJ means the gram join degraded.
    plan = _plan(spark, "dsir_select")
    assert "BroadcastHashJoin" in plan
    assert plan.count("SortMergeJoin") <= 2


def test_charlm_model_join_is_broadcast(spark):
    # the (doc, bigram) counts join the |alphabet|^2-row model via
    # broadcast: no sort-merge join may key on the gram column.
    plan = _plan(spark, "charlm_quality")
    assert "BroadcastHashJoin" in plan
    for line in plan.splitlines():
        if "SortMergeJoin" in line:
            assert "shingle" not in line


def test_histogram_quantiles_single_shuffle(spark):
    # integer-binned histogram: one groupBy shuffle on (group, bin);
    # quantile finish is a broadcast of the tiny histogram — never a
    # global sort (rangepartitioning) over the data.
    plan = _plan(spark, "price_histogram_quantiles")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in plan


def test_quality_train_model_joins_are_broadcast(spark):
    # the trained <=dim-row weight table must join the feature table as
    # a broadcast, never shuffle the corpus-side features to meet it
    plan = _plan(spark, "quality_train_eval")
    assert "BroadcastHashJoin" in plan
    # no cartesian anywhere in the training loop
    assert "CartesianProduct" not in plan


def test_pairwise_counts_no_cartesian_self_join(spark):
    # labels are paired inside each ballot row by a second explode of
    # its ranking, never by a cartesian pairing of ballots (was guarded
    # via the rank_elo_large [Q] until its r8 retirement — the property
    # belongs to the operator, so the guard drives pairwise_counts
    # directly at probe scale)
    from pyspark.sql import functions as F

    from sutro_spark.operators.elo import pairwise_counts

    ballots = spark.range(1000).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(4)),
            lambda i: F.concat(F.lit("m"), ((F.col("id") + i) % 20).cast("string")),
        ).alias("ranking")
    )
    plan = (
        pairwise_counts(ballots, "ranking")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan


def test_pairwise_counts_one_aggregate_no_full_outer_join(spark):
    # wins and ties are conditional counts of ONE grouped aggregate over
    # the ballot self-join: a single (winner, loser) grouping, and no
    # full outer join of a wins table with a ties table
    from sutro_spark.operators.elo import pairwise_counts

    ballots = spark.createDataFrame(
        [(["A", "B|C"],), (["B", "A"],)], "ranking array<string>"
    )
    df = pairwise_counts(ballots, "ranking")
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    aggregates = [
        ln for ln in logical.splitlines() if ln.lstrip(" :+-|").startswith("Aggregate ")
    ]
    assert len(aggregates) == 1
    physical = df._jdf.queryExecution().executedPlan().toString()
    assert "FullOuter" not in physical
    # partial + final halves of the one aggregate, nothing more
    assert physical.count("HashAggregate(keys=") == 2


def test_winnow_dedup_no_cartesian(spark):
    plan = _plan(spark, "winnow_dedup")
    assert "CartesianProduct" not in plan


def test_zorder_key_pure_projection(spark):
    # the layout key is scan-stage arithmetic: no shuffle, no join
    plan = _plan(spark, "zorder_key")
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_keyword_flags_scan_path_has_no_shuffle_or_join(spark):
    # small blocklists take the in-scan higher-order-function path:
    # a per-row projection — no Exchange, no Join, no Python.
    plan = _plan(spark, "keyword_flags")
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_incremental_rollup_never_scans_the_base_relation(spark):
    # the incremental path must aggregate rollup-partials + delta only;
    # q_rollup_incr builds its inputs from `orders`, so the guard here
    # is the unit-level one: a rollup DataFrame + changes DataFrame
    # merge plans exactly two aggregates and one union.
    from sutro_spark.operators.cdc import incremental_rollup

    rollup = spark.createDataFrame([("a", 1, 2)], "k string, n long, s long")
    changes = spark.createDataFrame([("a", 3, 1)], "k string, v long, op int")
    plan = (
        incremental_rollup(rollup, changes, ["k"], {"s": "v"})
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Union" in plan and "Join" not in plan


def test_ivfpq_pruned_adc_runs_only_on_survivors(spark):
    # round-7 restructure guard: the bucket-pruning join must FEED the
    # final ADC aggregate (survivors only), not filter its output — in
    # the executed plan nothing sits between the top rank Window and
    # the ADC HashAggregate except exchanges/sorts. If a Join reappears
    # there, the plan has regressed to full-candidate ADC + post-filter
    # and the pruning no longer saves executed work.
    from sutro_spark.operators.pq import ivfpq_pruned_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = ivfpq_pruned_topk(emb, emb.where("vec_id < 2"), k=3)
    lines = (
        df._jdf.queryExecution().executedPlan().toString().splitlines()
    )
    win = next(i for i, l in enumerate(lines) if "Window" in l)
    agg = next(
        i for i, l in enumerate(lines) if i > win and "HashAggregate" in l
    )
    assert not any("Join" in l for l in lines[win:agg]), "\n".join(
        lines[win:agg]
    )


def test_bm25_single_corpus_scan_and_topk_pushdown(spark):
    # bm25_topk materializes the per-doc (dl, hits) frame once
    # (localCheckpoint): the executed plan downstream must contain NO
    # parquet scans (three legs would otherwise each re-tokenize the
    # corpus) and must push the per-query top-k below the exchange
    # (WindowGroupLimit) instead of ranking the full candidate set.
    plan = _plan(spark, "bm25_topk")
    assert "Scan parquet" not in plan
    assert "WindowGroupLimit" in plan


def test_rrf_fusion_plan_is_jvm_side_with_grouplimit(spark):
    # the fusion stage: no Python nodes, top-k via WindowGroupLimit
    # (rank filter pushed into the sort), partial aggregation before
    # the fused-score exchange (map-side combine on (query, doc)).
    plan = _plan(spark, "hybrid_retrieval")
    assert "PythonUDF" not in plan and "MapInPandas" not in plan
    assert "WindowGroupLimit" in plan
    assert "partial_sum" in plan or "partial_count" in plan


def test_hard_negatives_no_corpus_side_shuffle(spark):
    # positives land on the anti-join's broadcast side: the miner adds
    # ZERO extra Exchange beyond what the upstream ANN already does.
    plan = _plan(spark, "hard_negatives")
    assert "BroadcastHashJoin LeftAnti" in plan or (
        "LeftAnti, BuildRight" in plan
    )
    assert "PythonUDF" not in plan


def test_gopher_and_repetition_are_map_only(spark):
    # r10: the Gopher gate is a single map-only scan — the per-row
    # sorted-gram run-length scan must never regress to the exploded
    # groupBy/window/join shape (the measured 1.35-exponent spill).
    # r16: the narrow-scan spread() may add ONE RoundRobinPartitioning
    # exchange (a no-op at real scan widths); key-partitioned
    # exchanges — the groupBy/window regression — stay forbidden.
    for name in ("gopher_quality", "repetition_profile"):
        plan = _plan(spark, name)
        n_ex = plan.count("Exchange")
        n_rr = plan.count("Exchange RoundRobinPartitioning")
        assert n_ex == n_rr <= 1, f"{name} shuffles:\n{plan[:1500]}"
        assert "Join" not in plan, f"{name} joins:\n{plan[:1500]}"
        assert "Scan parquet" in plan


def test_embedding_anisotropy_single_scan_dim_agg(spark):
    # one corpus scan; the per-dim sums shuffle carries dim keys with
    # map-side partial aggregation; the direction/denominator attach
    # by broadcast — never a corpus-side SortMergeJoin.
    plan = _plan(spark, "embedding_anisotropy")
    assert plan.count("Scan parquet") == 1, plan[:1500]
    assert "partial" in plan.lower()
    assert "SortMergeJoin" not in plan


def test_center_embeddings_broadcasts_the_sums_row(spark):
    plan = _plan(spark, "center_embeddings")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_exact_substr_no_cartesian_and_combinable_counts(spark):
    # r11: hash-prefilter + byte-verify must stay candidate-generation
    # shaped — semi-joins on hash/gram keys with partial (map-side
    # combinable) counts, never an all-pairs product; the span merge is
    # the only Window and it partitions by doc_id.
    plan = _plan(spark, "exact_substr_spans")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan
    assert "partial" in plan.lower()
    assert "PythonUDF" not in plan


def test_contaminated_spans_semi_joins_and_no_cartesian(spark):
    # r11: span-level decontamination must keep the candidate shape —
    # hash/gram semi-joins (broadcast for a benchmark-sized ref),
    # combinable aggs, no all-pairs product, no Python.
    plan = _plan(spark, "contaminated_spans")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan
    assert "PythonUDF" not in plan


def test_ivfpq_rescore_is_broadcast_shortlist_no_cartesian(spark):
    # r12: the exact rescore must join the raw corpus vectors to the
    # ADC shortlist via a BROADCAST of the (|queries| x rescore_k)
    # shortlist — pruning hash joins only, never an all-pairs product.
    # BroadcastNestedLoopJoins exist in BOTH plans (the |queries| x
    # coarse_k centroid probe, recomputed per referencing leg); the
    # guard is that rescoring adds ZERO on top of the base chain.
    plan = _plan(spark, "ivfpq_rescore")
    base = _plan(spark, "ivfpq_residual")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("BroadcastNestedLoopJoin") <= base.count(
        "BroadcastNestedLoopJoin"
    ), plan[:2000]


def test_strip_fixpoint_result_reads_materialized_checkpoint(spark):
    # the fixpoint loop localCheckpoints every pass: the RETURNED frame
    # must read the final pass's materialized blocks, not replay the
    # per-pass-doubling strip lineage — no parquet scan may survive in
    # its executed plan.
    for name in ("exact_substr_fixpoint", "contaminated_strip_fixpoint"):
        plan = _plan(spark, name)
        assert "Scan ExistingRDD" in plan, name
        assert "Scan parquet" not in plan, name


def test_ffd_pack_no_cartesian_bounded_python(spark):
    # r12: blocked FFD must be one range exchange + parallel windows +
    # ONE applyInPandas (FlatMapGroupsInPandas) per block — never an
    # Exchange SinglePartition for the global rank, never a product.
    plan = _plan(spark, "ffd_pack")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("FlatMapGroupsInPandas") == 1, plan[:2000]
    # with_row_id's rank must stay range-partitioned: the only allowed
    # SinglePartition is the final presentation orderBy's boundary
    assert "Exchange SinglePartition" not in plan.split("FlatMapGroupsInPandas")[1]


def test_mg_fold_no_python_no_cartesian(spark):
    # r12: the Misra-Gries fold is pure DataFrame algebra over a
    # localCheckpointed <= buckets*k-row summary — no Python stage, no
    # product; the heavy groupBy ran once at checkpoint time.
    plan = _plan(spark, "mg_heavy_hitters")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "PythonUDF" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_weighted_jaccard_posting_lists_no_cartesian(spark):
    # r12: the multiset variant must keep the set variant's inverted-
    # index shape — df-capped posting lists, partial (map-side
    # combinable) aggregation, no all-pairs product, no Python.
    plan = _plan(spark, "weighted_jaccard")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial" in plan.lower()
    assert "PythonUDF" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_wordpiece_walk_single_arrow_stage(spark):
    # r12: the greedy walk is exactly ONE Arrow-batched python stage
    # over the distinct-word table. r16: the tokenize+count shuffle
    # runs ONCE, eagerly, at the distinct-word localCheckpoint (shared
    # by vocab induction and the walk), so the returned plan reads the
    # materialized word table (Scan ExistingRDD) instead of carrying a
    # second copy of the corpus aggregation.
    plan = _plan(spark, "wordpiece_segment")
    assert plan.count("ArrowEvalPython") == 1, plan[:2000]
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan, plan[:2000]


def test_encoding_damage_is_shuffle_free_projection(spark):
    # r12: substitution-arithmetic detection must stay a per-row
    # projection — the only exchanges allowed are the presentation
    # orderBy's range partitioning and (r16) the narrow-scan spread's
    # RoundRobinPartitioning; no joins, no aggregation, no Python.
    plan = _plan(spark, "encoding_damage")
    assert "PythonUDF" not in plan
    assert "Join" not in plan
    assert "HashAggregate" not in plan
    assert plan.count("Exchange") - plan.count(
        "Exchange RoundRobinPartitioning"
    ) <= 1, plan[:1500]
    assert "hashpartitioning" not in plan, plan[:1500]


def test_pass_at_k_single_combinable_aggregation(spark):
    # r12: per-problem counts must be ONE map-side-combinable groupBy;
    # the falling-factorial folds are pure projections on top.
    plan = _plan(spark, "pass_at_k")
    assert "partial" in plan.lower()
    assert "PythonUDF" not in plan
    assert "Join" not in plan


def test_script_profile_is_shuffle_free_projection(spark):
    # r12: script composition must stay a per-row projection like
    # encoding_damage — only the presentation sort and (r16) the
    # narrow-scan spread's round-robin may exchange.
    plan = _plan(spark, "script_profile")
    assert "PythonUDF" not in plan
    assert "Join" not in plan
    assert "HashAggregate" not in plan
    assert plan.count("Exchange") - plan.count(
        "Exchange RoundRobinPartitioning"
    ) <= 1, plan[:1500]
    assert "hashpartitioning" not in plan, plan[:1500]


def test_unigram_segment_bounded_arrow_stages(spark):
    # r13: each Viterbi pass is ONE Arrow stage over the distinct-word
    # table; the EM round's pass ran EAGERLY during induction (its
    # bounded usage collect), so the returned plan carries exactly the
    # final pass's single Arrow stage; no all-pairs product. r16: the
    # tokenize+count shuffle runs ONCE, eagerly, at the distinct-word
    # localCheckpoint (shared by seed vocab, EM rounds and the final
    # pass), so the returned plan reads the materialized word table.
    plan = _plan(spark, "unigram_segment")
    assert plan.count("ArrowEvalPython") == 1, plan[:2000]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Scan ExistingRDD" in plan, plan[:2000]


def test_script_gate_is_shuffle_free_projection(spark):
    # r13: the nine-class gate stays a per-row projection like
    # script_profile — only the presentation sort may exchange.
    plan = _plan(spark, "script_gate")
    assert "PythonUDF" not in plan
    assert "Join" not in plan
    assert "HashAggregate" not in plan
    assert plan.count("Exchange") <= 1, plan[:1500]


def test_luhn_cards_is_shuffle_free_projection(spark):
    # r13: candidates + checksum + redaction fold are per-row HOF
    # arithmetic — only the presentation sort may exchange; no Python.
    plan = _plan(spark, "luhn_cards")
    assert "PythonUDF" not in plan
    assert "Join" not in plan
    assert "HashAggregate" not in plan
    assert plan.count("Exchange") <= 1, plan[:1500]


def test_ndcg_no_cartesian_combinable_aggs(spark):
    # r13: DCG/IDCG are combinable groupBys over equi-joins; the
    # discount table is a literal array — no Python, no cartesian.
    plan = _plan(spark, "ndcg")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "PythonUDF" not in plan
    assert "partial" in plan.lower()


def test_qdigest_quantiles_bounded_no_python(spark):
    # r13: the digest pipeline is pure set algebra on bounded tables —
    # no Python stages anywhere; the only window (the cumsum) runs on
    # the <= 3k-node digest, never the corpus.
    plan = _plan(spark, "qdigest_quantiles")
    assert "PythonUDF" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_psl_domain_is_shuffle_free_projection(spark):
    # r14: the PSL longest-match ladder is label-split + literal
    # IN-probes (constant-folded) — a per-row projection; only the
    # presentation sort may exchange. No joins: the snapshot lives as
    # literal arrays, not a lookup table.
    plan = _plan(spark, "psl_domain")
    assert "PythonUDF" not in plan
    assert "Join" not in plan
    assert "HashAggregate" not in plan
    assert plan.count("Exchange") <= 1, plan[:1500]


def test_bq_topk_integer_hamming_no_cartesian(spark):
    # r14: candidate generation must be the broadcast-scalar cross
    # pattern (bounded query codes against the corpus — the
    # similarity_topk adjudication), never CartesianProduct, and the
    # Hamming scan stays JVM-side (xor+popcount) with zero Python.
    plan = _plan(spark, "bq_topk")
    assert "CartesianProduct" not in plan
    assert "PythonUDF" not in plan
    assert "ArrowEvalPython" not in plan
    assert "BroadcastExchange" in plan  # query side broadcasts


def test_unigram_fertility_bounded_arrow_one_extra_shuffle(spark):
    # r14: exactly the unigram_segment Arrow budget (the DP over the
    # distinct-word table) — the per-group count adds map-side-
    # combinable shuffles, no new Python stages.
    plan = _plan(spark, "unigram_fertility")
    assert plan.count("ArrowEvalPython") <= 2
    assert "CartesianProduct" not in plan
    assert "partial" in plan.lower()  # map-side combine on the counts
