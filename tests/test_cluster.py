"""Connected-components clustering (operators/cluster.py)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from sutro_spark.operators.cluster import connected_components, dedup_clusters


def _uf_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Brute-force union-find reference: node -> min id of component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _cc_dict(spark, edges: list[tuple[int, int]]) -> dict[int, int]:
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    rows = connected_components(df).collect()
    return {r["node"]: r["component"] for r in rows}


def test_chain_and_island(spark):
    # chain 1-2-3 plus island 10-11; transitive closure required
    got = _cc_dict(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {2: 1, 3: 1, 11: 10}  # roots/singletons absent


def test_long_path_needs_multiple_rounds(spark):
    # a 16-node path with shuffled ids — diameter 15 defeats any
    # single-round min-propagation; large/small-star must still converge
    ids = [37, 4, 91, 12, 55, 2, 78, 31, 66, 9, 44, 83, 20, 71, 5, 60]
    edges = list(zip(ids, ids[1:]))
    got = _cc_dict(spark, edges)
    want = _uf_components(edges)
    full = {n: got.get(n, n) for n in ids}
    assert full == {n: want[n] for n in ids}


def test_random_graph_matches_union_find(spark):
    rng = random.Random(7)
    nodes = list(range(1, 61))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(45)]
    edges = [(a, b) for a, b in edges if a != b]
    got = _cc_dict(spark, edges)
    want = _uf_components(edges)
    touched = {n for e in edges for n in e}
    assert {n: got.get(n, n) for n in touched} == want


def test_dedup_clusters_labels_and_representatives(spark):
    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 7, 10, 11]], "doc_id long")
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    rows = {r["doc_id"]: r for r in dedup_clusters(docs, pairs).collect()}
    assert rows[1]["cluster_id"] == 1 and rows[1]["is_representative"] == 1
    assert rows[2]["cluster_id"] == 1 and rows[2]["is_representative"] == 0
    assert rows[3]["cluster_size"] == 3
    assert rows[7]["cluster_id"] == 7 and rows[7]["cluster_size"] == 1
    assert rows[10]["is_representative"] == 1 and rows[11]["cluster_id"] == 10
    # exactly one representative per cluster
    reps = (
        dedup_clusters(docs, pairs)
        .groupBy("cluster_id")
        .agg(F.sum("is_representative").alias("r"))
        .collect()
    )
    assert all(r["r"] == 1 for r in reps)


def test_pagerank_star_graph(spark):
    from pyspark.sql import functions as F
    from sutro_spark.operators.cluster import pagerank

    # undirected star: hub 0 - leaves 1..4
    und = [(0, i) for i in range(1, 5)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src bigint, dst bigint"
    )
    pr = {r["node"]: r["rank"] for r in pagerank(edges, iters=3).collect()}
    assert len(pr) == 5
    # hub concentrates mass; leaves are symmetric → identical ranks
    leaf_ranks = {pr[i] for i in range(1, 5)}
    assert len(leaf_ranks) == 1
    assert pr[0] > pr[1]
    # integer mass is conserved up to floor-division loss
    total = sum(pr.values())
    assert 0.99 * 10**12 < total <= 10**12
    # deterministic across runs (exact integers, no float drift)
    pr2 = {r["node"]: r["rank"] for r in pagerank(edges, iters=3).collect()}
    assert pr == pr2


def test_leakage_safe_split_cluster_integrity(spark):
    from sutro_spark.operators.cluster import leakage_safe_split

    docs = spark.createDataFrame([(i,) for i in range(1, 9)], "doc_id long")
    # components: {1,2,3}, {4,5}, singletons 6,7,8
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "id_a long, id_b long"
    )
    out = leakage_safe_split(docs, pairs).collect()
    assert len(out) == 8
    by_cluster: dict = {}
    for r in out:
        by_cluster.setdefault(r.cluster_id, set()).add(r.split)
    # every member of a cluster lands in the SAME split
    assert all(len(s) == 1 for s in by_cluster.values())
    sizes = {r.cluster_id: r.cluster_size for r in out}
    assert sizes[1] == 3 and sizes[4] == 2 and sizes[6] == 1


def test_leakage_safe_split_custom_shares(spark):
    from sutro_spark.operators.cluster import leakage_safe_split

    docs = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    out = leakage_safe_split(docs, pairs, splits={"a": 1, "b": 1}).collect()
    got = {r.split for r in out}
    assert got == {"a", "b"}


def test_propagate_cluster_labels_semantics(spark):
    from sutro_spark.operators.cluster import propagate_cluster_labels

    assignments = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 20), (5, 30), (6, 30)],
        ["id", "cluster"],
    )
    labels = spark.createDataFrame(
        [(1, "en"), (2, "de"), (3, "en"), (5, "fr")], ["id", "label"]
    )
    out = {
        r["id"]: (r["label"], r["provenance"])
        for r in propagate_cluster_labels(assignments, labels).collect()
    }
    assert out[1] == ("en", "direct")
    assert out[2] == ("de", "direct")  # direct label survives majority
    assert out[4] == (None, "none")  # fully unlabeled cluster
    assert out[5] == ("fr", "direct")
    assert out[6] == ("fr", "propagated")


def test_propagate_cluster_labels_tie_breaks_smallest(spark):
    from sutro_spark.operators.cluster import propagate_cluster_labels

    assignments = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10)], ["id", "cluster"]
    )
    labels = spark.createDataFrame([(1, "zz"), (2, "aa")], ["id", "label"])
    out = {
        r["id"]: r["label"]
        for r in propagate_cluster_labels(assignments, labels).collect()
    }
    assert out[3] == "aa"  # 1-1 tie -> lexicographically smallest


def _n_persistent(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_connected_components_releases_superseded_checkpoints(spark):
    from sutro_spark.operators.cluster import connected_components

    # a 64-node chain needs several large-star/small-star rounds;
    # without per-round release, every round leaves one pinned RDD
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a long, id_b long"
    )
    before = _n_persistent(spark)
    cc = connected_components(edges)
    rows = cc.collect()
    after = _n_persistent(spark)
    # exactly the final converged frame may remain pinned
    assert after - before <= 1, (before, after)
    assert {r.component for r in rows} == {0}
    from sutro_spark.session import release_local_checkpoint

    release_local_checkpoint(cc)


def test_mmr_releases_working_checkpoints(spark):
    from sutro_spark.operators.retrieval import mmr_rerank

    cand = spark.createDataFrame(
        [(1, i, i) for i in range(1, 7)],
        "query_id long, doc_id long, rank long",
    )
    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(1, 7)],
        "vec_id long, embedding array<double>",
    )
    before = _n_persistent(spark)
    out = mmr_rerank(cand, vecs, k=4)
    assert out.count() == 4
    after = _n_persistent(spark)
    # only the final selected frame survives the greedy loop
    assert after - before <= 1, (before, after)


def test_triangle_count_known_graphs(spark):
    from sutro_spark.operators.cluster import triangle_count

    # K4: 4 triangles, 6 edges, wedges = 4 * C(3,2) = 12, coeff = 1.0
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    r = triangle_count(spark.createDataFrame(k4, ["src", "dst"])).first()
    assert (r["n_nodes"], r["n_edges"], r["n_wedges"], r["n_triangles"]) == (
        4, 6, 12, 4,
    )
    assert r["clustering_coeff"] == 1.0
    # path graph 0-1-2-3: no triangles, 2 wedges
    path = [(0, 1), (1, 2), (2, 3)]
    r = triangle_count(spark.createDataFrame(path, ["src", "dst"])).first()
    assert (r["n_triangles"], r["n_wedges"]) == (0, 2)
    assert r["clustering_coeff"] == 0.0
    # star K1,5: hub degree 5, no triangles; orientation must not blow up
    star = [(0, i) for i in range(1, 6)]
    r = triangle_count(spark.createDataFrame(star, ["src", "dst"])).first()
    assert (r["n_triangles"], r["n_wedges"]) == (0, 10)


def test_triangle_count_canonicalization(spark):
    from sutro_spark.operators.cluster import triangle_count

    # duplicates, reversed copies, and self-loops collapse: the graph
    # is one triangle
    messy = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 1), (1, 2)]
    r = triangle_count(spark.createDataFrame(messy, ["src", "dst"])).first()
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (3, 3, 1)
    assert r["clustering_coeff"] == 1.0


def test_triangle_count_empty(spark):
    from sutro_spark.operators.cluster import triangle_count

    empty = spark.createDataFrame([], "src long, dst long")
    r = triangle_count(empty).first()
    assert (r["n_nodes"], r["n_edges"], r["n_wedges"], r["n_triangles"]) == (
        0, 0, 0, 0,
    )
    assert r["clustering_coeff"] is None


def test_kcore_extracts_dense_part(spark):
    from sutro_spark.operators.cluster import kcore

    # K4 (every node degree 3) + a pendant chain hanging off node 0:
    # the 3-core is exactly the K4
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    chain = [(0, 10), (10, 11), (11, 12)]
    df = spark.createDataFrame(k4 + chain, ["src", "dst"])
    rows = {r["node"]: r for r in kcore(df, k=3, rounds=4).collect()}
    assert set(rows) == {0, 1, 2, 3}
    assert all(r["degree"] == 3 for r in rows.values())
    assert all(r["converged"] for r in rows.values())


def test_kcore_budget_honesty(spark):
    from sutro_spark.operators.cluster import kcore

    # path 0-1-2-3-4-5 has an empty 2-core, but peeling takes 3
    # rounds; with rounds=2 the op must admit non-convergence
    path = [(i, i + 1) for i in range(5)]
    df = spark.createDataFrame(path, ["src", "dst"])
    partial = kcore(df, k=2, rounds=2).collect()
    assert len(partial) == 2  # nodes 2,3 still standing
    assert all(not r["converged"] for r in partial)
    full = kcore(df, k=2, rounds=4).collect()
    assert full == []  # empty core, loop converged and emptied


def test_kcore_validation(spark):
    import pytest

    from sutro_spark.operators.cluster import kcore

    with pytest.raises(ValueError):
        kcore(None, k=0)


def test_incremental_components_equals_from_scratch(spark):
    from sutro_spark.operators.cluster import (
        connected_components,
        incremental_components,
    )

    old = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21)], ["id_a", "id_b"]
    )
    # new batch: grows a component, MERGES two old ones, adds a new one
    new = spark.createDataFrame(
        [(3, 4), (11, 20), (30, 31)], ["id_a", "id_b"]
    )
    labels = connected_components(old)
    inc = {
        (r["node"], r["component"])
        for r in incremental_components(labels, new).collect()
    }
    full = {
        (r["node"], r["component"])
        for r in connected_components(old.unionByName(new)).collect()
    }
    assert inc == full
    # the merge took the smaller root: 10 <- {10, 11, 20, 21}
    assert (21, 10) in inc and (20, 10) in inc


def test_incremental_components_idempotent_on_empty_batch(spark):
    from sutro_spark.operators.cluster import (
        connected_components,
        incremental_components,
    )

    old = spark.createDataFrame([(1, 2), (5, 6)], ["id_a", "id_b"])
    labels = connected_components(old)
    empty = spark.createDataFrame([], "id_a long, id_b long")
    again = {
        (r["node"], r["component"])
        for r in incremental_components(labels, empty).collect()
    }
    assert again == {
        (r["node"], r["component"]) for r in labels.collect()
    }


def test_hits_hub_authority_separation(spark):
    """Kleinberg's mutual reinforcement on a directed star-fan: the
    node linking everything is the top hub (1000 milli), the most
    linked-to node the top authority; pure sources/sinks score 0 on
    the other side; everything exact integers."""
    from sutro_spark.operators.cluster import hits_scores

    edges = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 10), (2, 11), (3, 10)],
        ["src", "dst"],
    )
    got = {
        r["node"]: (r["hub_milli"], r["authority_milli"])
        for r in hits_scores(edges, rounds=2).collect()
    }
    assert got[1] == (1000, 0)
    assert got[10] == (0, 1000)
    # ranking: hub 1 > 2 > 3; authority 10 > 11 > 12
    assert got[1][0] > got[2][0] > got[3][0] > 0
    assert got[10][1] > got[11][1] > got[12][1] > 0
    # checkpointed variant is identical and leaves no extra blocks
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    got_ck = {
        r["node"]: (r["hub_milli"], r["authority_milli"])
        for r in hits_scores(edges, rounds=2, checkpoint=True).collect()
    }
    assert got_ck == got
    import pytest

    with pytest.raises(ValueError, match="rounds"):
        hits_scores(edges, rounds=0)


def test_hits_empty_and_degenerate(spark):
    from sutro_spark.operators.cluster import hits_scores

    empty = spark.createDataFrame([], "src long, dst long")
    assert hits_scores(empty).count() == 0
    # single edge: both endpoints max out their one role
    one = spark.createDataFrame([(1, 2)], ["src", "dst"])
    got = {
        r["node"]: (r["hub_milli"], r["authority_milli"])
        for r in hits_scores(one).collect()
    }
    assert got == {1: (1000, 0), 2: (0, 1000)}


def test_label_propagation_separates_bridged_cliques(spark):
    """Two 4-cliques joined by one bridge: connected_components sees
    ONE component; LPA separates the two dense communities. Smallest-
    label tie-break makes each clique's minimum node its community."""
    from sutro_spark.operators.cluster import (
        connected_components,
        label_propagation,
    )

    cl1 = [(a, b) for a in range(4) for b in range(4) if a != b]
    cl2 = [(a, b) for a in range(10, 14) for b in range(10, 14) if a != b]
    edges = spark.createDataFrame(cl1 + cl2 + [(3, 10), (10, 3)], ["src", "dst"])
    got = {
        r["node"]: r["community"]
        for r in label_propagation(edges, rounds=3).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 10: 10, 11: 10, 12: 10, 13: 10}
    # one CC component (star edges only -> 7 non-root rows)
    assert connected_components(edges.select(
        edges.src.alias("id_a"), edges.dst.alias("id_b"))).count() == 7
    # checkpointed path identical
    got_ck = {
        r["node"]: r["community"]
        for r in label_propagation(edges, rounds=3, checkpoint=True).collect()
    }
    assert got_ck == got
    import pytest

    with pytest.raises(ValueError, match="rounds"):
        label_propagation(edges, rounds=0)


def test_barrier_reliable_mode_routes_to_checkpoint_dir(spark, tmp_path, monkeypatch):
    # r17 (VERDICT r16 #4): with SUTRO_SPARK_CHECKPOINT_DIR set, every
    # operator barrier becomes a RELIABLE checkpoint (survives executor
    # loss on a real cluster); results are unchanged and files land in
    # the directory. Unsetting restores localCheckpoint — no files.
    import os

    from sutro_spark.operators.cluster import connected_components

    ckdir = str(tmp_path / "ck")
    monkeypatch.setenv("SUTRO_SPARK_CHECKPOINT_DIR", ckdir)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(31)], "id_a long, id_b long"
    )
    rows = connected_components(edges).collect()
    # 32-node chain: every node except the root labels to component 0
    assert {r.component for r in rows} == {0} and len(rows) == 31
    n_files = sum(len(fs) for _, _, fs in os.walk(ckdir))
    assert n_files > 0, "reliable mode must write checkpoint files"


def test_checkpoint_blocks_reach_steady_state_across_passes(spark):
    # r17 (VERDICT r16 #4 'Done' criterion): two passes over a set of
    # checkpoint-heavy builders in ONE session must not grow the pinned
    # RDD count pass-over-pass — releases (superseded rounds, discarded
    # word tables) keep the session at a bounded steady state. The
    # with_row_id persist is cleared by the bench's clearCache, which
    # the pass replicates.
    from sutro_spark.operators.bpe import bpe_merges
    from sutro_spark.operators.cluster import connected_components
    from sutro_spark.operators.pq import ivfpq_prune_stats
    from sutro_spark.operators.retrieval import mmr_rerank

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(31)], "id_a long, id_b long"
    )
    docs = spark.createDataFrame(
        [(i, "ab ab ba" * (1 + i % 3)) for i in range(40)],
        ["doc_id", "text"],
    )
    cand = spark.createDataFrame(
        [(1, i, i) for i in range(1, 7)], "query_id long, doc_id long, rank long"
    )
    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(1, 7)],
        "vec_id long, embedding array<double>",
    )
    # IVF-PQ checkpoints the residual corpus, its query distance tables
    # and its codes
    emb = spark.createDataFrame(
        [(i, [0.8 if d % 4 == i % 4 else 0.05 * ((i * 7 + d) % 3) for d in range(16)])
         for i in range(24)],
        "vec_id long, embedding array<double>",
    )
    ivf = dict(k=3, coarse_k=4, nprobe=2, m=4, n_codes=4, dim=16)

    def one_pass():
        connected_components(edges).collect()
        bpe_merges(docs, rounds=3).collect()
        mmr_rerank(cand, vecs, k=4).count()
        # released at its own final action, not at the next JVM garbage
        # collection (which would also keep the pass-over-pass count level)
        before = _n_persistent(spark)
        ivfpq_prune_stats(emb, emb.where("vec_id < 4"), **ivf).collect()
        assert _n_persistent(spark) <= before
        spark.catalog.clearCache()

    one_pass()
    after1 = _n_persistent(spark)
    one_pass()
    after2 = _n_persistent(spark)
    assert after2 - after1 <= 1, (after1, after2)
