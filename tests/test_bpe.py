"""Distributed BPE merge induction (operators/bpe.py)."""

import pytest
from pyspark.sql import functions as F

from sutro_spark.operators.bpe import bpe_merges


def _corpus(spark, *texts):
    return spark.createDataFrame([(t,) for t in texts], "text string")


def test_classic_sennrich_example(spark):
    # 'lo' dominates: l-o and o-w tie at 6, lexicographic picks (l,o);
    # round 2 then merges (lo, w)
    df = _corpus(spark, "low lower lowest low low", "newer newest new low")
    out = {r.round: r for r in bpe_merges(df, rounds=2).collect()}
    assert (out[1].lhs, out[1].rhs, out[1].weight) == ("l", "o", 6)
    assert (out[2].lhs, out[2].rhs, out[2].weight) == ("lo", "w", 6)


def test_weighting_by_word_frequency(spark):
    # 'aa' appears 3 times as a word → pair (a,a) weight 3 beats (b,c)
    df = _corpus(spark, "aa aa aa bc")
    out = bpe_merges(df, rounds=1).collect()[0]
    assert (out.lhs, out.rhs, out.weight) == ("a", "a", 3)


def test_greedy_nonoverlapping_merge(spark):
    # 'aaaa' with pair (a,a): greedy left-to-right → (aa)(aa), so round
    # 2's top pair is (aa, aa), not (a, aa)
    df = _corpus(spark, "aaaa aaaa")
    out = {r.round: r for r in bpe_merges(df, rounds=2).collect()}
    assert (out[1].lhs, out[1].rhs) == ("a", "a")
    assert (out[2].lhs, out[2].rhs) == ("aa", "aa")


def test_odd_run_leaves_singleton(spark):
    # 'aaa' → greedy gives (aa)(a); round 2 merges (aa, a)
    df = _corpus(spark, "aaa aaa")
    out = {r.round: r for r in bpe_merges(df, rounds=2).collect()}
    assert (out[1].lhs, out[1].rhs) == ("a", "a")
    assert (out[2].lhs, out[2].rhs) == ("aa", "a")


def test_merged_symbol_participates_in_later_rounds(spark):
    df = _corpus(spark, "abc abc abc")
    out = {r.round: r for r in bpe_merges(df, rounds=2).collect()}
    assert (out[1].lhs, out[1].rhs) == ("a", "b")
    assert (out[2].lhs, out[2].rhs) == ("ab", "c")


def test_rounds_validation(spark):
    with pytest.raises(ValueError):
        bpe_merges(_corpus(spark, "x"), rounds=0)


def test_no_python_udfs_in_plan(spark):
    df = _corpus(spark, "low lower low")
    plan = bpe_merges(df, rounds=2)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_segment_applies_merges(spark):
    from sutro_spark.operators.bpe import bpe_segment

    df = _corpus(spark, "low lower lowest low low", "newer newest new low")
    seg = {r.w: r.subwords for r in bpe_segment(df, rounds=2).collect()}
    # after merges (l,o) then (lo,w): 'low' is one token, 'lower' = low+e+r
    assert seg["low"] == ["low"]
    assert seg["lower"] == ["low", "e", "r"]
    assert seg["new"] == ["n", "e", "w"]


def test_vocab_top_and_tiebreak(spark):
    from sutro_spark.operators.bpe import bpe_vocab

    df = _corpus(spark, "ab ab ab cd")
    out = bpe_vocab(df, rounds=1, top=3).collect()
    # merge (a,b): subword 'ab' occurs 3 times; 'c'/'d' once each,
    # lexicographic tie-break puts 'c' before 'd'
    assert (out[0].subword, out[0].occurrences, out[0].n_words) == ("ab", 3, 1)
    assert [r.subword for r in out[1:]] == ["c", "d"]


def test_exhausted_vocabulary_survives_extra_rounds(spark):
    from sutro_spark.operators.bpe import bpe_merges, bpe_segment

    # 'ab' fully merges after 1 round; rounds=3 must not annihilate
    # the vocabulary (regression: empty argmax × cross join → 0 rows)
    df = _corpus(spark, "ab ab")
    seg = bpe_segment(df, rounds=3).collect()
    assert len(seg) == 1 and seg[0].subwords == ["ab"]
    merges = bpe_merges(df, rounds=3).collect()
    assert [(m.round, m.lhs, m.rhs) for m in merges] == [(1, "a", "b")]


def test_checkpoint_boundary_preserves_merges(spark):
    # 26 deterministic merges on one alphabet word: round r merges the
    # length-r prefix with the next char (all pairs tie at weight 2,
    # lexicographic tie-break picks the prefix pair). Rounds 21+ cross
    # the localCheckpoint boundary at r=20 — results must be identical
    # to the untruncated lineage.
    word = "abcdefghijklmnopqrstuvwxyz"
    df = _corpus(spark, f"{word} {word}")
    out = {r.round: r for r in bpe_merges(df, rounds=25).collect()}
    assert len(out) == 25
    for r in range(1, 26):
        assert (out[r].lhs, out[r].rhs) == (word[:r], word[r]), r
        assert out[r].weight == 2


def test_plan_size_bounded_at_100_rounds(spark):
    # the lineage-truncation guarantee: with the per-round merge a
    # literal replace and a localCheckpoint every 20 rounds, the final
    # vocabulary's physical plan stays bounded by the checkpoint
    # interval no matter how many rounds ran. A 62-distinct-char word
    # yields one real merge per round (61 total, then early exhaust) —
    # so rounds=100 genuinely crosses five checkpoint boundaries. The
    # pre-fix formulation (lazy broadcast-crossJoin argmax) doubled
    # the plan every round: 2^100 nodes, dead in the planner.
    import string

    from sutro_spark.operators.bpe import bpe_segment

    df = _corpus(spark, string.ascii_letters + string.digits)

    def plan_len(rounds):
        seg = bpe_segment(df, rounds=rounds)
        return len(seg._jdf.queryExecution().executedPlan().toString())

    p45, p100 = plan_len(45), plan_len(100)
    assert p100 < 1.3 * p45, (p45, p100)


def test_early_exhaust_returns_partial_merges(spark):
    # 'ab' fully merges after 1 round; rounds=5 must return just that
    # one merge, not sentinel rows, and segmentation must be the fully
    # merged single symbol
    from sutro_spark.operators.bpe import bpe_segment

    df = _corpus(spark, "ab ab")
    out = bpe_merges(df, rounds=5).collect()
    assert [(r.round, r.lhs, r.rhs, r.weight) for r in out] == [(1, "a", "b", 2)]
    seg = bpe_segment(df, rounds=5).collect()
    assert seg[0].subwords == ["ab"]


def test_bpe_apply_frozen_merges_on_unseen_text(spark):
    """The deployment shape: merges trained on corpus A tokenize
    corpus B — merged pairs collapse wherever they appear, including
    inside words A never saw; everything else stays char-split."""
    from sutro_spark.operators.bpe import bpe_apply, bpe_merges

    train = spark.createDataFrame(
        [("low low low lower lowest",)], ["text"]
    )
    merges = [
        (r["lhs"], r["rhs"])
        for r in bpe_merges(train, rounds=2).orderBy("round").collect()
    ]
    # corpus dominated by 'low': merges are ('l','o') then ('lo','w')
    assert merges == [("l", "o"), ("lo", "w")]
    new = spark.createDataFrame(
        [
            (1, "low lower"),     # seen words: low->1, lower->3
            (2, "slow glow"),     # UNSEEN: s+low -> 2, g+low -> 2
            (3, "cat"),           # no merge applies: 3 chars
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in bpe_apply(new, merges).collect()}
    assert (rows[1]["n_words"], rows[1]["n_subwords"]) == (2, 4)
    assert (rows[2]["n_words"], rows[2]["n_subwords"]) == (2, 4)
    assert (rows[3]["n_words"], rows[3]["n_subwords"]) == (1, 3)
    assert rows[3]["tokens_per_word_milli"] == 3000
    # empty merge list degrades to character counting
    none = {r["doc_id"]: r for r in bpe_apply(new, []).collect()}
    assert none[3]["n_subwords"] == 3 and none[1]["n_subwords"] == 8


def test_bpe_apply_engine_equality_on_trained_table(spark):
    """Path equality: the Arrow canonical encoder and the expression
    replace-chain agree on tables produced by BPE training (each
    merge's operands come from strictly earlier merges)."""
    from sutro_spark.operators.bpe import bpe_apply, bpe_merges

    train = spark.createDataFrame(
        [("the cat sat on the mat the bat",), ("that hat is that cat",)],
        ["text"],
    )
    merges = [
        (r["lhs"], r["rhs"])
        for r in bpe_merges(train, rounds=8).orderBy("round").collect()
    ]
    assert len(merges) >= 4
    new = spark.createDataFrame(
        [(1, "that that chat"), (2, "thematic bathmat"), (3, "zzz")],
        ["doc_id", "text"],
    )
    key = lambda rows: sorted(
        (r["doc_id"], r["n_words"], r["n_subwords"], r["tokens_per_word_milli"])
        for r in rows
    )
    expr = key(bpe_apply(new, merges, engine="expr").collect())
    arrow = key(bpe_apply(new, merges, engine="arrow").collect())
    assert expr == arrow


def test_bpe_apply_production_scale_merge_table(spark):
    """auto routes a >256-merge table to the Arrow encoder (no 1k-deep
    expression chain); results match the expr path on the effective
    merges (the padding pairs reference symbols that never form)."""
    from sutro_spark.operators.bpe import _EXPR_MERGE_LIMIT, bpe_apply

    real = [("l", "o"), ("lo", "w"), ("w", "e"), ("we", "r")]
    inert = [(f"q{i}", f"r{i}") for i in range(1200)]  # 2-char symbols never form
    big = real + inert
    assert len(big) > _EXPR_MERGE_LIMIT
    new = spark.createDataFrame(
        [(1, "low lower"), (2, "slow glow"), (3, "cat")], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: (r["n_words"], r["n_subwords"])
        for r in bpe_apply(new, big).collect()  # auto -> arrow
    }
    want = {
        r["doc_id"]: (r["n_words"], r["n_subwords"])
        for r in bpe_apply(new, real, engine="expr").collect()
    }
    assert got == want


def test_bpe_apply_expr_bound_and_engine_validation(spark):
    from sutro_spark.operators.bpe import _EXPR_MERGE_LIMIT, bpe_apply

    df = spark.createDataFrame([(1, "ab")], ["doc_id", "text"])
    too_many = [(f"a{i}", f"b{i}") for i in range(_EXPR_MERGE_LIMIT + 1)]
    with pytest.raises(ValueError, match="expression-chain bound"):
        bpe_apply(df, too_many, engine="expr")
    with pytest.raises(ValueError, match="engine must be"):
        bpe_apply(df, [], engine="nope")


def test_python_trainer_route_matches_distributed(spark, monkeypatch):
    # r17: bounded vocabularies train their merge rounds in Python over
    # the collected word table; this pins bit-identical merges AND the
    # segmented vocabulary against the distributed per-round TakeOrdered
    # route, on a corpus engineered with count ties (lexicographic
    # tie-break) and overlapping runs (greedy left-to-right replace).
    from sutro_spark.operators import bpe

    docs = spark.createDataFrame(
        [
            (1, "aaa abab abab baba"),
            (2, "ccc ccc dd dd aaa"),
            (3, "abab cdcd cdcd x"),
            (4, "dd baba cdcd aaa aaa"),
        ],
        ["doc_id", "text"],
    )
    fast_m = [tuple(r) for r in bpe.bpe_merges(docs, rounds=8).orderBy("round").collect()]
    fast_seg = {
        r["w"]: (r["weight"], list(r["subwords"]))
        for r in bpe.bpe_segment(docs, rounds=8).collect()
    }
    monkeypatch.setattr(bpe, "_DRIVER_VOCAB_ROWS", -1)  # force distributed
    slow_m = [tuple(r) for r in bpe.bpe_merges(docs, rounds=8).orderBy("round").collect()]
    slow_seg = {
        r["w"]: (r["weight"], list(r["subwords"]))
        for r in bpe.bpe_segment(docs, rounds=8).collect()
    }
    assert fast_m == slow_m
    assert fast_seg == slow_seg


def test_bpe_merges_releases_its_checkpoint(spark, monkeypatch):
    # the distributed route checkpoints the word table; bpe_merges
    # returns only the merge table, so that checkpoint must not stay
    # pinned after the call (rounds=3 ends between rotations)
    from sutro_spark.operators import bpe

    monkeypatch.setattr(bpe, "_DRIVER_VOCAB_ROWS", 0)
    assert 3 % bpe._CHECKPOINT_EVERY != 0
    df = _corpus(spark, "low lower lowest low low", "newer newest new low")
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    for _ in range(3):
        assert bpe.bpe_merges(df, rounds=3).count() == 3
    # ids, not a count: a frame an earlier test dropped may be garbage
    # collected meanwhile, which frees its checkpoint and lowers the count
    assert set(jsc.getPersistentRDDs().keys()) - before == set()


def test_bpe_segment_blocks_go_with_clear_cache(spark, monkeypatch):
    # on the distributed route the returned segmentation is a lazy plan
    # over the trainer's last vocabulary table; clearCache must reach its
    # blocks, and the plan must still run from its lineage afterwards
    from sutro_spark.operators import bpe

    monkeypatch.setattr(bpe, "_DRIVER_VOCAB_ROWS", -1)  # force distributed
    df = _corpus(spark, "low lower lowest low low", "newer newest new low")
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    seg = bpe.bpe_segment(df, rounds=3)
    rows = sorted((r["w"], list(r["subwords"])) for r in seg.collect())
    spark.catalog.clearCache()
    assert set(jsc.getPersistentRDDs().keys()) - before == set()
    assert sorted((r["w"], list(r["subwords"])) for r in seg.collect()) == rows


def test_long_tokens_take_the_distributed_route(spark, monkeypatch):
    # a few long distinct tokens are few rows but many bytes: the byte
    # budget, not the row gate, sends them to the distributed route,
    # which learns the same merges as the Python route
    import random

    from sutro_spark.operators import bpe

    rng = random.Random(7)
    words = ["".join(rng.choice("ACGT") for _ in range(500)) for _ in range(4)]
    df = _corpus(spark, " ".join(words[:2]), " ".join(words[2:] + words[:1]))
    merges, _, ckpt = bpe._train(df, "text", 5)
    assert ckpt is None  # under the default budget: the Python route
    # 4 rows, about 6 KB of wrapped symbols
    monkeypatch.setattr(bpe, "_DRIVER_VOCAB_BYTES", 4096)
    assert len(words) <= bpe._DRIVER_VOCAB_ROWS
    distributed, _, ckpt = bpe._train(df, "text", 5)
    assert ckpt is not None
    ckpt.unpersist()
    assert distributed == merges and len(merges) == 5


def test_distributed_rotations_do_not_nest_cached_plans(spark, monkeypatch):
    # every 20-round rotation is rebuilt from the cached word table plus
    # the merges so far, never from the rotation before it, and the
    # result reads the word table: its plan holds one cached relation,
    # however many rotations ran (61 merges here cross three)
    import string

    from sutro_spark.operators import bpe

    monkeypatch.setattr(bpe, "_DRIVER_VOCAB_ROWS", -1)  # force distributed
    word = string.ascii_letters + string.digits
    df = _corpus(spark, f"{word} {word}")
    seg = bpe.bpe_segment(df, rounds=100)
    plan = seg._jdf.queryExecution().executedPlan().toString()
    cached = [ln for ln in plan.splitlines() if ln.lstrip(" :+-").startswith("InMemoryRelation")]
    assert len(cached) == 1, plan
    # the 61 merges fold the word into one symbol
    ((w, subwords),) = [(r["w"], list(r["subwords"])) for r in seg.collect()]
    assert (w, subwords) == (word, [word])
    spark.catalog.clearCache()
