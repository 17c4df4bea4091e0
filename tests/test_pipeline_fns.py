"""Training-pipeline functions: deterministic sampling/splits, chunking,
PII redaction. All are pure projections — the tests assert semantics AND
that the plans stay shuffle-free (the 100 TB property)."""

import pytest
from pyspark.sql import functions as F

from sutro_spark.functions.sampling import deterministic_sample, hash_bucket, hash_split
from sutro_spark.functions.text import chunk_text, redact_pii


def _no_exchange(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_hash_split_assigns_everyone_deterministically(documents):
    out = hash_split(documents, "doc_id")
    assert out.where(F.col("split").isNull()).count() == 0
    a = {r["doc_id"]: r["split"] for r in out.collect()}
    b = {r["doc_id"]: r["split"] for r in hash_split(documents, "doc_id").collect()}
    assert a == b
    # 98/1/1 shares: train dominates, every named split non-degenerate
    # at 500 docs is not guaranteed for val/test, but train must be ~490
    n = documents.count()
    assert a and sum(1 for s in a.values() if s == "train") > 0.9 * n
    _no_exchange(out)


def test_hash_split_consistent_across_tables(documents, spark):
    # same key ⇒ same split in ANY table derived from it (no leakage)
    other = documents.select("doc_id", F.lit("x").alias("payload"))
    a = {r["doc_id"]: r["split"] for r in hash_split(documents, "doc_id").collect()}
    b = {r["doc_id"]: r["split"] for r in hash_split(other, "doc_id").collect()}
    assert a == b


def test_hash_split_rejects_bad_shares(documents):
    with pytest.raises(ValueError):
        hash_split(documents, "doc_id", {"a": 0, "b": 0})
    with pytest.raises(ValueError):
        hash_split(documents, "doc_id", {"a": -1, "b": 2})


def test_deterministic_sample_rate_and_stability(documents):
    n = documents.count()
    s = deterministic_sample(documents, 20, "doc_id")
    k = s.count()
    assert k == deterministic_sample(documents, 20, "doc_id").count()
    assert 0.1 * n < k < 0.35 * n  # ~20% with hash noise
    # sample at 50 is a superset of sample at 20 (same salt ⇒ nested)
    ids20 = {r["doc_id"] for r in s.collect()}
    ids50 = {r["doc_id"] for r in deterministic_sample(documents, 50, "doc_id").collect()}
    assert ids20 <= ids50
    _no_exchange(s)


def test_hash_bucket_range(documents):
    rows = documents.select(hash_bucket("doc_id", buckets=7).alias("b")).collect()
    assert {r["b"] for r in rows} <= set(range(7))


def test_chunk_text_reconstructs_documents(spark):
    df = spark.createDataFrame(
        [(1, "a" * 10), (2, "x" * 300), (3, "short")], ["doc_id", "text"]
    )
    out = chunk_text(df, size=128, overlap=32)
    rows = sorted(
        (r["doc_id"], r["chunk_id"], r["chunk"]) for r in out.collect()
    )
    by_doc = {}
    for doc, cid, chunk in rows:
        assert len(chunk) <= 128
        by_doc.setdefault(doc, []).append((cid, chunk))
    originals = {r["doc_id"]: r["text"] for r in df.collect()}
    stride = 128 - 32
    for doc, chunks in by_doc.items():
        chunks.sort()
        assert [c[0] for c in chunks] == list(range(len(chunks)))
        rebuilt = chunks[0][1] + "".join(c[1][32:] for c in chunks[1:])
        assert rebuilt == originals[doc]
        # every chunk except the last starts exactly `stride` later
        assert len(chunks) == max(0, (len(originals[doc]) - 1) // stride) + 1


def test_chunk_text_empty_and_validation(spark):
    df = spark.createDataFrame([(1, "")], ["doc_id", "text"])
    assert chunk_text(df).count() == 0
    with pytest.raises(ValueError):
        chunk_text(df, size=32, overlap=32)


def test_chunk_text_no_shuffle(documents):
    _no_exchange(chunk_text(documents))


def test_redact_pii_counts_and_scrubs(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at alice.smith+x@corp.example.com or 555-123-4567 ok"),
            (2, "no pii here"),
            (3, "two mails a@b.io c@d.org and 555-12-34 (not a phone)"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert out[1]["n_email"] == 1 and out[1]["n_phone"] == 1
    assert "[EMAIL]" in out[1]["redacted"] and "[PHONE]" in out[1]["redacted"]
    assert "alice" not in out[1]["redacted"]
    assert out[2]["n_email"] == 0 and out[2]["n_phone"] == 0
    assert out[2]["redacted"] == "no pii here"
    assert out[3]["n_email"] == 2 and out[3]["n_phone"] == 0
    _no_exchange(redact_pii(df))


def test_term_topk_counts_and_ties(spark):
    from sutro_spark.functions.text import term_topk

    df = spark.createDataFrame(
        [(1, "a b a"), (2, "b c\tA"), (3, None)],
        "doc_id long, text string",
    )
    rows = term_topk(df, k=2).collect()
    # a: 3 occurrences in 2 docs (case-folded); b: 2 in 2 docs;
    # tie-break on term would order b before c at the boundary
    assert [(r["term"], r["occurrences"], r["doc_freq"]) for r in rows] == [
        ("a", 3, 2),
        ("b", 2, 2),
    ]


def test_chunk_reassemble_round_trip(spark):
    from sutro_spark.functions.text import chunk_text, reassemble_text

    docs = spark.createDataFrame(
        [(1, "x" * 300), (2, "short"), (3, "a" * 128), (4, "b" * 129)],
        "doc_id long, text string",
    )
    chunks = chunk_text(docs, size=128, overlap=32)
    rebuilt = reassemble_text(chunks, overlap=32)
    joined = rebuilt.join(docs.withColumnRenamed("text", "orig"), "doc_id")
    rows = joined.collect()
    assert len(rows) == 4
    assert all(r["text"] == r["orig"] for r in rows)


def test_label_centroids_norms(spark):
    from sutro_spark.operators.similarity import label_centroids

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (2, [0.0, 1.0], 0),
            (3, [2.0, 2.0], 1),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    rows = {r["label"]: r for r in label_centroids(df).collect()}
    # label 0 centroid (0.5, 0.5) -> norm sqrt(0.5); label 1 -> sqrt(8)
    assert rows[0]["n_vecs"] == 2 and abs(rows[0]["centroid_norm"] - 0.707107) < 1e-6
    assert rows[1]["n_vecs"] == 1 and abs(rows[1]["centroid_norm"] - 2.828427) < 1e-6


def test_stratified_sample_rates_and_default(documents, spark):
    from sutro_spark.functions.sampling import stratified_sample

    total = documents.groupBy("lang").count().collect()
    by_lang = {r["lang"]: r["count"] for r in total}
    # rate 0 drops a stratum entirely; absent strata keep default 100
    out = stratified_sample(documents, "doc_id", "lang", {"en": 0})
    kept = {r["lang"]: r["count"] for r in out.groupBy("lang").count().collect()}
    assert "en" not in kept
    for lang, n in by_lang.items():
        if lang != "en":
            assert kept[lang] == n
    # DataFrame-valued rates match the mapping path exactly
    rates_df = spark.createDataFrame([("en", 30), ("es", 60)], "lang string, pct int")
    a = stratified_sample(documents, "doc_id", "lang", {"en": 30, "es": 60})
    b = stratified_sample(documents, "doc_id", "lang", rates_df)
    assert a.select("doc_id").exceptAll(b.select("doc_id")).count() == 0
    assert a.count() == b.count()
    # sampling is a subset of the stratum, roughly at the rate
    n_en = a.where(F.col("lang") == "en").count()
    assert 0 < n_en < by_lang["en"]


def test_percentile_filter_keeps_top_fraction(spark):
    from sutro_spark.operators.quality import percentile_filter

    rows = [("g", i, float(i % 50)) for i in range(100)] + [
        ("h", i, float(i)) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "grp string, doc_id int, score double")
    kept = percentile_filter(
        df, "score", partition_column="grp", id_column="doc_id", keep_top_frac=0.25
    )
    got = kept.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"), F.min("score").alias("lo")
    ).collect()
    by = {r["grp"]: r for r in got}
    # percent_rank >= 0.75 keeps the top quarter (ties broken by id)
    assert by["h"]["n"] == 3 and by["h"]["lo"] == 7.0
    assert by["g"]["n"] == 25
    # every kept row outranks every dropped row under (score, id) order
    dropped = df.join(kept.select("grp", "doc_id"), ["grp", "doc_id"], "left_anti")
    lo = kept.groupBy("grp").agg(F.min(F.struct("score", "doc_id")).alias("k"))
    hi = dropped.groupBy("grp").agg(F.max(F.struct("score", "doc_id")).alias("d"))
    for r in lo.join(hi, "grp").collect():
        assert (r["k"]["score"], r["k"]["doc_id"]) > (r["d"]["score"], r["d"]["doc_id"])


def test_strip_boilerplate_line_rules(spark):
    from sutro_spark.functions.web import strip_boilerplate

    df = spark.createDataFrame(
        [
            (
                1,
                "A perfectly fine content line here.\n"
                "Copyright 2020 Acme\n"
                "  subscribe to us  \n"
                "tiny\n"
                "Terms of Service\n"
                "Another good line of real content.",
            )
        ],
        "doc_id int, text string",
    )
    r = strip_boilerplate(df).first()
    assert r["n_lines"] == 6
    assert r["n_kept"] == 2
    assert r["cleaned"].splitlines() == [
        "A perfectly fine content line here.",
        "Another good line of real content.",
    ]


def test_url_profile_anatomy(spark):
    from sutro_spark.functions.web import url_profile

    df = spark.createDataFrame(
        [
            (1, "https://www.blog.example.com/a/b/c?q=1#f"),
            (2, "http://host.io"),
            (3, "not a url"),
        ],
        "doc_id int, url string",
    )
    got = {r["doc_id"]: r for r in url_profile(df).collect()}
    assert got[1]["host"] == "www.blog.example.com"
    assert got[1]["domain"] == "example.com"
    assert got[1]["depth"] == 3
    assert got[2]["host"] == "host.io" and got[2]["depth"] == 0
    assert got[3]["host"] == "" and got[3]["domain"] == ""


def test_shard_manifest_partitions_chunks(documents):
    from pyspark.sql import functions as F
    from sutro_spark.operators.packing import (
        pack_chunk_stats,
        pack_contexts,
        shard_manifest,
    )

    chunks = pack_chunk_stats(pack_contexts(documents, budget=128), budget=128)
    man = shard_manifest(chunks, chunks_per_shard=8)
    rows = man.collect()
    assert rows
    for r in rows:
        assert r["chunk_lo"] // 8 == r["shard_id"] == r["chunk_hi"] // 8
        assert 1 <= r["n_chunks"] <= 8
    # shards cover every chunk exactly once
    total = man.agg(F.sum("n_chunks")).first()[0]
    assert total == chunks.count()


def test_classification_report_counts(spark):
    from sutro_spark.operators.metrics import (
        accuracy,
        classification_report,
        confusion_matrix,
    )

    df = spark.createDataFrame(
        [("a", "a"), ("a", "b"), ("b", "b"), ("b", "b"), ("c", "a")],
        "label string, pred string",
    )
    rep = {r["cls"]: r for r in classification_report(df).collect()}
    assert rep["a"]["support"] == 2 and rep["a"]["tp"] == 1
    assert rep["a"]["predicted"] == 2 and rep["a"]["fp"] == 1
    assert rep["a"]["precision"] == 0.5 and rep["a"]["recall"] == 0.5
    assert rep["b"]["precision"] == 2 / 3 and rep["b"]["recall"] == 1.0
    assert rep["b"]["f1"] == 4 / 5  # 2*2/(2+3)
    # class only in gold: predicted=0 → precision null, recall 0
    assert rep["c"]["predicted"] == 0 and rep["c"]["precision"] is None
    assert rep["c"]["recall"] == 0.0
    cm = {(r["label"], r["pred"]): r["n"] for r in confusion_matrix(df).collect()}
    assert cm[("b", "b")] == 2 and cm[("c", "a")] == 1
    acc = accuracy(df).first()
    assert acc["n"] == 5 and acc["correct"] == 3 and acc["accuracy"] == 0.6


def test_repetition_profile_signals(spark):
    from sutro_spark.operators.quality import repetition_profile

    text = (
        "alpha beta alpha beta alpha beta\n"
        "same line here\n"
        "same line here\n"
        "unique line content\n\n"
        "para two\n\npara two"
    )
    df = spark.createDataFrame([(1, text), (2, "no repeats at all")],
                               "doc_id int, text string")
    got = {r["doc_id"]: r for r in repetition_profile(df).collect()}
    r = got[1]
    # paragraphs: [.."para two", "para two"] → 1 dup of 3
    assert r["dup_para_frac"] == round(1 / 3, 6)
    # duplicated lines: "same line here"×2 (28) + "para two"×2 (16)
    # + the two empty lines from the paragraph breaks (0) = 44 chars
    assert r["dup_line_char_frac"] == round(44 / len(text), 6)
    # "alpha beta alpha" appears twice (len 16) → 32/len(text)
    assert r["top_3gram_frac"] == round(2 * 16 / len(text), 6)
    assert r["top_4gram_frac"] > 0
    r2 = got[2]
    assert r2["dup_para_frac"] == 0.0 and r2["dup_line_char_frac"] == 0.0


def test_tfidf_topk_ranks_rare_terms_highest(spark):
    from sutro_spark.functions.text import tfidf_topk

    df = spark.createDataFrame(
        [
            (0, "common rare common"),
            (1, "common other"),
            (2, "common unique unique"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_topk(df, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 0: 'rare' (df=1) outweighs 'common' (tf=2 but df=3):
    # rare = 1*3/1 = 3.0 > common = 2*3/3 = 2.0
    top0 = by_doc[0][0]
    assert (top0["term"], top0["weight"], top0["rank"]) == ("rare", 3.0, 1)
    # doc 2: 'unique' tf=2, df=1 → 2*3/1 = 6.0
    top2 = by_doc[2][0]
    assert (top2["term"], top2["weight"]) == ("unique", 6.0)
    # every doc gets at most k rows, ranks are 1..k dense
    for rows in by_doc.values():
        assert [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])] == list(
            range(1, len(rows) + 1)
        )


def test_word_bigrams_counts_and_short_docs(spark):
    from sutro_spark.functions.text import word_bigrams

    df = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b"), (2, "solo"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    got = {r["bigram"]: r["occurrences"] for r in word_bigrams(df).collect()}
    # "a b a b" → [a b, b a, a b]; "a b" → [a b]; short/empty/null drop out
    assert got == {"a b": 3, "b a": 1}


def test_cohens_kappa_analytic(spark):
    from sutro_spark.operators.metrics import cohens_kappa

    # textbook 2x2 case: n=100, correct=70, marginals
    # label a: 60, b: 40; pred a: 50, b: 50
    # pe = (60*50 + 40*50)/10000 = 0.5; kappa = (0.7-0.5)/0.5 = 0.4
    rows = (
        [("a", "a")] * 40 + [("a", "b")] * 20
        + [("b", "a")] * 10 + [("b", "b")] * 30
    )
    df = spark.createDataFrame(rows, "label string, pred string")
    r = cohens_kappa(df).first()
    assert (r["n"], r["correct"], r["chance_pairs"]) == (100, 70, 5000)
    assert abs(r["kappa"] - 0.4) < 1e-12
    # degenerate: everything one class on both sides -> pe = 1 -> null
    one = spark.createDataFrame([("a", "a")] * 5, "label string, pred string")
    assert cohens_kappa(one).first()["kappa"] is None


def test_dedup_lines_global_first_occurrence_wins(spark):
    from sutro_spark.operators.dedup import dedup_lines_global

    docs = spark.createDataFrame(
        [
            (1, "alpha\nshared\nbeta"),
            (2, "shared\ngamma"),      # 'shared' already seen in doc 1
            (3, "gamma\ngamma"),       # within-doc dup + seen in doc 2
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: (r["text"], r["n_lines"], r["n_kept"])
           for r in dedup_lines_global(docs).collect()}
    assert out[1] == ("alpha\nshared\nbeta", 3, 3)
    assert out[2] == ("gamma", 2, 1)
    assert out[3] == ("", 2, 0)


def test_dedup_paragraphs_unit(spark):
    from sutro_spark.operators.dedup import dedup_lines_global

    docs = spark.createDataFrame(
        [
            (1, "first para\nstill first\n\nshared para"),
            (2, "shared para\n\n\nsecond doc para"),  # \n\n+ run collapses
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: (r["text"], r["n_lines"], r["n_kept"])
           for r in dedup_lines_global(docs, unit="paragraph").collect()}
    # paragraph granularity: inner single newlines are NOT split points
    assert out[1] == ("first para\nstill first\n\nshared para", 2, 2)
    # 'shared para' already seen at (1, pos 1) → doc 2 loses it
    assert out[2] == ("second doc para", 2, 1)

    import pytest

    with pytest.raises(ValueError, match="unit"):
        dedup_lines_global(docs, unit="sentence")


def test_dedup_lines_min_chars_protects_short_lines(spark):
    from sutro_spark.operators.dedup import dedup_lines_global

    docs = spark.createDataFrame(
        [(1, "}\nlong duplicated line"), (2, "}\nlong duplicated line")],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r["text"]
           for r in dedup_lines_global(docs, min_line_chars=3).collect()}
    # '}' is under the protection threshold → survives in BOTH docs
    assert out[1] == "}\nlong duplicated line"
    assert out[2] == "}"


def test_fuzzy_contamination_catches_edited_benchmark(spark):
    from sutro_spark.operators.decontaminate import fuzzy_contamination

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "while seventeen astronauts deduplicate training corpora") * 3
    train = spark.createDataFrame(
        [(1, base), (2, "completely unrelated text about turnip farming " * 8)],
        "doc_id bigint, text string",
    )
    # benchmark = lightly edited copy (word changed mid-string)
    bench = spark.createDataFrame(
        [(100, base.replace("astronauts", "cosmonauts"))], "doc_id bigint, text string"
    )
    hits = {r["doc_id"]: r["n_bench_hits"] for r in
            fuzzy_contamination(train, bench).collect()}
    assert 1 in hits and hits[1] >= 1  # edited copy still collides
    assert 2 not in hits               # unrelated doc untouched


def test_jaccard_histogram_integer_buckets(spark):
    from sutro_spark.operators.dedup import jaccard_histogram, ngram_jaccard_pairs

    df = spark.createDataFrame(
        [
            (1, "abcdefghijklmnop"),
            (2, "abcdefghijklmnop"),   # identical to 1 → jaccard 1.0 → bucket 9
            (3, "abcdefghijXYZWVU"),   # partial overlap with 1/2
            (4, "qrstuvwx"),           # no shared shingles
        ],
        "doc_id long, text string",
    )
    hist = {r.bucket: r for r in jaccard_histogram(df, k=8).collect()}
    assert hist[9].n_pairs == 1  # the identical pair, clamped to top bucket
    total_pairs = ngram_jaccard_pairs(df, k=8, threshold=0.0).count()
    assert sum(r.n_pairs for r in hist.values()) == total_pairs
    # cumulative counts decrease (weakly) as the bucket edge rises
    buckets = sorted(hist)
    ge = [hist[b].n_pairs_ge for b in buckets]
    assert ge == sorted(ge, reverse=False) or all(
        hist[buckets[i]].n_pairs_ge >= hist[buckets[i + 1]].n_pairs_ge
        for i in range(len(buckets) - 1)
    )
    # n_pairs_ge at the lowest bucket covers every candidate pair
    assert hist[min(buckets)].n_pairs_ge == total_pairs


def test_candidate_recall_basic(spark):
    from sutro_spark.operators.metrics import candidate_recall

    truth = spark.createDataFrame([(1, 2), (1, 3), (2, 3)], "id_a long, id_b long")
    cand = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], "id_a long, id_b long")
    r = candidate_recall(truth, cand).collect()[0]
    assert (r.n_truth, r.n_cand, r.n_hit) == (3, 3, 2)
    assert r.recall == 2 / 3 and r.precision == 2 / 3


def test_candidate_recall_empty_sides_null_not_zero(spark):
    from sutro_spark.operators.metrics import candidate_recall

    empty = spark.createDataFrame([], "id_a long, id_b long")
    cand = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    r = candidate_recall(empty, cand).collect()[0]
    assert r.n_truth == 0 and r.recall is None and r.precision == 0.0


def test_bigram_lift_ranks_collocations(spark):
    from sutro_spark.functions.text import bigram_lift

    # "new york" always co-occur; "the cat"/"the dog" share 'the'
    rows = [("new york",)] * 6 + [("the cat",)] * 6 + [("the dog",)] * 6
    df = spark.createDataFrame(rows, "text string")
    out = bigram_lift(df, k=3, min_count=5).collect()
    by = {r.bigram: r for r in out}
    assert "new york" in by and by["new york"].c_ab == 6
    # perfect collocation beats the shared-'the' pairs
    assert out[0].bigram == "new york"
    assert by["new york"].lift > by["the cat"].lift


def test_gini_concentration_known_values(spark):
    from sutro_spark.functions.stats import gini_concentration

    # perfectly equal -> 0; fully concentrated -> (n-1)/n
    eq = spark.createDataFrame([("a", 5)] * 4, "g string, x long")
    assert gini_concentration(eq, "x", group_column="g").collect()[0].gini == 0.0
    conc = spark.createDataFrame(
        [("a", 0), ("a", 0), ("a", 0), ("a", 100)], "g string, x long"
    )
    assert gini_concentration(conc, "x", group_column="g").collect()[0].gini == 0.75
    # tie-insensitive: shuffling duplicates never changes the result
    dup = spark.createDataFrame(
        [("a", 1), ("a", 3), ("a", 3), ("a", 5)], "g string, x long"
    )
    g1 = gini_concentration(dup, "x", group_column="g").collect()[0].gini
    g2 = gini_concentration(dup.repartition(7), "x", group_column="g").collect()[0].gini
    assert g1 == g2


def test_histogram_quantiles_accuracy_and_edges(spark):
    from sutro_spark.functions.stats import histogram_quantiles

    df = spark.createDataFrame([("a", i) for i in range(1, 1001)], "g string, x long")
    out = {
        r.q: r.approx_value
        for r in histogram_quantiles(df, "x", group_column="g", bins=1000).collect()
    }
    # 1000 values over 1000 bins: bin width 1 → approx == exact rank value
    assert out[0.5] == 500 and out[0.95] == 950 and out[0.99] == 990
    # constant column: single bin, quantile = the value
    const = spark.createDataFrame([("a", 7)] * 5, "g string, x long")
    row = histogram_quantiles(const, "x", group_column="g", quantiles=(0.5,)).collect()[0]
    assert row.approx_value == 7 and row.n == 5


def test_histogram_quantiles_merge_bound(spark):
    from sutro_spark.functions.stats import histogram_quantiles

    # coarse bins: answer within one bin width of the exact quantile
    df = spark.createDataFrame([("a", i) for i in range(0, 10000, 7)], "g string, x long")
    row = histogram_quantiles(df, "x", group_column="g", quantiles=(0.5,), bins=100).collect()[0]
    exact = sorted(range(0, 10000, 7))[len(range(0, 10000, 7)) // 2]
    assert abs(row.approx_value - exact) <= 10000 // 100 + 7


def test_histogram_quantiles_validation(spark):
    import pytest as _pytest

    from sutro_spark.functions.stats import histogram_quantiles

    df = spark.createDataFrame([("a", 1)], "g string, x long")
    with _pytest.raises(ValueError):
        histogram_quantiles(df, "x", quantiles=(0.0,))
    with _pytest.raises(ValueError):
        histogram_quantiles(df, "x", bins=1)


def test_skew_report_flags_hot_key(spark):
    from sutro_spark.functions.skew import skew_report

    rows = [("hot",)] * 90 + [("a",)] * 5 + [("b",)] * 5
    df = spark.createDataFrame(rows, "k string")
    out = skew_report(df, "k", top=2).collect()
    assert len(out) == 2 and out[0].key == "hot" and out[0].rank == 1
    r = out[0]
    assert r.n_keys == 3 and r.total == 100 and r.max_cnt == 90
    assert r.skew_factor == 90 / (100 / 3)


def test_time_split_boundary_and_nulls(spark):
    from datetime import datetime

    from sutro_spark.functions.sampling import time_split

    rows = [(i, datetime(2026, 1, 1 + i)) for i in range(10)] + [(99, None)]
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    out = {r.id: r.split for r in time_split(df, "ts", holdout_pct=20).collect()}
    # 10 timestamped rows, 20% holdout -> last 2 days are holdout
    assert [out[i] for i in range(8)] == ["train"] * 8
    assert out[8] == out[9] == "holdout"
    assert out[99] == "train"  # NULL ts never contaminates the eval window


def test_time_split_ties_stay_train(spark):
    from datetime import datetime

    from sutro_spark.functions.sampling import time_split

    # 5 rows share the cutoff timestamp: the boundary is a point in
    # time, so ALL of them land in train even though that overshoots
    t0, t1 = datetime(2026, 1, 1), datetime(2026, 1, 2)
    df = spark.createDataFrame(
        [(i, t0) for i in range(5)] + [(9, t1)], "id long, ts timestamp"
    )
    out = {r.id: r.split for r in time_split(df, "ts", holdout_pct=50).collect()}
    assert all(out[i] == "train" for i in range(5)) and out[9] == "holdout"


def test_lang_id_margin_confidence(spark):
    from pyspark.sql import functions as F

    from sutro_spark.functions.text import lang_id_margin

    df = spark.createDataFrame(
        [
            (1, "the cat of the house is in it"),   # clearly English
            (2, "xyzzy qwerty plugh"),              # no stopwords at all
        ],
        "doc_id long, text string",
    )
    s = lang_id_margin(F.col("text"))
    out = {r.doc_id: r for r in df.select("doc_id", s.alias("s")).select("doc_id", "s.*").collect()}
    assert out[1].lang_pred == "en" and out[1].margin >= 3
    # zero hits everywhere -> margin 0, tie broken to smallest lang
    assert out[2].hits == 0 and out[2].margin == 0 and out[2].lang_pred == "de"


def test_ols_by_group_known_line(spark):
    from sutro_spark.functions.stats import ols_by_group

    # perfect line y = 3x + 2
    df = spark.createDataFrame(
        [("a", x, 3 * x + 2) for x in range(10)], "g string, x long, y long"
    )
    r = ols_by_group(df, "x", "y", group_column="g").collect()[0]
    assert r.slope == 3.0 and r.intercept == 2.0 and r.n == 10


def test_ols_degenerate_groups_null(spark):
    from sutro_spark.functions.stats import ols_by_group

    df = spark.createDataFrame(
        [("one", 5, 7), ("flat", 4, 1), ("flat", 4, 9)],
        "g string, x long, y long",
    )
    out = {r.grp: r for r in ols_by_group(df, "x", "y", group_column="g").collect()}
    assert out["one"].slope is None      # n < 2
    assert out["flat"].slope is None     # zero x-variance
    assert out["flat"].intercept is None


def test_corr_by_group_known_values(spark):
    from sutro_spark.functions.stats import corr_by_group

    perfect = spark.createDataFrame(
        [("a", x, 2 * x + 1) for x in range(8)], "g string, x long, y long"
    )
    assert corr_by_group(perfect, "x", "y", group_column="g").collect()[0].r == 1.0
    anti = spark.createDataFrame(
        [("a", x, -3 * x) for x in range(8)], "g string, x long, y long"
    )
    assert corr_by_group(anti, "x", "y", group_column="g").collect()[0].r == -1.0
    flat = spark.createDataFrame(
        [("a", x, 5) for x in range(8)], "g string, x long, y long"
    )
    assert corr_by_group(flat, "x", "y", group_column="g").collect()[0].r is None


def test_histogram_quantiles_extreme_span_no_overflow(spark):
    # (x - lo) * bins in BIGINT overflows once the group's span nears
    # 2^63/bins; the decimal(38,0) bin math must keep extreme-range
    # longs in valid, monotone bins (q=1.0 bin start <= true max and
    # >= the q=0.5 one)
    from sutro_spark.functions.stats import histogram_quantiles

    df = spark.createDataFrame(
        [(-(2**62),), (0,), (2**62 - 1,), (2**62,)], "x long"
    )
    out = {
        r.q: r.approx_value
        for r in histogram_quantiles(df, "x", quantiles=(0.5, 1.0), bins=1000).collect()
    }
    assert -(2**62) <= out[0.5] <= 0
    assert out[0.5] <= out[1.0] <= 2**62


def test_bigram_lift_releases_its_cache(spark):
    # repeated calls in a long-lived session must not leak executor
    # storage: the tokenized intermediate is unpersisted before return
    from sutro_spark.functions.text import bigram_lift

    df = spark.createDataFrame([("the cat sat " * 6,)], "text string")
    before = len([r for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()])
    out = bigram_lift(df, k=5, min_count=5)
    assert out.count() >= 1
    after = len([r for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()])
    assert after <= before


def test_bloom_decontaminate_equals_exact_with_forced_collisions(spark):
    # a deliberately TINY filter (256 bits) forces Bloom false
    # positives, so the exact-verify stage is load-bearing: output must
    # still equal plain decontaminate exactly
    from sutro_spark.operators.decontaminate import (
        bloom_bitset,
        bloom_contamination_flags,
        bloom_decontaminate,
        decontaminate,
    )

    words = [f"w{i}" for i in range(40)]
    docs = spark.createDataFrame(
        [(i, " ".join(words[j % 40] for j in range(i, i + 12))) for i in range(60)],
        "doc_id long, text string",
    )
    bench = docs.where(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    exact = {r.doc_id for r in decontaminate(docs, bench, n=5).select("doc_id").collect()}
    got = {
        r.doc_id
        for r in bloom_decontaminate(docs, bench, n=5, bits_log2=8, hashes=2)
        .select("doc_id")
        .collect()
    }
    assert got == exact
    # with 256 bits the prefilter must actually flag a superset
    w = bloom_bitset(bench, n=5, bits_log2=8, hashes=2)
    flagged = {
        r.doc_id
        for r in bloom_contamination_flags(docs, w, n=5, bits_log2=8, hashes=2)
        .where(F.col("__maybe_contaminated") == 1)
        .collect()
    }
    contaminated = {r.doc_id for r in docs.collect()} - exact
    assert contaminated <= flagged


def test_bloom_flags_no_join_in_plan(spark):
    # the fast path is a pure projection: no Exchange, no Join nodes
    from sutro_spark.operators.decontaminate import (
        bloom_bitset,
        bloom_contamination_flags,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j k l m n")], "doc_id long, text string"
    )
    w = bloom_bitset(docs.limit(1), n=5)
    plan = bloom_contamination_flags(docs, w, n=5)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_content_chunks_shift_robust(spark):
    from sutro_spark.functions.text import content_chunks

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon")
    docs = spark.createDataFrame(
        [(1, base), (2, "inserted prefix " + base)], ["doc_id", "text"]
    )
    out = content_chunks(docs, divisor=4)
    a = {r["chunk_hash"] for r in out.where("id = 1").collect()}
    b = {r["chunk_hash"] for r in out.where("id = 2").collect()}
    # fixed-size chunking would share ~nothing after a prefix edit;
    # content-defined boundaries re-align after the first boundary.
    assert len(a & b) >= len(a) - 1


def test_content_chunks_partition_is_exact(spark):
    from pyspark.sql import functions as F

    from sutro_spark.functions.text import content_chunks

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j k l m n o p")], ["doc_id", "text"]
    )
    out = content_chunks(docs, divisor=3, max_words=4)
    rows = out.orderBy("chunk_seq", "sub_seq").collect()
    # chunks tile the word sequence exactly: starts follow counts
    total = sum(r["n_words"] for r in rows)
    assert total == 16
    nxt = 0
    for r in rows:
        assert r["start_word"] == nxt
        nxt += r["n_words"]
    # max_words bound honored
    assert all(r["n_words"] <= 4 for r in rows)


def test_content_chunks_validation(spark):
    import pytest

    from sutro_spark.functions.text import content_chunks

    with pytest.raises(ValueError, match="divisor"):
        content_chunks(None, divisor=0)
    with pytest.raises(ValueError, match="max_words"):
        content_chunks(None, max_words=0)


def test_mad_outliers_robust_to_extreme_value(spark):
    from sutro_spark.functions.stats import mad_outliers

    # one colossal value: z-score's stddev blows up and hides the
    # moderate outlier; MAD flags both.
    rows = [(i, "g", 10.0 + i * 0.01) for i in range(20)]
    rows += [(100, "g", 25.0), (101, "g", 100000.0)]
    df = spark.createDataFrame(rows, ["id", "grp", "v"])
    flagged = {
        r["id"] for r in mad_outliers(df, "v", "grp", "id", k=(7, 2)).collect()
    }
    assert flagged == {100, 101}


def test_mad_outliers_median_math_is_exact(spark):
    from sutro_spark.functions.stats import mad_outliers

    # even-count group: med2 must be the SUM of the two middles
    df = spark.createDataFrame(
        [(1, "g", 1.0), (2, "g", 2.0), (3, "g", 3.0), (4, "g", 40.0)],
        ["id", "grp", "v"],
    )
    out = mad_outliers(df, "v", "grp", "id", k=(7, 2)).collect()
    assert len(out) == 1 and out[0]["id"] == 4
    assert out[0]["med2"] == 200 + 300  # cents of 2.0 + 3.0


def test_mad_outliers_singleton_never_flagged(spark):
    from sutro_spark.functions.stats import mad_outliers

    df = spark.createDataFrame([(1, "g", 99999.0)], ["id", "grp", "v"])
    assert mad_outliers(df, "v", "grp", "id").count() == 0


def test_mad_outliers_ignores_null_values(spark):
    # percentile() skips null cents, so the group size must too: null
    # rows change nothing, and a value plus a null is a singleton
    from sutro_spark.functions.stats import mad_outliers

    rows = [(1, "g", 1.0), (2, "g", 2.0), (3, "g", 3.0), (4, "g", 40.0)]
    nulls = [(10, "g", None), (11, "g", None), (12, "g", None), (13, "lone", 5.0),
             (14, "lone", None), (15, "void", None), (16, "void", None)]
    schema = "id long, grp string, v double"
    clean = mad_outliers(spark.createDataFrame(rows, schema), "v", "grp", "id").collect()
    out = mad_outliers(spark.createDataFrame(rows + nulls, schema), "v", "grp", "id").collect()
    assert sorted(out) == sorted(clean)
    assert [r["id"] for r in out] == [4] and out[0]["med2"] == 500


def test_mad_outliers_matches_bruteforce_medians(spark):
    # r17: med2/mad_med2 now come from 2*percentile(col, 0.5) instead
    # of two window row_number sorts; this pins the doubled-median
    # identity (odd AND even group sizes, ties included) against a
    # pure-Python replay of the documented rule.
    from sutro_spark.functions.stats import mad_outliers

    rows = []
    vals = {
        "odd": [3.17, 1.02, 44.5, 3.17, 9.99],          # n=5, with a tie
        "even": [10.0, 10.02, 250.75, 0.5, 10.0, 10.01],  # n=6, ties
        "pair": [5.0, 5.0],                              # degenerate MAD=0
    }
    i = 0
    for g, vs in vals.items():
        for v in vs:
            rows.append((i, g, v))
            i += 1
    df = spark.createDataFrame(rows, ["id", "grp", "v"])
    out = {r["id"]: r for r in mad_outliers(df, "v", "grp", "id", k=(7, 2)).collect()}

    expected = {}
    for g, vs in vals.items():
        cents = sorted(round(v * 100) for v in vs)
        n = len(cents)
        med2 = cents[(n + 1) // 2 - 1] + cents[(n + 2) // 2 - 1]
        devs = sorted(abs(2 * c - med2) for c in cents)
        mad2 = devs[(n + 1) // 2 - 1] + devs[(n + 2) // 2 - 1]
        for v in vs:
            c = round(v * 100)
            if 2 * 2 * abs(2 * c - med2) > 7 * mad2:
                expected.setdefault(g, set()).add(c)
    got = {}
    for r in out.values():
        got.setdefault(r["grp"], set()).add(r["cents"])
        # the reported doubled medians must equal the brute-force ones
        cents_sorted = sorted(round(v * 100) for v in vals[r["grp"]])
        n = len(cents_sorted)
        med2 = cents_sorted[(n + 1) // 2 - 1] + cents_sorted[(n + 2) // 2 - 1]
        assert r["med2"] == med2
    assert got == expected


def test_histogram_drift_zero_on_identical(spark):
    from sutro_spark.functions.stats import histogram_drift

    df = spark.createDataFrame([(float(i),) for i in range(100)], ["v"])
    row = histogram_drift(df, df, "v").first()
    assert row["drift_milli"] == 0 and row["l1_scaled"] == 0


def test_histogram_drift_disjoint_is_max(spark):
    from sutro_spark.functions.stats import histogram_drift

    a = spark.createDataFrame([(float(i),) for i in range(50)], ["v"])
    b = spark.createDataFrame([(float(i),) for i in range(1000, 1050)], ["v"])
    row = histogram_drift(a, b, "v", bins=2).first()
    assert row["drift_milli"] == 2000  # disjoint supports -> L1 = 2


def test_histogram_drift_detects_truncation(spark):
    from pyspark.sql import functions as F

    from sutro_spark.functions.stats import histogram_drift

    df = spark.createDataFrame([(float(i),) for i in range(1000)], ["v"])
    half = df.where(F.col("v") < 500)
    row = histogram_drift(df, half, "v").first()
    # half the mass gone from the tail: L1 = 2 * 0.5 -> ~1000 milli
    assert 900 <= row["drift_milli"] <= 1100


def test_ngram_novelty_semantics(spark):
    from sutro_spark.functions.text import ngram_novelty

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "totally new words here now"),
         (3, "ab"), (4, None)],
        ["doc_id", "text"],
    )
    ref = spark.createDataFrame(
        [(10, "the quick brown fox sleeps")], ["doc_id", "text"]
    )
    out = {
        r["id"]: (r["n_grams"], r["n_unseen"], r["novelty_milli"])
        for r in ngram_novelty(docs, ref, n=3).collect()
    }
    # doc 1 shares 2 of its 3 trigrams with the reference
    assert out[1] == (3, 1, 333)
    assert out[2] == (3, 3, 1000)  # fully novel
    assert out[3] == (0, 0, None)  # too short: no basis, not "novel"
    assert out[4] == (0, 0, None)


def test_ngram_novelty_self_reference_is_zero(spark):
    from sutro_spark.functions.text import ngram_novelty

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], ["doc_id", "text"]
    )
    row = ngram_novelty(docs, docs, n=3).first()
    assert row["novelty_milli"] == 0


def test_hamilton_allocation_exact_total_and_proportionality(spark):
    from sutro_spark.functions.sampling import hamilton_allocation

    # 600 a / 300 b / 100 c, total_n = 137 -> quotas 82.2 / 41.1 / 13.7
    # Hamilton: bases 82/41/13 (sum 136), largest remainder (c, .7) +1
    rows = (
        [(i, "a") for i in range(600)]
        + [(1000 + i, "b") for i in range(300)]
        + [(2000 + i, "c") for i in range(100)]
    )
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    got = hamilton_allocation(df, "source", "doc_id", 137).collect()
    assert len(got) == 137
    by = {}
    for r in got:
        by[r["source"]] = by.get(r["source"], 0) + 1
    assert by == {"a": 82, "b": 41, "c": 14}
    # deterministic: same picks on a rerun
    again = {r["doc_id"] for r in hamilton_allocation(df, "source", "doc_id", 137).collect()}
    assert again == {r["doc_id"] for r in got}
    # stability: adding docs to OTHER strata never changes c's picks
    more = spark.createDataFrame(
        rows + [(3000 + i, "a") for i in range(100)], ["doc_id", "source"]
    )
    c_before = {r["doc_id"] for r in got if r["source"] == "c"}
    c_after = {
        r["doc_id"]
        for r in hamilton_allocation(more, "source", "doc_id", 137).collect()
        if r["source"] == "c"
    }
    # c's quota may shrink (shares shift) but picks must be a prefix
    # of the same hash order: after ⊆ before when quota shrank
    assert c_after <= c_before or c_before <= c_after


def test_hamilton_allocation_edge_cases(spark):
    import pytest

    from sutro_spark.functions.sampling import hamilton_allocation

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], ["doc_id", "source"]
    )
    # total_n == N: everything, every stratum full
    assert len(hamilton_allocation(df, "source", "doc_id", 3).collect()) == 3
    # total_n > N: capped at stratum sizes, never errors
    assert len(hamilton_allocation(df, "source", "doc_id", 10).collect()) == 3
    assert hamilton_allocation(df, "source", "doc_id", 0).count() == 0
    with pytest.raises(ValueError):
        hamilton_allocation(df, "source", "doc_id", -1)


def test_quantile_normalize_maps_onto_pooled_distribution(spark):
    from sutro_spark.functions.stats import quantile_normalize

    # group a: 1..8 (ids 0..7); group b: 101..104 (ids 10..13)
    rows = [(i, "a", i + 1) for i in range(8)] + [
        (10 + i, "b", 101 + i) for i in range(4)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "score"])
    out = {
        r["doc_id"]: r["norm_value"]
        for r in quantile_normalize(df, "source", "score", "doc_id").collect()
    }
    assert len(out) == 12
    # pooled sorted values: 1..8 then 101..104 (N=12)
    pooled = list(range(1, 9)) + [101, 102, 103, 104]
    # group b rank rn of 4 -> pooled rank ceil(rn*12/4) = 3,6,9,12
    assert [out[10 + i] for i in range(4)] == [
        pooled[2], pooled[5], pooled[8], pooled[11]
    ]
    # both groups' max map to the pooled max
    assert out[7] == out[13] == 104
    # monotone within each group
    a_vals = [out[i] for i in range(8)]
    assert a_vals == sorted(a_vals)


def test_quantile_normalize_single_group_is_identity(spark):
    from sutro_spark.functions.stats import quantile_normalize

    df = spark.createDataFrame(
        [(i, "a", v) for i, v in enumerate([5, 1, 9, 3])],
        ["doc_id", "source", "score"],
    )
    out = quantile_normalize(df, "source", "score", "doc_id").collect()
    # one group: every row maps to its own value
    assert all(r["norm_value"] == r["score"] for r in out)


def test_benford_profile_detects_uniform_fabrication(spark):
    from sutro_spark.functions.stats import benford_profile

    # Benford-ish data: powers spread across scales (2^k spans digits
    # with the right long-run bias) vs uniform [100, 999] fabrication
    natural = spark.createDataFrame(
        [(float(2**k) / 100,) for k in range(1, 60)], ["v"]
    )
    fabricated = spark.createDataFrame(
        [(float(v) / 100,) for v in range(100, 1000)], ["v"]
    )
    nat = {r["digit"]: r for r in benford_profile(natural, "v").collect()}
    fab = {r["digit"]: r for r in benford_profile(fabricated, "v").collect()}
    assert set(nat) == set(range(1, 10))
    nat_l1 = sum(r["dev_milli"] for r in nat.values())
    fab_l1 = sum(r["dev_milli"] for r in fab.values())
    # uniform data has flat 111-milli shares: far off Benford; the
    # power sequence tracks it closely
    assert fab_l1 > 1.5 * nat_l1, (fab_l1, nat_l1)
    # digit 1 must dominate natural data (~301 milli)
    assert nat[1]["obs_milli"] > nat[9]["obs_milli"]


def test_benford_profile_empty_and_zeros(spark):
    from sutro_spark.functions.stats import benford_profile

    df = spark.createDataFrame([(0.0,), (None,)], ["v"])
    rows = benford_profile(df, "v").collect()
    assert len(rows) == 9  # full digit spine, zero counts
    assert all(r["n"] == 0 and r["obs_milli"] == 0 for r in rows)


def test_hamilton_allocation_null_strata_excluded(spark):
    """ADVICE r9: NULL strata are excluded from N up front, so the
    exactly-total_n contract holds over the sampleable rows."""
    from sutro_spark.functions.sampling import hamilton_allocation

    rows = [(i, "a" if i % 2 == 0 else None) for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    got = hamilton_allocation(df, "source", "doc_id", 15).collect()
    assert len(got) == 15
    assert all(r["source"] == "a" for r in got)



def test_encoding_damage_counts_and_flags(spark):
    from sutro_spark.functions.text import (
        MOJIBAKE_MARKERS,
        encoding_damage_profile,
    )

    moji = MOJIBAKE_MARKERS[0]  # the e-acute double-decode
    quote = MOJIBAKE_MARKERS[5]  # the 3-char right-single-quote form
    rows = [
        (1, "clean ascii text"),
        (2, f"don{quote}t stop"),
        (3, f"caf{moji} {moji}clair"),
        (4, "lossy \ufffd transcode \ufffd"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r for r in encoding_damage_profile(df).collect()}
    assert got[1]["n_mojibake"] == 0 and not got[1]["damaged"]
    assert got[2]["n_mojibake"] == 1 and got[2]["damaged"]
    assert got[3]["n_mojibake"] == 2 and got[3]["n_replacement"] == 0
    assert got[4]["n_replacement"] == 2 and got[4]["damaged"]
    assert got[5]["n_mojibake"] == 0 and not got[5]["damaged"]



def test_script_profile_counts_and_dominant(spark):
    from sutro_spark.functions.text import script_profile

    rows = [
        (1, "hello world 123"),
        (2, "\u043f\u0440\u0438\u0432\u0435\u0442 ok"),
        (3, "\u4f60\u597d\u5417"),
        (4, ""),
        (5, None),
        (6, "ab\u0430\u0431"),  # latin 2, cyrillic 2 -> tie -> latin
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r for r in script_profile(df).collect()}
    assert got[1]["n_latin"] == 10 and got[1]["n_digit"] == 3
    assert got[1]["latin_milli"] == 666 and got[1]["dominant"] == "latin"
    assert got[2]["n_cyrillic"] == 6 and got[2]["dominant"] == "cyrillic"
    assert got[3]["n_cjk"] == 3 and got[3]["dominant"] == "cjk"
    assert got[4]["latin_milli"] is None and got[4]["dominant"] == "none"
    assert got[5]["n_chars"] == 0 and got[5]["dominant"] == "none"
    assert got[6]["dominant"] == "latin"  # fixed tie order, stated


def test_script_gate_full_class_set(spark):
    from sutro_spark.functions.text import SCRIPT_CLASSES, script_gate

    rows = [
        (1, "hello مرحبا"),  # latin 5, arabic 5 -> tie -> latin (class order)
        (2, "नमस्ते"),  # devanagari 6
        (3, "안녕 ok"),  # hangul 2, latin 2 -> tie -> latin first
        (4, "γεια שלום สวัส"),  # el 4 he 4 th 4
        (5, None),
        (6, "aaaaaaa мир"),  # latin 7 of 10 -> 700 < 800 -> mixed
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r for r in script_gate(df).collect()}
    assert got[1]["n_arabic"] == 5 and got[1]["dominant"] == "latin"
    assert got[2]["n_devanagari"] == 6 and got[2]["dominant"] == "devanagari"
    assert got[2]["dominant_milli"] == 1000 and got[2]["mixed"] is False
    assert got[3]["n_hangul"] == 2 and got[3]["dominant"] == "latin"
    # three-way tie -> first class in SCRIPT_CLASSES order among ties
    assert got[4]["n_greek"] == 4 and got[4]["n_hebrew"] == 4
    assert got[4]["n_thai"] == 4 and got[4]["dominant"] == "greek"
    assert got[4]["mixed"] is True  # 333 < 800
    assert got[5]["dominant"] == "none" and got[5]["dominant_milli"] is None
    assert got[5]["mixed"] is False
    assert got[6]["dominant_milli"] == 700 and got[6]["mixed"] is True
    # threshold is a parameter
    strict = {r["id"]: r for r in script_gate(df, dominant_threshold_milli=600).collect()}
    assert strict[6]["mixed"] is False
    # class list covers the nine documented scripts
    assert [n for n, _ in SCRIPT_CLASSES] == [
        "latin", "cyrillic", "cjk", "arabic", "devanagari",
        "hangul", "greek", "hebrew", "thai",
    ]


def test_luhn_card_detection_and_redaction(spark):
    from sutro_spark.functions.text import card_hits, luhn_valid

    df = spark.createDataFrame(
        [
            (1, "pay 4539578763621486 or 4539578763621487"),  # valid+invalid
            (2, "order 1234567890123 ref 999"),  # 13-digit run, Luhn-bad
            (3, None),
            (4, "card 4111111111111111 twice 4111111111111111"),
            (5, "mastercard 5500005555555559 ok"),
            (6, "short 123456789012 run"),  # 12 digits: not a candidate
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (
            r["n_card_candidates"],
            r["n_valid_cards"],
            r["has_card"],
            r["redacted"],
        )
        for r in card_hits(df).collect()
    }
    assert got[1] == (2, 1, True, "pay [CARD] or 4539578763621487")
    assert got[2] == (1, 0, False, "order 1234567890123 ref 999")
    assert got[3] == (0, 0, False, "")
    assert got[4] == (2, 2, True, "card [CARD] twice [CARD]")
    assert got[5] == (1, 1, True, "mastercard [CARD] ok")
    assert got[6] == (0, 0, False, "short 123456789012 run")
    # the bare checksum column form
    digits = spark.createDataFrame(
        [("4539578763621486",), ("4539578763621487",)], "c string"
    )
    ok = {r["c"]: r["ok"] for r in digits.select("c", luhn_valid("c").alias("ok")).collect()}
    assert ok == {"4539578763621486": True, "4539578763621487": False}


def test_card_hits_literal_fold_substring_edge(spark):
    # pins the DOCUMENTED boundary: the literal replace() fold redacts
    # every occurrence of a valid candidate's digits, including inside
    # a longer non-candidate digit context elsewhere in the text
    # (over-redaction — the safe direction for PII)
    from sutro_spark.functions.text import card_hits

    valid = "4539578763621486"  # Luhn-valid 16 digits
    df = spark.createDataFrame(
        [(1, f"card {valid} and ref 99{valid}99 end")],
        "doc_id long, text string",
    )
    row = card_hits(df).collect()[0]
    # the 20-digit run 99<valid>99 greedily yields a 19-digit
    # candidate (99 + first 17) which is Luhn-invalid, so only the
    # standalone card validates...
    assert row["n_valid_cards"] == 1
    # ...but the literal fold redacts its digits INSIDE the ref too
    assert row["redacted"] == "card [CARD] and ref 99[CARD]99 end"


def test_canonical_url_rules(spark):
    from sutro_spark.functions.web import canonical_url

    df = spark.createDataFrame(
        [
            (1, "http://Site.com:80/a/b/?utm_source=x&b=2&a=1#frag"),
            (2, "https://site.com/a/b?b=2&a=1"),
            (3, "HTTPS://SITE.com:443"),
            (4, "not a url"),
            (5, None),
            (6, "http://h.com/p?fbclid=abc&ref=tw"),
            (7, "http://h.com:8080/p/"),  # non-default port kept
        ],
        "doc_id long, url string",
    )
    got = {r["id"]: (r["canonical"], r["is_url"]) for r in canonical_url(df).collect()}
    assert got[1] == ("http://site.com/a/b?a=1&b=2", True)
    assert got[2] == ("https://site.com/a/b?a=1&b=2", True)
    assert got[1][0].replace("http://", "x") == got[2][0].replace("https://", "x")
    assert got[3] == ("https://site.com/", True)
    assert got[4] == ("not a url", False)  # passed through, flagged
    assert got[5] == ("", False)
    assert got[6] == ("http://h.com/p", True)  # all-tracking query drops
    assert got[7] == ("http://h.com:8080/p", True)


def test_canonical_url_fragment_query_leak(spark):
    # r13 advice: a '?' INSIDE the fragment must not leak fragment
    # content into the canonical query (hash-routed SPA URLs)
    from sutro_spark.functions.web import canonical_url

    df = spark.createDataFrame(
        [
            (1, "http://a.com/b#x?y=1"),
            (2, "https://app.com/#/route?id=3"),
            (3, "http://a.com/p?b=2#sec?x=1"),  # real query + '?' in frag
            (4, "http://a.com/p?#f"),  # empty query before fragment
        ],
        "doc_id long, url string",
    )
    got = {r["id"]: r["canonical"] for r in canonical_url(df).collect()}
    assert got[1] == "http://a.com/b"
    assert got[2] == "https://app.com/"
    assert got[3] == "http://a.com/p?b=2"
    assert got[4] == "http://a.com/p"


def test_registered_domain_psl(spark):
    from sutro_spark.functions.web import registered_domain

    df = spark.createDataFrame(
        [
            (1, "www.example.co.uk"),
            (2, "News.Example.COM.AU"),  # case-folded
            (3, "www.example.com"),
            (4, "a.b.example.ac.jp"),
            (5, "co.uk"),  # bare public suffix: no registered domain
            (6, "school.pvt.k12.ma.us"),  # 4-label suffix tier
            (7, "dist.k12.ca.us"),  # 3-label suffix tier
            (8, "example"),  # single label
            (9, ""),
            (10, "trailing.dot.com."),  # empty label guard
            (11, "www.pages.github.io"),  # private-section suffix:
            # out of the ICANN snapshot, resolves under the default
            # rule (the stated boundary)
        ],
        "i long, host string",
    )
    got = {
        r["i"]: r["d"]
        for r in df.select(
            "i", registered_domain(F.col("host")).alias("d")
        ).collect()
    }
    assert got[1] == "example.co.uk"
    assert got[2] == "example.com.au"
    assert got[3] == "example.com"
    assert got[4] == "example.ac.jp"
    assert got[5] == ""
    assert got[6] == "school.pvt.k12.ma.us"
    assert got[7] == "dist.k12.ca.us"
    assert got[8] == ""
    assert got[9] == ""
    assert got[10] == ""
    assert got[11] == "github.io"
    # the documented no-list fallback keeps the old approximation
    old = {
        r["i"]: r["d"]
        for r in df.select(
            "i", registered_domain(F.col("host"), use_psl=False).alias("d")
        ).collect()
    }
    assert old[1] == "co.uk"  # the collapse the PSL path fixes


def test_adaptive_salted_join_equals_plain_join(spark):
    # r14: MG-driven salting must be result-invariant — inner AND left,
    # with a heavy key, light keys, and a dim-missing key
    from sutro_spark.functions.skew import adaptive_salted_join

    fact = spark.createDataFrame(
        [(1, i) for i in range(40)]  # heavy key 1
        + [(2, 100), (3, 101), (9, 102)],  # light; 9 missing from dim
        "k long, v long",
    )
    dim = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "k long, label string"
    )
    for how in ("inner", "left"):
        got = sorted(
            (r["k"], r["v"], r["label"])
            for r in adaptive_salted_join(fact, dim, "k", buckets=4, k=2, how=how).collect()
        )
        want = sorted(
            (r["k"], r["v"], r["label"])
            for r in fact.join(dim, "k", how).collect()
        )
        assert got == want, how
    # r15 advice fix: result-equality is only proven for inner/left —
    # right/outer would duplicate unmatched dim rows once per replica,
    # so the operator refuses loudly
    import pytest as _pytest

    for how in ("right", "full", "left_anti"):
        with _pytest.raises(ValueError, match="inner.*left"):
            adaptive_salted_join(fact, dim, "k", buckets=4, k=2, how=how)


def test_adaptive_salting_replicates_only_heavy_dim_rows(spark):
    # the point of the operator: plain salting ships B*|small| dim
    # rows; adaptive ships |small| + (B-1)*|heavy ∩ small|
    from pyspark.sql import functions as F

    from sutro_spark.functions.skew import _SALT
    from sutro_spark.functions.sketches import mg_heavy_hitters

    fact = spark.createDataFrame(
        [(1, i) for i in range(40)] + [(2, 0), (3, 0)], "k long, v long"
    )
    dim = spark.createDataFrame(
        [(k, str(k)) for k in range(1, 21)], "k long, label string"
    )
    heavy = {
        r["key"]
        for r in mg_heavy_hitters(fact.select("k"), "k", "k", k=2).collect()
    }
    assert "1" in heavy  # share > 1/(k+1) is guaranteed in
    buckets = 4
    is_heavy = F.col("k").cast("string").isin(sorted(heavy))
    replicas = dim.withColumn(
        _SALT,
        F.explode(
            F.when(is_heavy, F.sequence(F.lit(0), F.lit(buckets - 1)))
            .otherwise(F.array(F.lit(0)))
        ),
    )
    n = replicas.count()
    assert n == 20 + (buckets - 1) * len(heavy & {str(k) for k in range(1, 21)})
    assert n < buckets * 20  # strictly cheaper than plain salting


def test_split_leakage_audit_flags_and_unassigned(spark):
    from sutro_spark.operators.cluster import split_leakage_audit

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (4, 5), (6, 7)], "id_a long, id_b long"
    )
    asg = spark.createDataFrame(
        [(1, "train"), (2, "train"), (3, "test"), (4, "val"), (5, "train")],
        "doc_id long, split string",
    )  # 6 and 7 unassigned
    got = {
        (r["split_a"], r["split_b"]): (r["n_pairs"], r["leaked"])
        for r in split_leakage_audit(pairs, asg).collect()
    }
    assert got[("train", "train")] == (1, False)
    assert got[("test", "train")] == (1, True)  # canonical order
    assert got[("train", "val")] == (1, True)
    assert got[("__unassigned__", "__unassigned__")] == (1, False)


def test_psi_drift_matches_python_surrogate_model(spark):
    # replicate the EXACT integer arithmetic (floored micro shares,
    # milli-log2 surrogate, Laplace +1 over observed bins) in python
    # and require equality — plus the distribution-free sanity points
    from sutro_spark.functions.stats import psi_drift

    old_vals = [float(v) for v in range(100)]
    new_vals = [float(v) for v in range(50)] * 2  # mass shifts low
    old = spark.createDataFrame([(v,) for v in old_vals], "x double")
    new = spark.createDataFrame([(v,) for v in new_vals], "x double")
    row = psi_drift(old, new, "x", bins=10).collect()[0]

    def ml(f):
        e = f.bit_length() - 1
        return 1000 * e + ((f - (1 << e)) * 1000) // (1 << e)

    # python replay of the same binning (union range, cents, ceil w)
    oc = [round(v * 100) for v in old_vals]
    nc = [round(v * 100) for v in new_vals]
    lo, hi = min(oc + nc), max(oc + nc)
    w = (hi - lo + 10) // 10
    from collections import Counter

    bo, bn = Counter((c - lo) // w for c in oc), Counter(
        (c - lo) // w for c in nc
    )
    univ = sorted(set(bo) | set(bn))
    B = len(univ)
    na, nb = len(oc) + B, len(nc) + B
    psi = 0
    for b in univ:
        a_, b_ = bo.get(b, 0) + 1, bn.get(b, 0) + 1
        dp = (1_000_000 * a_) // na - (1_000_000 * b_) // nb
        psi += dp * (ml(a_) - ml(b_) - ml(na) + ml(nb))
    assert row["psi_nano"] == psi
    assert row["n_bins_observed"] == B
    assert row["band"] == "major"  # half the range emptied
    # identical snapshots: Laplace keeps every term's dp == 0
    same = psi_drift(old, old, "x", bins=10).collect()[0]
    assert same["psi_nano"] == 0 and same["band"] == "stable"
    # the log2 rescaled thresholds: psi_log2 is nano/1e9
    assert abs(row["psi_log2"] - psi / 1e9) < 1e-12


def test_psi_drift_grouped_equals_global_per_group(spark):
    """One grouped pass == psi_drift run per group-filter; a group
    present only in `new` under range_on='old' surfaces with
    n_bins_observed 0 and NULL psi/band, never dropped; NULL group
    keys are excluded like NULL values."""
    from pyspark.sql import functions as F

    from sutro_spark.functions.stats import psi_drift, psi_drift_grouped

    rows = (
        [("a", float(v)) for v in range(100)]
        + [("b", float(v) * 3) for v in range(80)]
        + [(None, 1.0)]
    )
    old = spark.createDataFrame(rows, "g string, x double")
    new_rows = (
        [("a", float(v)) for v in range(50)] * 2  # a shifts low
        + [("b", float(v) * 3) for v in range(80)]  # b identical
        + [("c", float(v)) for v in range(10)]  # no reference
        + [(None, 2.0)]
    )
    new = spark.createDataFrame(new_rows, "g string, x double")

    got = {
        r["g"]: r
        for r in psi_drift_grouped(
            old, new, "g", "x", bins=10, range_on="old"
        ).collect()
    }
    assert set(got) == {"a", "b", "c"}  # NULL key excluded, c kept
    for g in ("a", "b"):
        want = psi_drift(
            old.where(F.col("g") == g),
            new.where(F.col("g") == g),
            "x",
            bins=10,
            range_on="old",
        ).first()
        for c in ("n_old", "n_new", "n_bins_observed", "psi_nano", "band"):
            assert got[g][c] == want[c], (g, c)
    assert got["a"]["band"] == "major" and got["b"]["band"] == "stable"
    c_row = got["c"]
    assert c_row["n_old"] == 0 and c_row["n_new"] == 10
    assert c_row["n_bins_observed"] == 0
    assert c_row["psi_nano"] is None and c_row["band"] is None


def _psi_python(oc, nc, edges):
    """Python replay of the shared PSI finish (Laplace +1 over the
    observed-bin universe, floored micro shares, milli-log2 surrogate)
    given precomputed quantile edges."""
    from collections import Counter

    def ml(f):
        e = f.bit_length() - 1
        return 1000 * e + ((f - (1 << e)) * 1000) // (1 << e)

    def b(c):
        return sum(1 for e in edges if c >= e)

    bo, bn = Counter(b(c) for c in oc), Counter(b(c) for c in nc)
    univ = sorted(set(bo) | set(bn))
    B = len(univ)
    na, nb = len(oc) + B, len(nc) + B
    psi = 0
    for bin_ in univ:
        a_, b_ = bo.get(bin_, 0) + 1, bn.get(bin_, 0) + 1
        dp = (1_000_000 * a_) // na - (1_000_000 * b_) // nb
        psi += dp * (ml(a_) - ml(b_) - ml(na) + ml(nb))
    return psi, B


def _quantile_edges_python(oc, bins):
    """Python replay of _quantile_bin_counts' edge rule: edge_j is the
    exact ceil(j*n/bins)-th order statistic of the reference cents."""
    n = len(oc)
    s = sorted(oc)
    edges = []
    for j in range(1, bins):
        t = (j * n + bins - 1) // bins
        edges.append(s[t - 1])
    return sorted(edges)


def test_psi_quantile_matches_python_surrogate(spark):
    # bit-exact replay of the equal-mass-reference rule: edges from
    # the old snapshot's fine-histogram quantiles, searchsorted
    # binning (ties to the upper bin), then the byte-shared finish
    from sutro_spark.functions.stats import psi_drift

    old_vals = [float(v) for v in range(100)]
    new_vals = [float(v) for v in range(50)] * 2
    old = spark.createDataFrame([(v,) for v in old_vals], "x double")
    new = spark.createDataFrame([(v,) for v in new_vals], "x double")
    row = psi_drift(old, new, "x", bins=10, binning="quantile").collect()[0]

    oc = [round(v * 100) for v in old_vals]
    nc = [round(v * 100) for v in new_vals]
    edges = _quantile_edges_python(oc, 10)
    psi, B = _psi_python(oc, nc, edges)
    assert row["psi_nano"] == psi
    assert row["n_bins_observed"] == B
    assert row["band"] == "major"
    same = psi_drift(old, old, "x", bins=10, binning="quantile").collect()[0]
    assert same["psi_nano"] == 0 and same["band"] == "stable"


def test_psi_quantile_catches_what_width_misses_on_heavy_tail(spark):
    """The reason quantile bins are the industry convention: one
    outlier stretches the equi-width range so the entire body lands in
    bin 0 and a REAL body shift scores ~zero; equal-mass reference
    bins keep resolution where the mass is and flag it."""
    from sutro_spark.functions.stats import psi_drift

    outlier = [1_000_000.0]
    old_vals = [v / 100.0 for v in range(100)] + outlier
    new_vals = [0.5 + v / 200.0 for v in range(100)] + outlier  # body up
    old = spark.createDataFrame([(v,) for v in old_vals], "x double")
    new = spark.createDataFrame([(v,) for v in new_vals], "x double")

    width = psi_drift(old, new, "x", bins=10).collect()[0]
    quant = psi_drift(old, new, "x", bins=10, binning="quantile").collect()[0]
    assert width["band"] == "stable"  # the miss: body hidden in bin 0
    assert quant["band"] == "major"
    assert quant["psi_nano"] > 10 * max(width["psi_nano"], 1)
    # and the resolution story: width sees ~2 occupied bins, quantile
    # keeps ~bins of them on the body
    assert width["n_bins_observed"] <= 3
    assert quant["n_bins_observed"] >= 8


def test_psi_quantile_out_of_range_new_mass_in_end_bins(spark):
    # new values beyond the reference range land in the unbounded end
    # bins (no frozen-range drop, no negative bins)
    from sutro_spark.functions.stats import psi_drift

    old = spark.createDataFrame([(float(v),) for v in range(100)], "x double")
    new = spark.createDataFrame(
        [(-50.0,)] * 5 + [(500.0,)] * 5 + [(float(v),) for v in range(100)],
        "x double",
    )
    row = psi_drift(old, new, "x", bins=10, binning="quantile").collect()[0]
    assert row["n_old"] == 100 and row["n_new"] == 110
    # every new row is binned: universe stays within the 10 quantile
    # bins (end bins absorb the out-of-range mass)
    assert row["n_bins_observed"] == 10


def test_psi_quantile_grouped_equals_global_per_group(spark):
    from pyspark.sql import functions as F

    from sutro_spark.functions.stats import psi_drift, psi_drift_grouped

    rows = [("a", float(v)) for v in range(100)] + [
        ("b", float(v) * 3) for v in range(80)
    ]
    old = spark.createDataFrame(rows, "g string, x double")
    new_rows = (
        [("a", float(v)) for v in range(50)] * 2
        + [("b", float(v) * 3) for v in range(80)]
        + [("c", float(v)) for v in range(10)]  # no reference edges
    )
    new = spark.createDataFrame(new_rows, "g string, x double")
    got = {
        r["g"]: r
        for r in psi_drift_grouped(
            old, new, "g", "x", bins=10, binning="quantile"
        ).collect()
    }
    assert set(got) == {"a", "b", "c"}
    for g in ("a", "b"):
        want = psi_drift(
            old.where(F.col("g") == g),
            new.where(F.col("g") == g),
            "x",
            bins=10,
            binning="quantile",
        ).first()
        for c in ("n_old", "n_new", "n_bins_observed", "psi_nano", "band"):
            assert got[g][c] == want[c], (g, c)
    assert got["c"]["n_bins_observed"] == 0
    assert got["c"]["psi_nano"] is None and got["c"]["band"] is None


def test_psi_quantile_validations(spark):
    import pytest

    from sutro_spark.functions.stats import psi_drift, psi_drift_grouped

    df = spark.createDataFrame([(1.0,)], "x double")
    gdf = spark.createDataFrame([("a", 1.0)], "g string, x double")
    with pytest.raises(ValueError, match="range_on does not apply"):
        psi_drift(df, df, "x", binning="quantile", range_on="old")
    with pytest.raises(ValueError, match="bins >= 2"):
        psi_drift(df, df, "x", bins=1, binning="quantile")
    with pytest.raises(ValueError, match="width.*quantile|quantile.*width"):
        psi_drift(df, df, "x", binning="bogus")
    with pytest.raises(ValueError, match="range_on does not apply"):
        psi_drift_grouped(gdf, gdf, "g", "x", binning="quantile", range_on="old")


def test_canonical_url_is_idempotent(spark):
    # a canonicalizer must be a fixpoint: canonical(canonical(u)) ==
    # canonical(u) for every fixture shape (ports, tracking params,
    # fragments with '?', non-URLs, NULLs)
    from sutro_spark.functions.web import canonical_url

    urls = [
        "http://Site.com:80/a/b/?utm_source=x&b=2&a=1#frag",
        "https://site.com/a/b?b=2&a=1",
        "HTTPS://SITE.com:443",
        "not a url",
        None,
        "http://h.com/p?fbclid=abc&ref=tw",
        "http://h.com:8080/p/",
        "http://a.com/b#x?y=1",
        "https://app.com/#/route?id=3",
        "http://a.com/p?b=2#sec?x=1",
    ]
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "doc_id long, url string"
    )
    once = {r["id"]: r["canonical"] for r in canonical_url(df).collect()}
    again_df = spark.createDataFrame(
        [(i, c) for i, c in once.items()], "doc_id long, url string"
    )
    twice = {r["id"]: r["canonical"] for r in canonical_url(again_df).collect()}
    assert once == twice


def test_registered_domain_output_invariants(spark):
    # structural properties over a host zoo: the result is always ''
    # or a lowercase dot-suffix of the lowercased host with at least
    # two labels, and never a bare public suffix from the snapshot
    from sutro_spark.functions.web import PSL_SNAPSHOT, registered_domain

    hosts = [
        "www.example.co.uk", "EXAMPLE.COM", "a.b.c.d.e.ac.jp",
        "x.k12.ca.us", "k12.ca.us", "pvt.k12.ma.us", "one",
        "", "a..b.com", "sub.example.github.io", "www.co.uk",
        "example.com.au", "deep.sub.example.gov.uk",
    ]
    df = spark.createDataFrame(
        [(i, h) for i, h in enumerate(hosts)], "i long, host string"
    )
    rows = df.select(
        "i", "host", registered_domain(F.col("host")).alias("d")
    ).collect()
    psl = set(PSL_SNAPSHOT)
    for r in rows:
        d, h = r["d"], (r["host"] or "").lower()
        if d == "":
            continue
        assert h == d or h.endswith("." + d), (h, d)
        assert "." in d
        assert d == d.lower()
        assert d not in psl  # a registered domain is suffix + 1 label
