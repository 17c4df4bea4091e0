"""Distributed BPE merge induction (tokenizer vocabulary learning).

North-star extension (the reference has no
tokenizer surface; its SDK defers tokenization to the service side,
reference sdk.py). Learns the first ``rounds`` byte-pair-encoding
merges over a corpus the way Sennrich et al. (ACL 2016) defines them:
count adjacent symbol pairs weighted by word frequency, merge the most
frequent pair everywhere (greedy left-to-right, non-overlapping),
repeat.

Spark-first shape — the classic single-machine trainer keeps a heap of
pair counts; the distributed equivalent:

1. ONE pass over the corpus aggregates words → (word, weight): all
   further rounds run over the *distinct vocabulary* weighted by
   frequency, so corpus size stops mattering after the first shuffle
   (the standard BPE trick, here it is also the 100 TB trick).
2. Per round: adjacent pairs explode from each word's symbol sequence
   (linear in word length), a map-side-combinable sum shuffles on the
   pair, and the argmax pair comes back as a BOUNDED 1-ROW COLLECT
   (TakeOrdered, tie-broken deterministically: max count, then
   lexicographic pair). Iterative trainers are driver-coordinated in
   every production system (Spark MLlib's Lloyd loop collects k
   centroids per iteration the same way); one row per round is the
   repo's sanctioned bounded-collect shape, and it is what keeps the
   training plan LINEAR in rounds — the earlier all-lazy formulation
   (argmax as a broadcast cross join) referenced the previous round's
   vocabulary twice per round, doubling the logical plan every round
   (2^rounds nodes — a 30-merge run died in the planner).
3. The merge applies as a plain string replace over a control-char
   wrapped symbol encoding: symbols render as \\x01sym\\x02 so the
   pattern \\x01a\\x02\\x01b\\x02 can only match at true symbol
   boundaries, and engine ``replace`` (left-to-right, non-overlapping
   in both Spark and DuckDB) gives exactly BPE's greedy merge
   semantics — overlapping runs like 'aaa' merge to ('aa','a').

Lineage discipline: the weighted vocabulary is materialized ONCE up
front — so per-round jobs re-read the small distinct-word table, never
the corpus — and again every ``_CHECKPOINT_EVERY`` rounds so replay
depth stays bounded regardless of ``rounds``. Training exhausts early
(vocabulary fully merged) by breaking when a round finds no pairs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sutro_spark.functions.text import tokens
from sutro_spark.session import cache_barrier

__all__ = ["bpe_apply", "bpe_merges", "bpe_segment", "bpe_vocab"]

_L = "\x01"
_R = "\x02"

# re-materialize the vocabulary every N merge rounds; ~20 keeps the
# per-round replay depth flat while paying only rounds/20
# materializations (each is the small distinct-word table, not the
# corpus)
_CHECKPOINT_EVERY = 20

#: r17 (guide §5 driver discipline — the qdigest r16 precedent): when
#: the materialized weighted vocabulary has at most this many rows, the
#: merge rounds run in Python over the collected table instead of one
#: TakeOrdered job per round. The vocabulary is BOUNDED TRAINER STATE
#: (distinct words), not corpus data, and the gate reads the ACTUAL row
#: count of the already-materialized table — a web-scale vocabulary
#: keeps the distributed per-round jobs. 2^16 (w, weight, ws) rows is
#: a few MB, two orders under the driver-result limit.
_DRIVER_VOCAB_ROWS = 1 << 16

#: The row gate alone does not bound the collected bytes: ``ws`` wraps
#: every character in two markers, so a vocabulary of a few long distinct
#: tokens (URLs, base64, DNA) is large in few rows. The Python route also
#: needs the wrapped words to total at most this many UTF-8 bytes.
_DRIVER_VOCAB_BYTES = 1 << 24


def _wrapped_chars(col) -> F.Column:
    """word → '\\x01c1\\x02\\x01c2\\x02...' (one wrapped symbol per char)."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length(col)),
        lambda i: col.substr(i, F.lit(1)),
    )
    return F.concat_ws(
        "", F.transform(chars, lambda s: F.concat(F.lit(_L), s, F.lit(_R)))
    )


def _symbols(ws) -> F.Column:
    """wrapped string → array of symbols (strip outer markers, split on
    the \\x02\\x01 boundary). Accepts a column name or Column."""
    c = F.col(ws) if isinstance(ws, str) else ws
    inner = c.substr(F.lit(2), F.length(c) - 2)
    return F.split(inner, f"{_R}{_L}")


def _train(df: DataFrame, text_column: str, rounds: int):
    """Shared trainer: returns (list of (round, lhs, rhs, weight)
    tuples, the final segmented vocabulary DF (w, weight, ws), the live
    cached table that DF reads — None when the Python route already
    released it). The vocabulary tables are cached, not checkpointed:
    ``bpe_segment`` returns a lazy plan over the word table, and
    clearCache must reach its blocks.

    On the distributed route every ``_CHECKPOINT_EVERY`` rounds a
    rotation is rebuilt from the cached word table plus the merges so
    far and cached, and the rotation it supersedes is released; the
    result is the word table plus every merge, and the last rotation
    is released too. So no cached plan holds another rotation: the
    result's executed-plan text is 9.8k characters at 100 rounds (61
    merges), where rotations cached on top of each other reached 60k.
    Measured on one 62-character word, local[4], 4 alternating runs
    per side in one session: 100 rounds trained in a median of 10.0 s
    either way, and ``bpe_segment`` plus its collect took 9.0 s against
    10.2 s with nested rotations.

    Eager by design: each round runs one TakeOrdered job over the
    materialized distinct-word table and collects the single winning
    pair to the driver (see module docstring for why this is the
    linear-plan shape)."""
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    words = (
        df.select(F.explode(tokens(F.coalesce(F.col(text_column), F.lit("")))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    # materialize the weighted vocabulary ONCE: every later round reads
    # this small table, never the corpus again (the standard BPE trick
    # — and at 100 TB the difference between 1 and `rounds` scans)
    cur = words.select(
        "w", "weight", _wrapped_chars(F.col("w")).alias("ws")
    ).transform(cache_barrier)
    # r17: a bounded vocabulary routes every merge round to Python over
    # the collected table — the rule is EXACTLY the distributed one
    # (per-position pair counts weighted by word frequency; winner =
    # max count, ties to the lexicographically smallest (l, r); merge
    # applied as left-to-right non-overlapping replace, which is what
    # str.replace does), so the learned merges are bit-identical — the
    # bpe [Q] oracles replay training and stay strict-green. Measured
    # at sf0.1 (31-word vocab, rounds=4): one TakeOrdered job per
    # round -> zero; bpe_merges 1.82 -> 0.94 s, bpe_encode 3.23 -> 2.55 s.
    size = cur.agg(
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(F.octet_length("ws")), F.lit(0)).alias("bytes"),
    ).first()
    if size["rows"] <= _DRIVER_VOCAB_ROWS and size["bytes"] <= _DRIVER_VOCAB_BYTES:
        vocab = [(r["w"], int(r["weight"]), r["ws"]) for r in cur.collect()]
        cur.unpersist()  # Python owns the state now
        merges = []
        for r in range(1, rounds + 1):
            pc: dict[tuple[str, str], int] = {}
            for _w, wt, ws in vocab:
                syms = ws[1:-1].split(f"{_R}{_L}") if len(ws) >= 2 else [ws]
                for pair in zip(syms, syms[1:]):
                    pc[pair] = pc.get(pair, 0) + wt
            if not pc:
                break
            (ml, mr), mcnt = min(
                pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            merges.append((r, ml, mr, int(mcnt)))
            pat = f"{_L}{ml}{_R}{_L}{mr}{_R}"
            rep = f"{_L}{ml}{mr}{_R}"
            vocab = [(w, wt, ws.replace(pat, rep)) for w, wt, ws in vocab]
        cur_df = df.sparkSession.createDataFrame(
            vocab, "w string, weight long, ws string"
        )
        return merges, cur_df, None
    merges = []
    words, rotation, done = cur, cur, 0
    for r in range(1, rounds + 1):
        cur = _merged(rotation, merges[done:])
        top = (
            cur.select("weight", _symbols("ws").alias("syms"))
            .where(F.size("syms") >= 2)
            .select(
                "weight",
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(syms) - 2),"
                        " i -> struct(syms[i] AS l, syms[i + 1] AS r))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("weight").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()  # bounded: exactly one (l, r, cnt) row per round
        )
        if not top:
            break  # vocabulary fully merged before `rounds` exhausted
        merges.append((r, top[0].l, top[0].r, int(top[0].cnt)))
        if r % _CHECKPOINT_EVERY == 0 and r < rounds:
            # bound replay depth: without this, round r's TakeOrdered
            # job replays r literal replaces over the vocabulary; with
            # it, at most _CHECKPOINT_EVERY. The rotation is rebuilt
            # from the word table, not from the rotation before it, so
            # cached plans never nest
            nxt = _merged(words, merges).transform(cache_barrier)
            if rotation is not words:
                rotation.unpersist()  # nothing reads the superseded one now
            rotation, done = nxt, len(merges)
    if rotation is not words:
        rotation.unpersist()
    return merges, _merged(words, merges), words


def _merged(vocab: DataFrame, merges: list) -> DataFrame:
    """``vocab``'s (w, weight, ws) with each merge applied to ``ws`` in
    order, as a literal replace of the wrapped pair."""
    ws = F.col("ws")
    for _, ml, mr, _ in merges:
        ws = F.replace(ws, F.lit(f"{_L}{ml}{_R}{_L}{mr}{_R}"), F.lit(f"{_L}{ml}{mr}{_R}"))
    return vocab.select("w", "weight", ws.alias("ws"))


def bpe_merges(
    df: DataFrame,
    *,
    text_column: str = "text",
    rounds: int = 3,
) -> DataFrame:
    """Learn the first ``rounds`` BPE merges over ``text_column``.

    Output: (round bigint, lhs string, rhs string, weight bigint) — one
    row per learned merge, ``weight`` = corpus frequency of the pair at
    the time it was merged (weighted by word occurrence count). May
    return fewer than ``rounds`` rows when the vocabulary is fully
    merged early (zero rows for an empty/whitespace corpus).
    """
    merges, _, ckpt = _train(df, text_column, rounds)
    # the merge table is the only output here: on the distributed route
    # the word table or last rotation can never be read again, so free
    # its blocks (the Python route released it already)
    if ckpt is not None:
        ckpt.unpersist()
    return df.sparkSession.createDataFrame(
        merges, "round long, lhs string, rhs string, weight long"
    )


def bpe_segment(
    df: DataFrame,
    *,
    text_column: str = "text",
    rounds: int = 3,
) -> DataFrame:
    """Train ``rounds`` merges, then return the segmented vocabulary:
    (w, weight, subwords array<string>) — the APPLY step of BPE, per
    distinct word (join back on the word to tokenize a corpus; the
    vocabulary is many orders smaller than the corpus, so the apply
    step broadcasts at any realistic scale)."""
    _, cur, _ = _train(df, text_column, rounds)
    return cur.select("w", "weight", _symbols("ws").alias("subwords"))


def bpe_vocab(
    df: DataFrame,
    *,
    text_column: str = "text",
    rounds: int = 3,
    top: int = 20,
) -> DataFrame:
    """Subword vocabulary report after ``rounds`` merges: the ``top``
    subwords by corpus frequency (weighted by word count), ties broken
    lexicographically. Output: (subword, n_words bigint — distinct
    words containing it, occurrences bigint)."""
    seg = bpe_segment(df, text_column=text_column, rounds=rounds)
    return (
        seg.select("w", "weight", F.explode("subwords").alias("subword"))
        .groupBy("subword")
        .agg(
            F.count_distinct(F.col("w")).alias("n_words"),
            F.sum("weight").cast("long").alias("occurrences"),
        )
        .orderBy(F.desc("occurrences"), F.asc("subword"))
        .limit(top)
    )


#: Largest merge table the expression path accepts: each merge is one
#: `replace` node, and a chain deeper than this risks janino's 64 KB
#: per-method codegen budget (documented repo-wide) plus quadratic
#: Catalyst analysis cost. Real tokenizers (32k-100k merges) route to
#: the Arrow encoder.
_EXPR_MERGE_LIMIT = 256


def _arrow_subword_counts(merges: list[tuple[str, str]]):
    """Arrow-batched canonical BPE encoder: word -> subword count under
    a frozen rank-ordered merge table.

    This is the standard tokenizer apply loop (GPT-2 / HuggingFace
    `bpe()`): repeatedly merge the LOWEST-RANK adjacent pair present in
    the word (all its occurrences, greedy left-to-right), until no
    table pair applies. Cost is O(len^2) dict lookups per word —
    independent of merge-table size, which is exactly why 32k-100k
    merge tables need this path and not a 32k-deep expression chain.

    Python is justified here by the multimodal precedent: the rank-dict
    argmin genuinely cannot be expressed in Catalyst without one plan
    node per merge, and the UDF runs over the DISTINCT-WORD table
    (vocabulary-sized), never the corpus.
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    ranks = {pair: i for i, pair in enumerate(merges)}

    @pandas_udf(LongType())
    def n_sub(words: pd.Series) -> pd.Series:
        def encode(w: str) -> int:
            syms = list(w)
            while len(syms) >= 2:
                best = None
                best_rank = None
                for i in range(len(syms) - 1):
                    r = ranks.get((syms[i], syms[i + 1]))
                    if r is not None and (best_rank is None or r < best_rank):
                        best_rank = r
                        best = (syms[i], syms[i + 1])
                if best is None:
                    break
                out = []
                i = 0
                while i < len(syms):
                    if i < len(syms) - 1 and (syms[i], syms[i + 1]) == best:
                        out.append(syms[i] + syms[i + 1])
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            return len(syms)

        return words.map(encode).astype("int64")

    return n_sub


def bpe_apply(
    df: DataFrame,
    merges: list[tuple[str, str]],
    *,
    text_column: str = "text",
    id_column: str = "doc_id",
    engine: str = "auto",
) -> DataFrame:
    """Tokenize NEW text under a FROZEN merge table — the deployment
    half of BPE that `bpe_segment` (which trains and applies on the
    same corpus) does not cover: train merges on corpus A once, then
    count real subword tokens over corpus B / every future batch.
    Token counts under the ACTUAL tokenizer are what packing, budget
    allocation, and serving-cost estimates should consume; the
    whitespace and BPE-ish regex counters are proxies.

    ``merges`` is the driver-side (lhs, rhs) list in rank order. Two
    application engines:

    - ``expr`` — each merge folds as ONE codegen'd `replace` over the
      wrapped-symbol string (the `_train` application): a single-pass
      rank-order fold, oracle-expressible in SQL, and bounded at
      ``_EXPR_MERGE_LIMIT`` merges (a deeper chain blows janino's
      64 KB codegen budget — this path does NOT target the 32k-100k
      regime and raises rather than degrade silently).
    - ``arrow`` — the canonical tokenizer apply loop (lowest-rank
      iterative merge, the GPT-2/HF semantics) as an Arrow-batched
      UDF over the distinct-word table; cost independent of table
      size, so this IS the 32k-100k-merge production path.
    - ``auto`` (default) — expr when len(merges) fits its bound, else
      arrow.

    The two engines agree on every table produced by BPE TRAINING
    (each merge's operands are symbols created by strictly earlier
    merges, so the single-pass fold and the iterative loop pick the
    same merges — path-equality tested in tests/test_bpe.py). A
    hand-built table where a LATER merge manufactures an occurrence
    of an EARLIER pair can diverge; the arrow path's iterative
    semantics is the canonical one.

    Plan: distinct words (one map-side-combinable groupBy — the only
    corpus-wide shuffle), the merge application over the
    vocabulary-sized table, one join back onto per-doc word rows, one
    per-doc sum.

    Output: (id, n_words, n_subwords, tokens_per_word_milli) —
    wordless documents are absent (no tokens to count).
    """
    if engine not in ("auto", "expr", "arrow"):
        raise ValueError(f"engine must be auto|expr|arrow, got {engine!r}")
    if engine == "auto":
        engine = "expr" if len(merges) <= _EXPR_MERGE_LIMIT else "arrow"
    if engine == "expr" and len(merges) > _EXPR_MERGE_LIMIT:
        raise ValueError(
            f"bpe_apply(engine='expr'): {len(merges)} merges exceeds the "
            f"expression-chain bound ({_EXPR_MERGE_LIMIT}); production-scale "
            "merge tables must use engine='arrow' (or 'auto')"
        )
    wd = df.select(
        F.col(id_column).cast("long").alias("__id"),
        F.explode(
            tokens(F.coalesce(F.col(text_column), F.lit("")))
        ).alias("w"),
    )
    if engine == "expr":
        ws = _wrapped_chars(F.col("w"))
        for lhs, rhs in merges:
            ws = F.replace(
                ws,
                F.lit(f"{_L}{lhs}{_R}{_L}{rhs}{_R}"),
                F.lit(f"{_L}{lhs}{rhs}{_R}"),
            )
        nsub = F.size(_symbols(ws)).cast("long")
    else:
        nsub = _arrow_subword_counts(merges)(F.col("w"))
    seg = (
        wd.select("w")
        .distinct()
        .select("w", nsub.alias("__nsub"))
    )
    return (
        wd.join(seg, "w")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("__nsub").cast("long").alias("n_subwords"),
        )
        .select(
            F.col("__id").alias(id_column),
            "n_words",
            "n_subwords",
            F.expr(
                "CAST((1000 * n_subwords) div n_words AS BIGINT)"
            ).alias("tokens_per_word_milli"),
        )
    )
