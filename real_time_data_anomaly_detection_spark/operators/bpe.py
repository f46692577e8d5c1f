"""Distributed BPE merge learning — tokenizer training as DataFrame
iterations.

Classic byte-pair-encoding training (Sennrich et al. 2016; the GPT-2
tokenizer recipe) loops: count adjacent symbol pairs over the word
frequency dictionary, take the most frequent pair, fuse it everywhere,
repeat. The Spark formulation keeps the WORD DICTIONARY distributed —
the corpus itself is touched exactly once (the word-count aggregation);
every merge round then runs over the dict:

- pair counts: one explode of adjacent pairs weighted by word count +
  one partial-aggregated groupBy (a dict-sized shuffle, never
  corpus-sized);
- the argmax pair: a 1-row driver collect (deterministic tiebreak
  count DESC, then pair ASC);
- the fuse: a JVM-side ``aggregate`` left fold over each word's symbol
  array — greedy leftmost-first, matching the reference semantics
  ("aaa" + merge(a,a) -> ["aa","a"]) — with an eager
  ``localCheckpoint`` per round so the plan does not accrete one fold
  per merge (cf. dedup.py connected-components).

No Python touches a row: the fold is a Catalyst higher-order function.
The driver holds only the learned merge table (n_merges rows).

Iterative + argmax per round => not SQL-expressible; declared
rows-only (like q_kmeans) with exact-parity tests against a pure
Python reference implementation (tests/test_bpe.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_data_anomaly_detection_spark.io import load_table
from real_time_data_anomaly_detection_spark.operators.registry import query
from real_time_data_anomaly_detection_spark.plans.inspect import materialize


def word_counts(
    docs: DataFrame, text_col: str = "text", out_word: str = "word"
) -> DataFrame:
    """(word, cnt) dictionary from whitespace-tokenized documents —
    the one corpus-sized pass of BPE training."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias(out_word))
        .filter(F.length(out_word) > 0)
        .groupBy(out_word)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _fuse(syms: Column, left: str, right: str) -> Column:
    """Greedy leftmost non-overlapping fuse of the (left, right) pair
    in a symbol array, as a JVM left fold."""
    fused = F.lit(left + right)
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(fused)),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_train(
    words: DataFrame,
    n_merges: int,
    word_col: str = "word",
    count_col: str = "cnt",
    batch_size: int = 1,
) -> list[tuple[int, str, str, int]]:
    """Learn ``n_merges`` BPE merges from a (word, count) dictionary;
    returns [(rank, left, right, pair_count)], deterministic under any
    partitioning (ties broken count DESC then (left, right) ASC).

    ``batch_size=B`` applies the standard merge-batching trick: each
    round collects the top candidates once and greedily picks up to B
    pairs that are pairwise disjoint on SYMBOLS (no member consumes
    another's operand) and on CREATIONS (no member
    touches a symbol equal to an earlier member's left+right
    concatenation — without this, ('a','b') then ('ab','x') would let
    the second fusion consume 'ab' tokens that did not exist when its
    count was measured), fusing them all in one pass. Under both rules
    fusing (a,b) cannot create, destroy, or re-rank occurrences of
    (c,d), so every recorded pair_count equals its pre-batch count.
    B=1 reproduces the
    classic sequential algorithm merge-for-merge. At a real 32k-merge
    vocabulary, B=8 cuts driver round-trips (one collect + one
    checkpoint per ROUND, not per merge) ~8×; the batched schedule can
    differ from sequential BPE's (sequential recounts between merges —
    a freshly fused token's pairs may outrank the next batch member),
    which is why the B>1 variant is parity-tested against a pure-Python
    reference implementing the SAME batching rule (tests/test_bpe.py).
    """
    if batch_size < 1:
        raise ValueError(f"batch_size must be >= 1, got {batch_size}")
    # eager=False throughout: each round's pair-count collect is the
    # first action on the previous round's checkpoint, so it
    # materializes the fused dict and counts pairs in ONE job instead
    # of two per merge round (same job merge as connected_components).
    # Unmergeable words are dropped from the carried state: a
    # single-symbol word has no adjacent pair and can never match a
    # future merge; it was already excluded from every count, so the
    # learned merges are unchanged by construction, but the 10..32k
    # rounds checkpoint and scan a shrinking dict.
    # Placement matters: at init the filter tests the RAW word length
    # (pushable, no double-eval of the split); per round it sits ABOVE
    # the checkpoint so it reads materialized rows — a filter on the
    # un-checkpointed fold column would inline the whole fuse
    # expression a second time per row (measured 2-3× slower).
    sym = materialize(
        words.filter(F.length(word_col) >= 2).select(
            F.split(F.col(word_col), "").alias("syms"),
            F.col(count_col).alias("cnt"),
        ),
        eager=False,
    )
    merges: list[tuple[int, str, str, int]] = []
    while len(merges) < n_merges:
        want = min(batch_size, n_merges - len(merges))
        # Over-collect (4x) so the disjointness filter usually still
        # fills the batch; an under-filled batch only costs an extra
        # round, never correctness.
        # sym is pre-filtered to size >= 2 (see the checkpoint above),
        # so sequence(1, size-1) is always ascending here — Spark's
        # sequence(1, 0) would yield the DESCENDING [1, 0], never an
        # empty array
        top = (
            sym
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1),"
                        " i -> struct(syms[i-1] AS l, syms[i] AS r))"
                    )
                ).alias("p"),
                "cnt",
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.desc("n"), "l", "r")
            .limit(want if want == 1 else want * 4)
            .collect()
        )
        if not top:
            break
        used: set[str] = set()
        created: set[str] = set()
        batch: list[tuple[str, str, int]] = []
        for row in top:
            if len(batch) >= want:
                break
            # disjointness is on SYMBOLS (no member may consume another
            # member's operand) AND on CREATION: a candidate touching a
            # symbol an earlier member's fusion CREATES (its left+right
            # concatenation) would see tokens that did not exist when
            # its pair_count was measured — e.g. ('a','b') then
            # ('ab','x') — making the recorded count stale.
            if row.l in used or row.r in used:
                continue
            if row.l in created or row.r in created:
                continue
            used.update((row.l, row.r))
            created.add(row.l + row.r)
            batch.append((row.l, row.r, int(row.n)))
        col = F.col("syms")
        for left, right, n in batch:
            merges.append((len(merges), left, right, n))
            col = _fuse(col, left, right)
        sym = materialize(sym.withColumn("syms", col), eager=False).filter(
            F.size("syms") >= 2
        )
    return merges


def bpe_apply(
    df: DataFrame, merges: list[tuple[int, str, str, int]], word_col: str = "word"
) -> DataFrame:
    """Tokenize a word column with a learned merge table: the same
    greedy folds applied in rank order, one chained JVM expression —
    usable corpus-wide (one pass, no shuffle)."""
    syms = F.split(F.col(word_col), "")
    for _, left, right, _ in merges:
        syms = _fuse(syms, left, right)
    return df.withColumn("tokens", syms)


@query("q_bpe_merges")  # iterative argmax per round -> rows-only
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 10 BPE merges learned from the documents word dictionary:
    (rank, left, right, pair_count). Exact-parity with the pure-Python
    reference implementation, greedy-overlap semantics, and partition
    invariance are pinned in tests/test_bpe.py."""
    d = load_table(spark, sf_dir, "documents")
    merges = bpe_train(word_counts(d), n_merges=10)
    from real_time_data_anomaly_detection_spark.io import local_df

    return local_df(
        spark, merges, "rank int, left string, right string, pair_count long"
    ).orderBy("rank")


# --- Corpus-scale ENCODE with a fixed merge table (oracle-backed) ----------

#: Rank-ordered demonstration merge table for the oracle-backed encode
#: query: the "table" chain ((t,a) -> (l,e) -> (ta,b) -> (tab,le))
#: exercises multi-character merges on BOTH operands; the "scan" chain
#: exercises a growing left operand; (v,a) fires mid-word in "value".
_ENCODE_MERGES: list[tuple[str, str]] = [
    ("t", "a"),
    ("l", "e"),
    ("ta", "b"),
    ("tab", "le"),
    ("s", "c"),
    ("sc", "a"),
    ("sca", "n"),
    ("v", "a"),
]


def bpe_encode_fixed(
    df: DataFrame, merges: list[tuple[str, str]], word_col: str = "word"
) -> DataFrame:
    """BPE ENCODE with a fixed merge table as ONE chained
    whole-stage-codegen string expression — the corpus-scale fast path
    next to :func:`bpe_apply`'s array folds (parity between the two is
    pinned in tests/test_bpe.py, including overlap words like "aaa").

    Each word is rendered with every symbol wrapped in parentheses
    ("table" -> "(t)(a)(b)(l)(e)"); a merge (l, r) is then ONE
    ``replace(s, '(l)(r)', '(lr)')``. String replace-all scans left to
    right non-overlapping, which IS the greedy leftmost-first fusion
    BPE specifies ("(a)(a)(a)" + merge(a,a) -> "(aa)(a)"), and the
    wrapping makes symbol boundaries explicit so a merge can never
    match inside a longer symbol: ("l","r") does not fire on
    "(l)(rx)".

    Precondition: symbols must not contain ``(`` or ``)`` — callers
    filter to the token alphabet first (the query below keeps
    ``^[a-z]+$`` words).

    Scale shape: zero shuffles, zero Python, zero per-merge state —
    M merges compile into M nested ``StringReplace`` expressions in a
    single codegen stage over whatever relation carries the words (the
    word DICTIONARY here, so the corpus is touched once by
    word_counts; applying it straight to document text costs one map
    pass at 100 TB)."""
    s = F.regexp_replace(F.col(word_col), "(.)", "($1)")
    for left, right in merges:
        s = F.replace(s, F.lit(f"({left})({right})"), F.lit(f"({left}{right})"))
    toks = F.split(
        F.regexp_replace(F.regexp_replace(s, "\\)\\(", " "), "[()]", ""), " "
    )
    return df.withColumn("tokens", toks)


def _bpe_encode_oracle() -> str:
    s = r"regexp_replace(word, '(.)', '(\1)', 'g')"
    for left, right in _ENCODE_MERGES:
        s = f"replace({s}, '({left})({right})', '({left}{right})')"
    return f"""
        WITH wc AS (
            SELECT w AS word, count(*) AS cnt FROM (
                SELECT unnest(string_split(text, ' ')) AS w
                FROM documents)
            WHERE regexp_full_match(w, '[a-z]+')
            GROUP BY w),
        enc AS (SELECT word, cnt, {s} AS s FROM wc),
        tok AS (
            SELECT cnt,
                   unnest(string_split(
                       replace(replace(replace(s, ')(', ' '),
                                       '(', ''), ')', ''), ' ')) AS token
            FROM enc)
        SELECT token, CAST(sum(cnt) AS BIGINT) AS occurrences,
               CAST(count(*) AS BIGINT) AS n_words
        FROM tok GROUP BY token
        ORDER BY occurrences DESC, token
    """


@query("q_bpe_encode", oracle=_bpe_encode_oracle())
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the documents corpus with a FIXED 8-merge BPE table and
    report the resulting token vocabulary with weighted occurrence
    counts — the ENCODE half of the tokenizer story (q_bpe_merges
    learns; this applies). The whole encode is nested StringReplace
    codegen over the word dictionary (see bpe_encode_fixed); the oracle
    replays the identical replace chain in DuckDB, so the greedy-fusion
    semantics are hash-checked cross-engine — the strongest check in
    the BPE family (training itself is iterative-argmax, rows-only)."""
    d = load_table(spark, sf_dir, "documents")
    wc = word_counts(d).filter(F.col("word").rlike("^[a-z]+$"))
    enc = bpe_encode_fixed(wc, _ENCODE_MERGES)
    return (
        enc.select(F.explode("tokens").alias("token"), "cnt")
        .groupBy("token")
        .agg(
            F.sum("cnt").cast("bigint").alias("occurrences"),
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
        )
        .orderBy(F.desc("occurrences"), "token")
    )
