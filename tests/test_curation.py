"""Semantic tests for the round-5 curation operators (chunking,
segment dedup, BM25, merge/upsert) on hand-built fixtures where the
expected output is enumerable. Oracle parity at corpus scale is
covered by the registry twins (tools/verify_oracle.py)."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from real_time_data_anomaly_detection_spark.operators.curation import (
    bm25_scores,
    chunk_documents,
    merge_upsert,
    segment_dedup,
)
from real_time_data_anomaly_detection_spark.plans import has_broadcast_join


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_chunk_boundaries_and_overlap(spark):
    """12 words, chunk=5, overlap=2 (stride 3): starts 0,3,6,9 — each
    chunk repeats the previous chunk's last 2 words, the final chunk
    is short."""
    words = [f"w{i}" for i in range(12)]
    df = _docs(spark, [(1, " ".join(words))])
    got = {
        r.chunk_idx: (r.chunk_text, r.n_words)
        for r in chunk_documents(df, chunk_words=5, overlap=2).collect()
    }
    assert got == {
        0: ("w0 w1 w2 w3 w4", 5),
        1: ("w3 w4 w5 w6 w7", 5),
        2: ("w6 w7 w8 w9 w10", 5),
        3: ("w9 w10 w11", 3),
    }


def test_chunk_short_doc_single_chunk(spark):
    df = _docs(spark, [(1, "a b c")])
    rows = chunk_documents(df, chunk_words=50, overlap=10).collect()
    assert len(rows) == 1
    assert rows[0].chunk_text == "a b c" and rows[0].n_words == 3


def test_chunk_rejects_bad_overlap(spark):
    df = _docs(spark, [(1, "a b")])
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, chunk_words=5, overlap=5)


def test_segment_dedup_strips_shared_boilerplate(spark):
    """A 4-word boilerplate segment planted in 3 docs is removed from
    all of them; doc-unique segments survive; within-doc repetition
    alone (min_docs=2 across docs) does NOT trigger removal."""
    boiler = "all rights reserved today"
    rows = [
        (1, boiler + " alpha beta gamma delta"),
        (2, boiler + " epsilon zeta eta theta"),
        (3, boiler + " iota kappa lamda mu"),
        # doc 4: repeats ITS OWN segment twice, shared with nobody
        (4, "self repeat only here self repeat only here"),
    ]
    got = {
        r.doc_id: r
        for r in segment_dedup(
            _docs(spark, rows), seg_words=4, min_docs=2
        ).collect()
    }
    assert got[1].clean_text == "alpha beta gamma delta"
    assert got[2].clean_text == "epsilon zeta eta theta"
    assert got[3].clean_text == "iota kappa lamda mu"
    assert all(got[d].n_removed == 1 and got[d].n_segments == 2 for d in (1, 2, 3))
    # within-doc duplicate counts ONE distinct doc -> kept
    assert got[4].n_removed == 0
    assert got[4].clean_text == rows[3][1]


def test_segment_dedup_fully_removed_doc_is_empty_string(spark):
    rows = [(1, "same words here"), (2, "same words here")]
    got = {
        r.doc_id: r
        for r in segment_dedup(
            _docs(spark, rows), seg_words=3, min_docs=2
        ).collect()
    }
    assert got[1].clean_text == "" and got[1].n_removed == 1
    assert got[2].clean_text == "" and got[2].n_removed == 1


def test_segment_dedup_reassembly_preserves_order(spark):
    """Kept segments rejoin in original position order regardless of
    which segment was removed."""
    shared = "x x x"
    rows = [
        (1, f"one two three {shared} seven eight nine"),
        (2, f"a b c {shared} g h i"),
    ]
    got = {
        r.doc_id: r.clean_text
        for r in segment_dedup(_docs(spark, rows), seg_words=3, min_docs=2).collect()
    }
    assert got[1] == "one two three seven eight nine"
    assert got[2] == "a b c g h i"


def test_exact_substring_dedup_catches_shifted_copy(spark):
    """A 5-token span copied at a DIFFERENT offset in doc 2 is removed
    from both docs — the arbitrary-alignment case fixed-window
    segmentation misses — and neighboring unique tokens survive."""
    from real_time_data_anomaly_detection_spark.operators.curation import (
        exact_substring_dedup,
    )

    span = "p q r s t"
    rows = [
        (1, f"a1 b1 {span} c1 d1"),  # span at offset 2
        (2, f"a2 {span} b2 c2 d2"),  # span at offset 1
        (3, "u v w x y z u2 v2 w2"),  # no duplication
    ]
    got = {
        r.doc_id: r
        for r in exact_substring_dedup(
            _docs(spark, rows), k=5, min_count=2
        ).collect()
    }
    assert got[1].clean_text == "a1 b1 c1 d1" and got[1].n_removed == 5
    assert got[2].clean_text == "a2 b2 c2 d2" and got[2].n_removed == 5
    assert got[3].clean_text == rows[2][1] and got[3].n_removed == 0
    # sanity: the fixed-window pass does NOT catch the shifted copy
    seg = {
        r.doc_id: r.n_removed
        for r in segment_dedup(_docs(spark, rows), seg_words=5, min_docs=2).collect()
    }
    assert seg[1] == 0 and seg[2] == 0


def test_exact_substring_dedup_overlapping_marks_merge(spark):
    """Two duplicated grams overlapping by k-1 tokens mark a single
    merged span: removal counts cover the union, not the sum."""
    from real_time_data_anomaly_detection_spark.operators.curation import (
        exact_substring_dedup,
    )

    # 6-token shared run => two overlapping 5-grams, union = 6 tokens
    run = "m n o p q r"
    rows = [(1, f"x1 {run} y1"), (2, f"x2 {run} y2")]
    got = {
        r.doc_id: r
        for r in exact_substring_dedup(
            _docs(spark, rows), k=5, min_count=2
        ).collect()
    }
    assert got[1].n_removed == 6 and got[1].clean_text == "x1 y1"
    assert got[2].n_removed == 6 and got[2].clean_text == "x2 y2"


def test_exact_substring_dedup_within_doc_repeat(spark):
    """min_count counts TOTAL occurrences: a k-gram repeated twice
    inside one document is removed (both copies)."""
    from real_time_data_anomaly_detection_spark.operators.curation import (
        exact_substring_dedup,
    )

    rows = [(1, "a b c a b c x y z")]
    got = exact_substring_dedup(_docs(spark, rows), k=3, min_count=2).collect()[0]
    # grams 'a b c' at positions 1 and 4 both dup; coverage = 1..6
    assert got.clean_text == "x y z" and got.n_removed == 6


def _both_regimes(spark, tmp_path, rows, schema):
    """The same rows twice: read back from parquet (a known, small
    size estimate, so broadcast_if_small broadcasts) and held in memory
    (an unknown estimate, so it takes the shuffle branch)."""
    in_memory = spark.createDataFrame(rows, schema)
    in_memory.write.parquet(str(tmp_path / "input"))
    return spark.read.parquet(str(tmp_path / "input")), in_memory


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_exact_substring_dedup_shuffle_mode_identical(spark, tmp_path):
    """The shuffle regime (an input past the broadcast gate) returns
    exactly the same rows as the broadcast regime; the input alone
    picks which plan runs."""
    from real_time_data_anomaly_detection_spark.operators.curation import (
        exact_substring_dedup,
    )

    rows = [
        (i, " ".join(f"w{i * 15 + j}" for j in range(35))) for i in range(30)
    ]
    small, unknown = _both_regimes(spark, tmp_path, rows, "doc_id long, text string")
    bc = exact_substring_dedup(small, k=10)
    sh = exact_substring_dedup(unknown, k=10)
    assert has_broadcast_join(bc) and not has_broadcast_join(sh)
    a = _rows(bc)
    assert a == _rows(sh) and len(a) == 30
    # the sliding-window construction plants real duplicated runs
    assert any(r[2] > 0 for r in a)


def _regime_case(spark, name):
    """(input rows, input schema, the operator over that input) for an
    operator whose broadcast gates on the input."""
    from real_time_data_anomaly_detection_spark.operators.curation import cdc_apply

    if name == "segment_dedup":
        rows = [(1, "a b c x y z"), (2, "a b c p q r"), (3, "m n o x y z")]
        return rows, "doc_id long, text string", lambda d: segment_dedup(
            d, seg_words=3, min_docs=2
        )
    target = spark.createDataFrame(
        [(k, f"v{k}") for k in range(1, 6)], "k long, v string"
    )
    if name == "merge_upsert":
        rows = [(2, "b2"), (9, "new")]
        return rows, "k long, v string", lambda u: merge_upsert(target, u, "k")
    rows = [
        (1, "a2", "upsert", 1), (1, None, "delete", 2),
        (2, "b2", "upsert", 1), (9, "new", "upsert", 1),
    ]
    return rows, "k long, v string, op string, seq int", lambda c: cdc_apply(
        target, c, "k"
    )


@pytest.mark.parametrize("name", ["segment_dedup", "merge_upsert", "cdc_apply"])
def test_broadcast_regime_follows_input_size(spark, tmp_path, name):
    """Each operator's data-sized join broadcasts for an input with a
    small known estimate and shuffles for one with an unknown
    estimate, and both regimes return the same rows."""
    rows, schema, op = _regime_case(spark, name)
    small, unknown = _both_regimes(spark, tmp_path, rows, schema)
    bc, sh = op(small), op(unknown)
    assert has_broadcast_join(bc) and not has_broadcast_join(sh)
    got = _rows(bc)
    assert got and got == _rows(sh)


def test_bm25_matches_closed_form(spark):
    """Score of a tiny corpus equals the hand-computed Okapi formula."""
    rows = [
        (1, "data data spark"),
        (2, "other words only here"),
        (3, "data x y z w q"),
    ]
    got = {
        r.doc_id: r.bm25
        for r in bm25_scores(_docs(spark, rows), terms=["data", "spark"]).collect()
    }
    n, avgdl = 3, (3 + 4 + 6) / 3
    k1, b = 1.2, 0.75

    def idf(dfreq):
        return math.log((n - dfreq + 0.5) / (dfreq + 0.5) + 1.0)

    def s(tf, dl, dfreq):
        return idf(dfreq) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    assert got[2] == 0.0
    assert got[1] == pytest.approx(round(s(2, 3, 2) + s(1, 3, 1), 4), abs=1e-4)
    assert got[3] == pytest.approx(round(s(1, 6, 2), 4), abs=1e-4)


def test_bm25_rarer_term_scores_higher(spark):
    """One occurrence of a rare term beats one occurrence of a common
    term at equal doc length — the idf ordering."""
    rows = [(i, "common filler words") for i in range(1, 9)]
    rows += [(9, "rare filler words")]
    common = {
        r.doc_id: r.bm25
        for r in bm25_scores(_docs(spark, rows), terms=["common"]).collect()
    }
    rare = {
        r.doc_id: r.bm25
        for r in bm25_scores(_docs(spark, rows), terms=["rare"]).collect()
    }
    assert rare[9] > common[1] > 0


def test_incremental_agg_merge_semantics(spark):
    """Keys in both sides add; one-sided keys pass through with the
    other side treated as zero."""
    from real_time_data_anomaly_detection_spark.operators.curation import (
        incremental_agg_merge,
    )

    state = spark.createDataFrame(
        [(1, 3, 30.0), (2, 2, 20.0)], "k long, cnt long, total double"
    )
    delta = spark.createDataFrame(
        [(2, 1, 5.0), (3, 4, 40.0)], "k long, cnt long, total double"
    )
    got = {
        r.k: (r.cnt, r.total)
        for r in incremental_agg_merge(state, delta, "k", ["cnt", "total"]).collect()
    }
    assert got == {1: (3, 30.0), 2: (3, 25.0), 3: (4, 40.0)}


def test_incremental_agg_merge_rejects_missing_columns(spark):
    from real_time_data_anomaly_detection_spark.operators.curation import (
        incremental_agg_merge,
    )

    state = spark.createDataFrame([(1, 3)], "k long, cnt long")
    delta = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="delta missing"):
        incremental_agg_merge(state, delta, "k", ["cnt"])


def test_scd2_intervals_collapse_and_chain(spark):
    """Consecutive repeats collapse into one interval; valid_to chains
    to the next change; the latest state is open (NULL valid_to)."""
    import datetime as dt

    from real_time_data_anomaly_detection_spark.operators.curation import (
        scd2_intervals,
    )

    t = lambda m: dt.datetime(2026, 1, 1, 0, m)  # noqa: E731
    rows = [
        (1, t(0), 7, "login"),
        (2, t(1), 7, "login"),    # repeat -> collapsed
        (3, t(2), 7, "click"),    # change
        (4, t(3), 7, "login"),    # change back (re-entry = new interval)
        (5, t(0), 8, "view"),     # second user independent
    ]
    e = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = sorted(
        (r.user_id, r.event_type, r.valid_from.minute,
         None if r.valid_to is None else r.valid_to.minute)
        for r in scd2_intervals(
            e, "user_id", "event_type", "ts", "event_id"
        ).collect()
    )
    assert got == [
        (7, "click", 2, 3),
        (7, "login", 0, 2),
        (7, "login", 3, None),
        (8, "view", 0, None),
    ]


def test_lm_perplexity_orders_fluent_before_gibberish(spark):
    """Docs built from the corpus's dominant bigram patterns score
    lower perplexity than a doc of one-off bigrams; single-token docs
    get null ppl and 0 bigrams."""
    from real_time_data_anomaly_detection_spark.operators.curation import (
        lm_perplexity,
    )

    common = "the cat sat on the mat"
    rows = [(i, common) for i in range(10)]
    rows += [(100, "zq xv jk wm yb pn")]  # bigrams seen once each
    rows += [(200, "solo")]
    got = {r.doc_id: r for r in lm_perplexity(_docs(spark, rows)).collect()}
    assert got[0].ppl < got[100].ppl
    assert got[200].n_bigrams == 0 and got[200].ppl is None
    # all copies of the common doc score identically
    assert len({got[i].ppl for i in range(10)}) == 1


def test_lm_perplexity_smoothing_handles_unseen_denominator(spark):
    """Every observed bigram gets p < 1 and ppl > 1 under add-one
    smoothing (the +V denominator), even for a deterministic corpus."""
    from real_time_data_anomaly_detection_spark.operators.curation import (
        lm_perplexity,
    )

    rows = [(1, "a b a b a b"), (2, "a b")]
    got = {r.doc_id: r for r in lm_perplexity(_docs(spark, rows)).collect()}
    assert got[1].ppl > 1.0 and got[2].ppl > 1.0
    # doc 2's only bigram (a,b) is the corpus's most reinforced one;
    # doc 1 mixes in the rarer (b,a) so it scores strictly higher ppl
    assert got[2].ppl < got[1].ppl


def test_merge_upsert_semantics(spark):
    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, name string, v double",
    )
    updates = spark.createDataFrame(
        [(2, "b2", 99.0), (4, "d", 40.0)], "k long, name string, v double"
    )
    got = {r.k: (r.name, r.v) for r in merge_upsert(target, updates, "k").collect()}
    assert got == {
        1: ("a", 10.0),
        2: ("b2", 99.0),  # replaced
        3: ("c", 30.0),
        4: ("d", 40.0),  # inserted
    }


def test_merge_upsert_rejects_schema_mismatch(spark):
    target = spark.createDataFrame([(1, "a")], "k long, name string")
    updates = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="schema mismatch"):
        merge_upsert(target, updates, "k")


def test_merge_upsert_target_not_reshuffled(spark):
    """Plan hygiene: the anti-join probes a broadcast key set — no
    exchange on the target side before the union."""
    target = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    updates = spark.range(0, 10).select(
        F.col("id").alias("k"), F.lit(-1.0).alias("v")
    )
    plan = merge_upsert(target, updates, "k")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_table_diff_statuses(spark):
    from real_time_data_anomaly_detection_spark.operators.curation import table_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (4, "d")], "doc_id long, text string"
    )
    got = {r.doc_id: r.status for r in table_diff(old, new, "doc_id", ["text"]).collect()}
    assert got == {1: "unchanged", 2: "modified", 3: "removed", 4: "added"}


def test_cdc_apply_latest_wins_and_deletes(spark):
    """Out-of-order change application: upsert-then-delete nets a
    delete, delete-then-upsert nets the upsert, new keys append,
    untouched rows pass through, and a missing payload column in the
    change batch raises."""
    import pytest
    from pyspark.sql import functions as F

    from real_time_data_anomaly_detection_spark.operators.curation import cdc_apply

    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    changes = spark.createDataFrame(
        [
            (1, "a2", "upsert", 1), (1, None, "delete", 2),   # net delete
            (2, None, "delete", 1), (2, "b2", "upsert", 2),   # net upsert
            (9, "new", "upsert", 1),                          # append
        ],
        "k long, v string, op string, seq int",
    )
    got = {r.k: r.v for r in cdc_apply(target, changes, "k").collect()}
    assert got == {2: "b2", 3: "c", 9: "new"}
    with pytest.raises(ValueError, match="missing target columns"):
        cdc_apply(target, changes.drop("v"), "k")


def test_cdc_fixture_exploded_log_equals_union_branches(spark):
    """q_cdc_apply's round-14 single-scan change log (per-row exploded
    change structs) must emit the IDENTICAL row multiset as the
    original 6-branch filter/union construction it replaced."""
    from pyspark.sql import functions as F

    from real_time_data_anomaly_detection_spark.io import load_table
    from real_time_data_anomaly_detection_spark.operators import REGISTRY  # noqa: F401

    o = load_table(spark, "/root/testdata/sf0.001", "orders")
    target = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("custkey"),
        F.round(F.col("o_totalprice") * F.lit(100.0), 0)
        .cast("bigint")
        .alias("total_cents"),
    )
    m = F.col("k") % 7
    nulls = [
        F.lit(None).cast("bigint").alias(c) for c in ("custkey", "total_cents")
    ]
    old = (
        target.filter(m == 0)
        .select("k", "custkey", (F.col("total_cents") + 111).alias("total_cents"),
                F.lit("upsert").alias("op"), F.lit(1).alias("seq"))
        .unionByName(target.filter(m == 0).select(
            "k", *nulls, F.lit("delete").alias("op"), F.lit(2).alias("seq")))
        .unionByName(target.filter(m == 1).select(
            "k", *nulls, F.lit("delete").alias("op"), F.lit(1).alias("seq")))
        .unionByName(target.filter(m == 1).select(
            "k", "custkey", (F.col("total_cents") * 2).alias("total_cents"),
            F.lit("upsert").alias("op"), F.lit(2).alias("seq")))
        .unionByName(target.filter(m == 2).select(
            "k", "custkey", (F.col("total_cents") + 555).alias("total_cents"),
            F.lit("upsert").alias("op"), F.lit(1).alias("seq")))
        .unionByName(target.filter(m == 3).select(
            (-F.col("k")).alias("k"), "custkey", "total_cents",
            F.lit("upsert").alias("op"), F.lit(1).alias("seq")))
    )
    nul = F.lit(None).cast("bigint")

    def ch(kk, ck, tc, op, seq):
        return F.struct(
            kk.cast("bigint").alias("k"), ck.cast("bigint").alias("custkey"),
            tc.cast("bigint").alias("total_cents"), F.lit(op).alias("op"),
            F.lit(seq).cast("int").alias("seq"),
        )

    k, cust, tc = F.col("k"), F.col("custkey"), F.col("total_cents")
    arr = (
        F.when(m == 0, F.array(ch(k, cust, tc + 111, "upsert", 1),
                               ch(k, nul, nul, "delete", 2)))
        .when(m == 1, F.array(ch(k, nul, nul, "delete", 1),
                              ch(k, cust, tc * 2, "upsert", 2)))
        .when(m == 2, F.array(ch(k, cust, tc + 555, "upsert", 1)))
        .when(m == 3, F.array(ch(-k, cust, tc, "upsert", 1)))
    )
    new = target.select(F.explode(arr).alias("_ch")).select("_ch.*")
    from collections import Counter

    assert Counter(map(tuple, old.collect())) == Counter(map(tuple, new.collect()))


def test_text_index_pruned_lookup_matches_scan(spark, tmp_path):
    """A persisted-index term lookup must (a) return exactly the
    postings a direct scan computes and (b) READ ONLY the term's
    bucket directories — partition pruning pinned via the scan's
    numFiles metric, same technique as the IVF test."""
    from real_time_data_anomaly_detection_spark.io import load_table
    from real_time_data_anomaly_detection_spark.operators.curation import (
        build_text_index,
        index_phrase_search,
        phrase_search,
        term_postings,
        top_bigrams,
    )
    from tests.conftest import SF_DIR

    d = load_table(spark, SF_DIR, "documents")
    path = str(tmp_path / "textidx")
    build_text_index(d, path, buckets=16)

    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    )
    terms = ["data", "stream"]
    direct = {
        (r.doc_id, r.pos, r.token)
        for r in toks.filter(F.col("token").isin(terms)).collect()
    }
    looked = term_postings(spark, path, terms, buckets=16)
    assert {(r.doc_id, r.pos, r.token) for r in looked.collect()} == direct

    node = looked._jdf.queryExecution().executedPlan()
    while node.children().length() > 0:
        node = node.children().apply(0)
    n_files = int(node.metrics().apply("numFiles").value())
    assert n_files <= 2, f"read {n_files} files; expected <= |term buckets|"

    # indexed phrase search == inline phrase search on the same queries
    phrases = [(r.w1, r.w2) for r in top_bigrams(d, 3).collect()]
    via_index = {
        (r.phrase, r.doc_id)
        for r in index_phrase_search(spark, path, phrases).collect()
    }
    qdf = spark.createDataFrame(phrases, "w1 string, w2 string")
    inline = {
        (r.phrase, r.doc_id) for r in phrase_search(d, qdf).collect()
    }
    assert via_index == inline


def test_cdc_apply_seq_ties_are_deterministic(spark):
    """Duplicate seq values per key must pick a documented winner, not
    a partition-dependent one: delete beats upsert at equal seq, and
    equal (seq, op) upserts fall back to the payload order — stable
    across shuffle-partition settings."""
    from real_time_data_anomaly_detection_spark.operators.curation import cdc_apply

    target = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    changes = spark.createDataFrame(
        [
            (1, "x", "upsert", 5), (1, None, "delete", 5),  # delete wins tie
            (2, "p", "upsert", 7), (2, "q", "upsert", 7),   # payload order: 'p'
        ],
        "k long, v string, op string, seq int",
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results = []
        for n in ("1", "7"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            results.append(
                {r.k: r.v for r in cdc_apply(target, changes, "k").collect()}
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert results[0] == results[1] == {2: "p"}


def test_data_quality_report_detects_dirty_data(spark, tmp_path):
    """q_data_quality_report on the clean fixtures is all-pass (the
    oracle pins that); this exercises every violation branch on a
    deliberately dirty four-table snapshot and checks the exact
    violation counts."""
    import pandas as pd

    from real_time_data_anomaly_detection_spark.operators import REGISTRY

    d = str(tmp_path)
    pd.DataFrame(
        {
            "o_orderkey": [1, 1, 2, 3],          # dup pk (1 extra)
            "o_orderstatus": ["P", "O", "X", "F"],  # 1 bad status
            "o_totalprice": [10.0, 5.0, -1.0, 0.0],  # 2 non-positive
        }
    ).to_parquet(f"{d}/orders.parquet", index=False)
    pd.DataFrame(
        {
            "l_orderkey": [1, 1, 2, 99],          # 99 is an orphan
            "l_linenumber": [1, 1, 1, 1],         # (1,1) dup pk
            "l_quantity": [5.0, 1.0, 0.0, 2.0],   # 1 non-positive
        }
    ).to_parquet(f"{d}/lineitem.parquet", index=False)
    pd.DataFrame(
        {
            "event_id": [1, 2, 2],                # dup pk
            "ts": pd.to_datetime(["2025-01-01"] * 3),
            "user_id": pd.array([1, None, 3], dtype="Int64"),  # 1 null
            "value": [1.0, -2.0, 3.0],            # 1 negative
        }
    ).to_parquet(f"{d}/events.parquet", index=False)
    pd.DataFrame(
        {
            "doc_id": [1, 2, 2],                  # dup pk
            "text": ["hi", "", "x"],              # 1 empty
        }
    ).to_parquet(f"{d}/documents.parquet", index=False)

    rep = {
        (r["tbl"], r["check_name"]): (r["violations"], r["passed"])
        for r in REGISTRY["q_data_quality_report"].spark_fn(spark, d).collect()
    }
    assert rep[("orders", "pk_unique")] == (1, False)
    assert rep[("orders", "status_accepted")] == (1, False)
    assert rep[("orders", "totalprice_positive")] == (2, False)
    assert rep[("lineitem", "pk_unique")] == (1, False)
    assert rep[("lineitem", "quantity_positive")] == (1, False)
    assert rep[("lineitem", "ri_orders")] == (1, False)
    assert rep[("events", "pk_unique")] == (1, False)
    assert rep[("events", "user_id_complete")] == (1, False)
    assert rep[("events", "value_nonnegative")] == (1, False)
    assert rep[("documents", "pk_unique")] == (1, False)
    assert rep[("documents", "text_nonempty")] == (1, False)
    assert len(rep) == 11


def test_upsert_price_half_boundary_exact_cents(spark):
    """The q_merge_upsert price algebra on THE half-boundary case that
    split Spark/DuckDB at sf0.1: 71995.15 * 1.1 = 79194.665 exactly in
    cents, where round(double*1.1, 2) is engine-dependent. Integer
    half-up cents must give 79194.67 — deterministically."""
    df = spark.createDataFrame([(71995.15,), (100.05,)], "p double")
    cents = F.round(F.col("p") * 100, 0).cast("bigint")
    out = (
        df.withColumn("_c", cents)
        .select(
            (F.expr("(_c * 11 + 5) div 10").cast("double") / 100).alias("v")
        )
        .collect()
    )
    assert [r.v for r in out] == [79194.67, 110.06]  # 110.055 -> half-up
