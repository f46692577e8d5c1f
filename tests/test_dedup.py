"""Dedup operator tests: MinHash-LSH recall vs exact Jaccard, SimHash
behavior on near-identical docs, connected components, edit-distance
and embedding near-dup pairs."""

from __future__ import annotations

from pyspark.sql import functions as F

from real_time_data_anomaly_detection_spark.operators.dedup import (
    jaccard_pairs,
    minhash_neardup_pairs,
    shingles,
    simhash_fingerprints,
    simhash_pairs,
)


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away tonight"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base.replace("lazy", "sleepy")),  # near-dup of 0
        (3, "completely different words about spark shuffles and partitions here"),
        (4, "another unrelated document mentioning catalyst optimizer and codegen"),
        (5, base + " extra trailing tokens added"),  # near-dup, longer
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_jaccard_pairs_finds_neardups(spark):
    d = _docs(spark)
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(shingles(d), threshold=0.3).collect()
    }
    assert pairs[(0, 1)] == 1.0  # identical
    assert (0, 5) in pairs and pairs[(0, 5)] > 0.5  # superset doc
    assert (0, 2) in pairs  # one-token edit
    assert (3, 4) not in pairs  # unrelated


def test_minhash_recall_vs_exact(spark):
    """LSH candidates must recover every exact pair with J >= 0.5
    (S-curve at b=8, r=4 makes misses at 0.5+ essentially impossible)."""
    d = _docs(spark)
    exact = {
        (r.doc_a, r.doc_b)
        for r in jaccard_pairs(shingles(d), threshold=0.5).collect()
    }
    approx = {
        (r.doc_a, r.doc_b)
        for r in minhash_neardup_pairs(d, threshold=0.5).collect()
    }
    assert exact, "fixture must contain high-similarity pairs"
    assert exact <= approx | exact and approx <= exact  # verified pairs == exact on candidates
    assert exact & approx == exact, f"missed: {exact - approx}"


def test_simhash_hamming_orders_similarity(spark):
    d = _docs(spark)
    fps = {r.doc_id: r.simhash for r in simhash_fingerprints(d).collect()}
    assert fps[0] == fps[1]  # identical docs → identical fingerprints
    ham = lambda a, b: bin(fps[a] ^ fps[b]).count("1")  # noqa: E731
    assert ham(0, 2) < ham(0, 3)  # near-dup closer than unrelated

    pairs = {(r.doc_a, r.doc_b): r.hamming for r in simhash_pairs(d, max_hamming=10).collect()}
    assert pairs.get((0, 1)) == 0


def test_deterministic(spark):
    d = _docs(spark)
    a = sorted(map(tuple, minhash_neardup_pairs(d).collect()))
    b = sorted(map(tuple, minhash_neardup_pairs(d).collect()))
    assert a == b


def _exact_cosine_pairs_numpy(spark, threshold):
    """Ground truth: brute-force numpy cosine over the sf0.001 vectors."""
    import numpy as np

    from real_time_data_anomaly_detection_spark.io import load_table

    rows = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    ).collect()
    ids = np.array([r.vec_id for r in rows])
    m = np.array([r.embedding for r in rows], dtype=np.float64)
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = m @ m.T
    iu = np.triu_indices(len(ids), k=1)
    mask = sims[iu] >= threshold
    return {
        (int(min(a, b)), int(max(a, b)))
        for a, b in zip(ids[iu[0]][mask], ids[iu[1]][mask])
    }


def test_embed_blocked_pairs_match_bruteforce(spark):
    """The blocked self-join must reproduce brute-force cosine pairs
    exactly — every unordered pair meets exactly once, none twice."""
    from real_time_data_anomaly_detection_spark.io import load_table
    from real_time_data_anomaly_detection_spark.operators.dedup import embed_neardup_pairs

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    got = [(r.vec_a, r.vec_b) for r in embed_neardup_pairs(e, threshold=0.4).collect()]
    assert len(got) == len(set(got)), "pair emitted more than once"
    assert set(got) == _exact_cosine_pairs_numpy(spark, 0.4)


def test_embed_lsh_recall_vs_exact(spark):
    """LSH generate-and-verify: exact precision (cosine verified), recall
    bounded below by the banding S-curve (b=16, r=4 → ~0.94 at cos 0.4)."""
    from real_time_data_anomaly_detection_spark.io import load_table
    from real_time_data_anomaly_detection_spark.operators.dedup import embed_neardup_lsh

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    exact = _exact_cosine_pairs_numpy(spark, 0.4)
    approx = {(r.vec_a, r.vec_b) for r in embed_neardup_lsh(e, threshold=0.4).collect()}
    assert approx <= exact, "verify step must make precision exact"
    assert exact, "fixture must contain near-dup pairs"
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.85, f"recall {recall:.3f} below S-curve bound"


def test_connected_components_and_neardup_removal(spark):
    """Transitive clusters collapse: A~B, B~C (A,C possibly dissimilar)
    → one survivor; unpaired docs all survive."""
    from real_time_data_anomaly_detection_spark.operators.dedup import (
        connected_components,
        neardup_dedup,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "doc_a long, doc_b long",
    )
    comps = {r.node: r.comp for r in connected_components(edges).collect()}
    assert comps[1] == comps[2] == comps[3] == 1
    assert comps[10] == comps[11] == 10
    assert comps[20] == comps[21] == comps[22] == comps[23] == 20

    d = _docs(spark)
    kept = sorted(r.doc_id for r in neardup_dedup(d, threshold=0.5).collect())
    assert kept == [0, 3, 4]  # cluster {0,1,2,5} -> 0; 3,4 unpaired


def test_stop_bucket_cap_drops_boilerplate_pairs(spark):
    """With a bucket cap, a large identical-boilerplate cluster stops
    generating quadratic candidates, while ordinary near-dups survive."""
    from real_time_data_anomaly_detection_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
    )

    boiler = "copyright license header the same in every single file forever"
    rows = [(i, boiler) for i in range(40)]  # 40-way boilerplate cluster
    rows += [
        (100, "a genuinely unique document about adaptive query execution"),
        (101, "a genuinely unique document about adaptive query planning"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(shingles(d))

    uncapped = minhash_lsh_candidates(sigs).count()
    capped_pairs = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_candidates(sigs, max_bucket_size=10).collect()
    }
    assert uncapped >= 40 * 39 / 2  # quadratic boilerplate term present
    assert (100, 101) in capped_pairs  # real near-dup survives the cap
    assert not any(a < 40 and b < 40 for a, b in capped_pairs), (
        "boilerplate cluster must be fully stop-bucketed (identical docs "
        "share every band)"
    )


def test_connected_components_deep_chain(spark, monkeypatch):
    """A 60-node chain (diameter 59) must converge well inside the
    25-round cap — pointer jumping makes rounds O(log n), where plain
    propagation would need 59 rounds and raise. The fetch cap is
    patched to 0 so the distributed rounds run."""
    from real_time_data_anomaly_detection_spark.operators.dedup import (
        connected_components,
    )
    from real_time_data_anomaly_detection_spark.plans import inspect

    monkeypatch.setattr(inspect, "FETCH_MAX_ROWS", 0)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(59)], "doc_a long, doc_b long"
    )
    s = {}
    comps = {r.node: r.comp for r in connected_components(edges, stats=s).collect()}
    assert s["path"] == "distributed"
    assert len(comps) == 60
    assert set(comps.values()) == {0}


def test_jaccard_posting_cap(spark):
    """A stop-shingle shared by every doc must not generate quadratic
    pair rows once capped, while genuine near-dups survive with
    Jaccard computed over the capped universe (stop-word-removal
    semantics: the hot shingle leaves numerator AND denominator)."""
    from real_time_data_anomaly_detection_spark.operators.dedup import jaccard_pairs

    rows = []
    for i in range(30):  # 30 docs whose ONLY overlap is the hot shingle
        rows += [(i, f"u{i}a"), (i, f"u{i}b"), (i, "HOT")]
    # one genuine near-dup pair, disjoint from the hot cluster
    rows += [(100, s) for s in ("s1", "s2", "s3", "only100", "HOT")]
    rows += [(101, s) for s in ("s1", "s2", "s3", "only101", "HOT")]
    sh = spark.createDataFrame(rows, "doc_id long, shingle string")

    uncapped = jaccard_pairs(sh, threshold=0.05).count()
    assert uncapped >= 32 * 31 / 2  # every pair shares HOT -> quadratic

    capped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(sh, threshold=0.05, max_posting_size=10).collect()
    }
    assert set(capped) == {(100, 101)}  # hot-only pairs are gone
    # capped universe: sizes 4 and 4, intersection {s1,s2,s3} -> 3/5
    assert abs(capped[(100, 101)] - 0.6) < 1e-9


def test_prefix_filter_candidates(spark):
    """Prefix filtering must be LOSSLESS (candidates ⊇ all true pairs
    at the threshold) while generating strictly fewer candidates than
    the full-postings path — on a corpus with a boilerplate shingle
    shared by every doc, where full postings go quadratic but the hot
    shingle has maximal df and lands in no prefix."""
    from real_time_data_anomaly_detection_spark.operators.dedup import (
        _bucket_pairs,
        prefix_filter_candidates,
    )

    rows = []
    for i in range(30):  # only overlap across these docs: the HOT shingle
        rows += [(i, f"u{i}a"), (i, f"u{i}b"), (i, f"u{i}c"), (i, "HOT")]
    rows += [(100, s) for s in ("s1", "s2", "s3", "only100", "HOT")]
    rows += [(101, s) for s in ("s1", "s2", "s3", "only101", "HOT")]
    sh = spark.createDataFrame(rows, "doc_id long, shingle string")
    arr = sh.groupBy("doc_id").agg(F.sort_array(F.collect_set("shingle")).alias("sharr"))

    cands = {
        (r.doc_a, r.doc_b)
        for r in prefix_filter_candidates(arr, threshold=0.5).collect()
    }
    full = {
        (r.doc_a, r.doc_b)
        for r in _bucket_pairs(
            sh.groupBy("shingle")
            .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
            .filter(F.size("ids") >= 2)
        )
        .distinct()
        .collect()
    }
    # the only true pair at τ=0.5: J(100,101) = 4/6; hot-only pairs
    # share just HOT (J = 1/8 or less)
    true_pairs = {(100, 101)}
    assert true_pairs <= cands, "prefix filter dropped a true pair"
    # full postings pair every doc through HOT (quadratic); prefixes don't
    assert len(full) >= 32 * 31 / 2
    assert len(cands) < len(full) / 10


def test_connected_components_round_scaling(spark, monkeypatch):
    """The O(log n) pointer-jump claim, pinned: a 10k-node chain
    (worst-case diameter) and a 10k-node star must converge in
    <= log2(n)/2+2 rounds — plain propagation would need ~10k rounds
    on the chain. The double pointer jump + neighbor-min seed roughly
    halve the single-jump round count; measured growth is ~log2(n)/2+1
    (256->5, 1024->6, 4096->7, 10000->8 rounds). The fetch cap is
    patched to 0 so the distributed rounds run."""
    import math

    from real_time_data_anomaly_detection_spark.operators.dedup import (
        connected_components,
    )
    from real_time_data_anomaly_detection_spark.plans import inspect

    monkeypatch.setattr(inspect, "FETCH_MAX_ROWS", 0)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        n = 10_000
        bound = math.ceil(math.log2(n) / 2) + 2

        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
        )
        s = {}
        comp = connected_components(chain, stats=s)
        assert s["path"] == "distributed"
        assert comp.select("comp").distinct().count() == 1
        assert s["rounds"] <= bound, f"chain took {s['rounds']} > {bound} rounds"

        star = spark.createDataFrame(
            [(0, i) for i in range(1, n)], "doc_a long, doc_b long"
        )
        s = {}
        comp = connected_components(star, stats=s)
        assert comp.select("comp").distinct().count() == 1
        assert s["rounds"] <= 2, f"star took {s['rounds']} rounds"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_arr_signature_path_equals_exploded_path(spark):
    """The zero-shuffle array signature/verify path must be value-
    identical to the exploded groupBy formulation on a randomized
    corpus — pins the min-over-duplicates == min-over-distinct
    argument and the transform-lambda seed binding (a 2-arg lambda
    would silently make every signature slot equal)."""
    import random

    from real_time_data_anomaly_detection_spark.operators.dedup import (
        minhash_neardup_pairs,
        minhash_signatures,
        minhash_signatures_arr,
        shingle_arrays,
        verify_candidates,
        minhash_lsh_candidates,
    )

    rng = random.Random(20260813)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    for i in range(120):
        base = [rng.choice(vocab) for _ in range(rng.randint(3, 30))]
        rows.append((i, " ".join(base)))
        if rng.random() < 0.3:  # planted near-dup with light edits
            mutated = list(base)
            if len(mutated) > 4:
                mutated[rng.randrange(len(mutated))] = rng.choice(vocab)
            rows.append((1000 + i, " ".join(mutated)))
    d = spark.createDataFrame(rows, "doc_id long, text string")

    sigs_arr = {
        r.doc_id: list(r.sig)
        for r in minhash_signatures_arr(shingle_arrays(d)).collect()
    }
    sigs_old = {
        r.doc_id: list(r.sig) for r in minhash_signatures(shingles(d)).collect()
    }
    assert sigs_arr == sigs_old
    # per-slot variation: the seed actually varies across hash slots
    some_sig = next(iter(sigs_arr.values()))
    assert len(set(some_sig)) > 1

    sh = shingles(d).persist()
    old_pairs = {
        tuple(r)
        for r in verify_candidates(
            minhash_lsh_candidates(minhash_signatures(sh)), sh
        ).collect()
    }
    new_pairs = {tuple(r) for r in minhash_neardup_pairs(d).collect()}
    sh.unpersist()
    assert new_pairs == old_pairs
    assert len(new_pairs) > 0  # planted near-dups are actually found


def test_edit_neardup_pairs_semantics(spark):
    """Known variants: same 16-char prefix + same length + distance<=2
    pair up with the right distance; different-length or far strings
    don't."""
    from real_time_data_anomaly_detection_spark.operators.dedup import (
        edit_neardup_pairs,
    )

    base = "the quick brown fox jumps over"  # 30 chars
    rows = [
        (1, base),
        (2, base[:-2] + "xz"),          # same length, dist 2
        (3, base[:-1] + "!"),           # same length, dist 1
        (4, base[:-5]),                 # shorter -> different length block
        (5, "a completely different pad to len30"[:30]),  # other prefix
        (6, base[:-4] + "QRST"),        # same length, dist 4 -> filtered
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.edit_dist
        for r in edit_neardup_pairs(df, title_len=30).collect()
    }
    assert got == {(1, 2): 2, (1, 3): 1, (2, 3): 2}


def test_edit_neardup_block_valve(spark):
    """max_block_size drops over-sized prefix blocks (boilerplate
    belongs to the boilerplate pass), keeping pair fan-out bounded."""
    from real_time_data_anomaly_detection_spark.operators.dedup import (
        edit_neardup_pairs,
    )

    boiler = [(i, "identical boilerplate prefix here") for i in range(10)]
    pair = [(100, "some unique title padded to size!"), (101, "some unique title padded to size?")]
    df = spark.createDataFrame(boiler + pair, "doc_id long, text string")
    unlimited = edit_neardup_pairs(df).count()
    capped = edit_neardup_pairs(df, max_block_size=5).collect()
    assert unlimited == 45 + 1  # C(10,2) boilerplate pairs + the real one
    assert {(r.id_a, r.id_b) for r in capped} == {(100, 101)}


def test_leakage_safe_split_properties(spark):
    """The two contract properties of q_split_leakage_safe beyond the
    oracle hash: (1) ZERO near-dup pairs cross a split boundary —
    the leakage guarantee; (2) proportions land near 80/10/10 (group
    count is ~500 at sf0.01, so allow binomial slack)."""
    from real_time_data_anomaly_detection_spark.io import load_table
    from real_time_data_anomaly_detection_spark.operators import REGISTRY
    from real_time_data_anomaly_detection_spark.operators.dedup import (
        minhash_md5_pairs,
    )

    sf = "/root/testdata/sf0.01"
    assign = REGISTRY["q_split_leakage_safe"].spark_fn(spark, sf).cache()
    split_of = {r["doc_id"]: r["split"] for r in assign.collect()}

    pairs = minhash_md5_pairs(load_table(spark, sf, "documents")).collect()
    assert len(pairs) > 0
    crossing = [
        (p["doc_a"], p["doc_b"])
        for p in pairs
        if split_of[p["doc_a"]] != split_of[p["doc_b"]]
    ]
    assert crossing == []

    n = len(split_of)
    from collections import Counter

    frac = {s: c / n for s, c in Counter(split_of.values()).items()}
    assert set(frac) == {"train", "val", "test"}
    assert abs(frac["train"] - 204 / 256) < 0.08
    assert abs(frac["val"] - 26 / 256) < 0.06
    assert abs(frac["test"] - 26 / 256) < 0.06
    assign.unpersist()


def test_containment_posting_cap(spark):
    """containment_pairs exposes the same stop-shingle valve as
    jaccard_pairs: a boilerplate shingle shared by
    every doc must not generate quadratic pair rows once capped, while
    a genuine subset pair survives with containment computed over the
    capped universe."""
    from real_time_data_anomaly_detection_spark.operators.dedup import (
        containment_pairs,
    )

    rows = []
    for i in range(30):  # 30 docs whose ONLY overlap is the hot shingle
        rows += [(i, f"u{i}a"), (i, f"u{i}b"), (i, "HOT")]
    # genuine excerpt pair: 100 ⊂ 101 on {s1,s2,s3}, disjoint otherwise
    rows += [(100, s) for s in ("s1", "s2", "s3", "HOT")]
    rows += [(101, s) for s in ("s1", "s2", "s3", "x1", "x2", "x3", "HOT")]
    sh = spark.createDataFrame(rows, "doc_id long, shingle string")

    uncapped = containment_pairs(sh, threshold=0.05).count()
    assert uncapped >= 32 * 31 / 2  # every pair shares HOT -> quadratic

    capped = {
        (r.doc_a, r.doc_b): r.containment
        for r in containment_pairs(
            sh, threshold=0.8, max_posting_size=10
        ).collect()
    }
    # hot-only pairs gone; capped sizes 3 and 6, inter {s1,s2,s3}
    # -> containment 3/min(3,6) = 1.0
    assert set(capped) == {(100, 101)}
    assert abs(capped[(100, 101)] - 1.0) < 1e-9
