"""Product quantization (PQ) for embedding columns: train, encode,
asymmetric-distance (ADC) top-k search, and the composed IVF-PQ
persisted index (coarse cells for partition pruning × residual PQ
codes for memory × ADC probe + exact refine).

PQ (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
Search") is the standard memory-compression layer for billion-scale
ANN (FAISS IVF-PQ): split each d-dim vector into ``m`` subvectors,
vector-quantize each subspace against its own ``k``-entry codebook,
and store only the m code bytes — at d=64 float32 and m=8 that is a
32× compression, the difference between an embedding corpus that
fits executor memory and one that does not.

Division of labor, mirroring ``similarity.with_ivf_cells``:

- **Training is driver-side on a bounded sample** (one
  TakeOrderedAndProject job; codebook quality saturates at a few
  hundred thousand samples — FAISS trains on samples too). Per-
  subspace Lloyd's reuses ``similarity._kmeans_centroids``.
- **Encoding is distributed**: one Arrow-batched numpy pass, no
  shuffle; output is (id, codes tinyint-sized ints).
- **Search is distributed ADC**: the probe expands into an m×k
  lookup table of subspace distances (a closure constant, kilobytes);
  each row's approximate distance is m table lookups summed — no
  vector arithmetic per row at query time — then
  TakeOrderedAndProject keeps top-k.

Approximation error is bounded by quantization distortion; tests pin
recall@10 vs the exact cosine top-k on the fixture corpus and
monotone distortion improvement with k.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from real_time_data_anomaly_detection_spark.functions.vector import (
    array_lit,
    cosine_similarity,
)
from real_time_data_anomaly_detection_spark.io import corpus_cache_path, load_table
from real_time_data_anomaly_detection_spark.operators.clustering import _sample_matrix
from real_time_data_anomaly_detection_spark.operators.registry import query
from real_time_data_anomaly_detection_spark.operators.similarity import (
    _kmeans_centroids,
)


def pq_train(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    k: int = 16,
    sample: int = 2048,
    seed: int = 42,
    normalize: bool = True,
) -> np.ndarray:
    """Train PQ codebooks: returns (m, k, d/m) float64.

    ``normalize=True`` L2-normalizes training vectors first so ADC L2
    ranking matches cosine ranking (||a-b||² = 2-2cos on the unit
    sphere) — the convention every query in this repo uses."""
    S = _sample_matrix(df, vec_col, id_col, sample, seed)
    if normalize:
        S = S / np.linalg.norm(S, axis=1, keepdims=True)
    d = S.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    return np.stack(
        [
            _kmeans_centroids(
                np.ascontiguousarray(S[:, j * dsub : (j + 1) * dsub]), k, seed + j
            )
            for j in range(m)
        ]
    )


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    normalize: bool = True,
) -> DataFrame:
    """Encode every vector to its m nearest-codeword indices: one
    mapInPandas pass, no shuffle. Output: (id, codes array<int>) —
    at k<=256 each code is one byte of information; Spark's smallest
    array element type keeps them ints, the 100 TB storage form would
    be a binary column of m bytes (packing is a cast away)."""
    C = codebooks.astype(np.float64)
    m, k, dsub = C.shape

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if normalize:
                X = X / np.linalg.norm(X, axis=1, keepdims=True)
            codes = np.empty((len(X), m), dtype=np.int32)
            for j in range(m):
                Xs = X[:, j * dsub : (j + 1) * dsub]
                d2 = (
                    (Xs * Xs).sum(axis=1)[:, None]
                    - 2.0 * (Xs @ C[j].T)
                    + (C[j] * C[j]).sum(axis=1)[None, :]
                )
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame({id_col: pdf[id_col], "codes": list(codes)})

    return df.select(id_col, vec_col).mapInPandas(encode, f"{id_col} bigint, codes array<int>")


def pq_reconstruct(codes: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """Decode codes (n, m) back to approximate vectors (n, d) — test
    helper for measuring quantization distortion."""
    m = codebooks.shape[0]
    return np.concatenate([codebooks[j][codes[:, j]] for j in range(m)], axis=1)


def pq_adc_topk(
    encoded: DataFrame,
    codebooks: np.ndarray,
    probe: np.ndarray,
    n_results: int = 10,
    id_col: str = "vec_id",
    normalize: bool = True,
) -> DataFrame:
    """Asymmetric-distance top-k over a PQ-encoded corpus.

    The probe stays UNquantized (that is the 'asymmetric' that makes
    ADC much more accurate than code-vs-code): LUT[j, c] =
    ||probe_sub_j - codebook[j][c]||², computed once driver-side
    (m·k floats), and each row's distance is sum_j LUT[j, codes[j]] —
    expressed as a JVM-side ``F.aggregate`` over the codes array with
    the LUT inlined as a literal 2-D array, so scoring is codegen'd,
    scans only the codes column, and plans TakeOrderedAndProject.
    Returns (id, adc_dist) ascending."""
    p = np.asarray(probe, dtype=np.float64)
    if normalize:
        p = p / np.linalg.norm(p)
    m, k, dsub = codebooks.shape
    lut = np.stack(
        [((codebooks[j] - p[j * dsub : (j + 1) * dsub]) ** 2).sum(axis=1) for j in range(m)]
    )  # (m, k)
    lut_col = array_lit(lut)
    # dist = Σ_j lut[j][codes[j]]  (element_at is 1-based)
    dist = F.aggregate(
        F.zip_with(
            F.sequence(F.lit(1), F.lit(m)),
            F.col("codes"),
            lambda j, c: F.element_at(F.element_at(lut_col, j), c + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        encoded.select(id_col, F.round(dist, 4).alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc(id_col))
        .limit(n_results)
    )


@query("q_pq_topk")  # sample-trained quantizer → rows-only; recall pinned in tests
def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC approximate top-10 neighbors of the vec_id=0 probe
    (m=16 subspaces, k=64 codewords → 16 six-bit codes per vector,
    a 16-21× compression of d=64 float32). The memory-bound scale
    path beside q_cosine_topk (exact) and q_ann_topk (LSH-pruned);
    recall@10 vs the exact ranking — raw ADC and the FAISS-style
    overfetch+exact-rerank — is pinned in
    tests/test_quantization.py (this fixture is near-isotropic, the
    hardest case for PQ: m=8/k=16 scores raw 2/10 where m=16/k=64
    reaches 6/10 and rerank(50) 10/10)."""
    e = load_table(spark, sf_dir, "embeddings")
    books = pq_train(e, m=16, k=64)
    probe = np.asarray(
        e.filter(F.col("vec_id") == 0).select("embedding").head()[0], dtype=np.float64
    )
    enc = pq_encode(e.filter(F.col("vec_id") != 0), books)
    return pq_adc_topk(enc, books, probe, n_results=10)


# ---------------------------------------------------------------------------
# IVF-PQ: the FAISS billion-scale layout — coarse IVF cells for partition
# pruning + per-cell RESIDUAL product quantization for memory, probed with
# per-cell ADC tables and an exact re-rank of the overfetched candidates.
# ---------------------------------------------------------------------------


def _normalize_expr(vec_col: str):
    v = F.col(vec_col).cast("array<double>")
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    return F.transform(v, lambda x: x / norm)


def build_ivfpq_index(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    m: int = 16,
    k_codes: int = 64,
    sample: int = 2048,
    seed: int = 42,
) -> None:
    """Build a persisted IVF-PQ index: vectors are L2-normalized (so
    L2 ADC ranking ≡ cosine ranking), assigned to ``n_cells`` coarse
    cells (sample-trained k-means), and stored as m RESIDUAL PQ codes
    — x ≈ centroid[cell] + recon(codes) — partitioned by cell.

    Residual encoding is what makes IVF-PQ accurate: residual norms
    are a fraction of vector norms, so the same codebook budget
    quantizes far tighter than whole-vector PQ. On disk:
    ``vectors/cell=<c>/`` holding (id, codes), a ``centroids`` table
    (n_cells rows), and a ``codebooks`` table (m·k rows). Index bytes
    per vector = m codes ≈ m bytes vs 4·d raw — at (d=64, m=16) a
    16× memory cut BEFORE counting the pruning: a probe opens only
    nprobe/n_cells of the files (Hive partition pruning, pinned by
    the numFiles plan metric in tests)."""
    from real_time_data_anomaly_detection_spark.operators.clustering import (
        kmeans_assign,
        kmeans_fit_sample,
    )

    spark = df.sparkSession
    norm = df.select(id_col, _normalize_expr(vec_col).alias("_nv"))
    centroids = kmeans_fit_sample(
        norm, vec_col="_nv", id_col=id_col, k=n_cells, n_iters=10, seed=seed, sample=sample
    )
    # codebooks trained on SAMPLE residuals, per subspace
    S = _sample_matrix(norm, "_nv", id_col, sample, seed)
    a = (
        (S * S).sum(axis=1)[:, None]
        - 2.0 * (S @ centroids.T)
        + (centroids * centroids).sum(axis=1)[None, :]
    ).argmin(axis=1)
    R = S - centroids[a]
    d = S.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    books = np.stack(
        [
            _kmeans_centroids(
                np.ascontiguousarray(R[:, j * dsub : (j + 1) * dsub]), k_codes, seed + j
            )
            for j in range(m)
        ]
    )

    celled = kmeans_assign(norm, centroids, vec_col="_nv")
    C = centroids

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["_nv"].to_numpy())
            R = X - C[pdf["cell"].to_numpy()]
            codes = np.empty((len(X), m), dtype=np.int32)
            for j in range(m):
                Rs = R[:, j * dsub : (j + 1) * dsub]
                d2 = (
                    (Rs * Rs).sum(axis=1)[:, None]
                    - 2.0 * (Rs @ books[j].T)
                    + (books[j] * books[j]).sum(axis=1)[None, :]
                )
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "cell": pdf["cell"], "codes": list(codes)}
            )

    (
        celled.mapInPandas(encode, f"{id_col} bigint, cell int, codes array<int>")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path + "/vectors")
    )
    from real_time_data_anomaly_detection_spark.io import local_df

    local_df(
        spark,
        [(int(i), [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cell int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(path + "/centroids")
    local_df(
        spark,
        [
            (int(j), int(c), [float(x) for x in books[j, c]])
            for j in range(m)
            for c in range(k_codes)
        ],
        "subspace int, code int, vec array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(path + "/codebooks")


def ivfpq_probe(
    spark: SparkSession,
    path: str,
    probe,
    refine_with: DataFrame | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_results: int = 10,
    nprobe: int = 6,
    overfetch: int = 5,
) -> DataFrame:
    """Probe a persisted IVF-PQ index.

    Driver side: read the tiny centroids/codebooks tables, pick the
    ``nprobe`` nearest cells, precompute ONE ADC lookup table PER
    PROBED CELL (LUT[c][j, code] = ||(p - centroid_c)_j - book_j[code]||²
    — residual tables, m·k floats each). Cluster side: scan ONLY the
    probed cell directories (partition pruning) and score each row
    with m table lookups in one Arrow pass; keep the
    ``overfetch``·k best by ADC. Optional exact re-rank: join the
    candidate ids back to ``refine_with`` (the raw-vector table) and
    re-score exactly — the FAISS serving pattern, recall pinned in
    tests. Returns (id, score…) top-k."""
    p = np.asarray(probe, dtype=np.float64)
    p = p / np.linalg.norm(p)
    cents = {
        int(r.cell): np.asarray(r.centroid, dtype=np.float64)
        for r in spark.read.parquet(path + "/centroids").collect()
    }
    brows = spark.read.parquet(path + "/codebooks").collect()
    m = 1 + max(r.subspace for r in brows)
    k_codes = 1 + max(r.code for r in brows)
    d = len(next(iter(cents.values())))
    dsub = d // m
    books = np.zeros((m, k_codes, dsub))
    for r in brows:
        books[r.subspace, r.code] = r.vec
    order = sorted(cents, key=lambda c: float(((cents[c] - p) ** 2).sum()))[:nprobe]
    luts = {}
    for c in order:
        res = p - cents[c]
        luts[c] = np.stack(
            [
                ((books[j] - res[j * dsub : (j + 1) * dsub]) ** 2).sum(axis=1)
                for j in range(m)
            ]
        )

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.stack(pdf["codes"].to_numpy())
            cells = pdf["cell"].to_numpy()
            dist = np.empty(len(pdf))
            for c in np.unique(cells):
                rows = cells == c
                lut = luts[int(c)]
                dist[rows] = lut[np.arange(m)[None, :], codes[rows]].sum(axis=1)
            yield pd.DataFrame({id_col: pdf[id_col], "adc_dist": np.round(dist, 6)})

    cand = (
        spark.read.parquet(path + "/vectors")
        .filter(F.col("cell").isin([int(c) for c in order]))
        .mapInPandas(score, f"{id_col} bigint, adc_dist double")
        .orderBy(F.asc("adc_dist"), F.asc(id_col))
        .limit(n_results * overfetch)
    )
    if refine_with is None:
        return cand.orderBy(F.asc("adc_dist"), F.asc(id_col)).limit(n_results)
    probe_col = array_lit(p)
    return (
        refine_with.join(F.broadcast(cand), id_col, "left_semi")
        .select(
            id_col,
            F.round(
                cosine_similarity(F.col(vec_col).cast("array<double>"), probe_col), 4
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(n_results)
    )


def _ivfpq_index_path(sf_dir: str) -> str:
    """Session-cache IVF-PQ index dir keyed by the embeddings corpus
    fingerprint (io.corpus_cache_path — shared staleness contract)."""
    return corpus_cache_path(sf_dir, "embeddings", "ivfpq")


@query("q_ivfpq_topk")  # approximate (IVF-PQ recall) → rows-only
def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-10 for the vec_id=0 probe: build-once persisted
    index (16 cells × 16 residual codes/vector), ADC probe over
    nprobe=6 pruned cells, exact re-rank of the 50 overfetched
    candidates against the raw table. Recall vs q_cosine_topk pinned
    in tests/test_quantization.py."""
    from real_time_data_anomaly_detection_spark import fs as _fs

    e = load_table(spark, sf_dir, "embeddings")
    path = _ivfpq_index_path(sf_dir)
    if not _fs.exists(path + "/codebooks/_SUCCESS", spark):
        build_ivfpq_index(e.filter(F.col("vec_id") != 0), path)
    probe = np.asarray(
        e.filter(F.col("vec_id") == 0).select("embedding").head()[0], dtype=np.float64
    )
    return ivfpq_probe(spark, path, probe, refine_with=e.filter(F.col("vec_id") != 0))
