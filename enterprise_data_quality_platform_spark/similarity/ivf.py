"""IVF (inverted-file) ANN index over embedding columns — the k-means
companion to the hyperplane-LSH path in ``knn.py`` (SURVEY.md §2.6 X6).

Shape of the index, mirroring FAISS's IVF-flat layout re-expressed as
DataFrames:

1. **Train** a coarse quantizer: Lloyd's k-means over a BOUNDED sample of
   the corpus (``sample_size`` rows — a fixed-size numpy problem on the
   driver regardless of corpus size; training the quantizer on a sample is
   the standard IVF recipe, and the sample cap is what keeps this legal at
   100 TB).
2. **Assign** every corpus vector to its nearest centroid with one
   Arrow-batched matrix multiply per batch (no per-row Python). The
   ``centroid_id`` column is the inverted list key — at scale you'd
   persist the corpus partitioned/bucketed by it, making probe lookups
   partition-pruned scans.
3. **Probe**: each query vector searches its ``nprobe`` nearest
   centroids' lists only — a broadcast equi-join on ``centroid_id``
   replaces the brute-force crossJoin, touching ~nprobe/num_centroids of
   the corpus.

Versus LSH: data-adaptive buckets (k-means follows the corpus density, so
bucket sizes are balanced where hyperplane buckets can collapse on
anisotropic embeddings) at the cost of a training pass. Both share the
two-level top-k merge so no probe serializes the corpus through one
window partition.

Determinism: seeded ``numpy.default_rng`` for init; Lloyd's is then
deterministic given the sample. The sample itself is the first
``sample_size`` rows in scan order — stable locally; at cluster scale
swap in ``df.sample(fraction, seed)`` upstream if scan order isn't.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .knn import _topk_per_probe
from ..catalog import local_frame, read_parquet
from ..functions.vectors import cosine_batch, to_double


def train_centroids(
    corpus: DataFrame,
    num_centroids: int = 32,
    sample_size: int = 10_000,
    iters: int = 10,
    seed: int = 42,
    vec_col: str = "embedding",
) -> np.ndarray:
    """Lloyd's k-means on a bounded corpus sample; returns L2-normalized
    centroids ``(num_centroids, dim)``. Cosine k-means: vectors are
    normalized first so the Euclidean update step optimizes cosine
    assignment."""
    rows = corpus.select(to_double(F.col(vec_col))).limit(sample_size).collect()
    x = np.stack([r[0] for r in rows]).astype(np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    k = min(num_centroids, len(x))
    rng = np.random.default_rng(seed)
    cent = x[rng.choice(len(x), size=k, replace=False)]
    for _ in range(iters):
        # assignment: argmax cosine == argmax dot (all unit-norm)
        assign = np.argmax(x @ cent.T, axis=1)
        for j in range(k):
            members = x[assign == j]
            if len(members):
                cent[j] = members.mean(axis=0)
            else:  # empty cluster: reseed from the farthest point
                worst = np.argmin(np.max(x @ cent.T, axis=1))
                cent[j] = x[worst]
        cent /= np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)
    return cent


def assign_centroids(
    vec: Column, centroids: np.ndarray, nprobe: int = 1
) -> Column:
    """Top-``nprobe`` nearest centroid ids per vector as ``array<int>``
    (``nprobe=1`` → 1-element array). One (batch × dim) @ (dim × k)
    multiply per Arrow batch; centroids ride into the executors inside the
    serialized UDF closure — the broadcast-small-side of this design."""
    cent = np.ascontiguousarray(centroids, dtype=np.float64)
    n = min(nprobe, len(cent))

    @pandas_udf("array<int>")
    def _assign(v: pd.Series) -> pd.Series:
        m = np.stack(v.to_numpy()).astype(np.float64)
        m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        sims = m @ cent.T
        if n == 1:
            ids = np.argmax(sims, axis=1)[:, None]
        else:  # argpartition: O(k) per row, not a full sort
            ids = np.argpartition(-sims, n - 1, axis=1)[:, :n]
        return pd.Series([row.astype("int32") for row in ids])

    return _assign(vec)


def ivf_ann_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    num_centroids: int = 32,
    nprobe: int = 4,
    sample_size: int = 10_000,
    iters: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "pvec",
) -> DataFrame:
    """Approximate top-k per probe via an IVF index: train → assign →
    bucket-join on centroid_id → exact cosine rerank inside the probed
    lists → two-level top-k. Output schema matches ``brute_force_topk`` /
    ``lsh_ann_topk``: (probe_id, vec_id, cosine_sim, sim_rank)."""
    centroids = train_centroids(
        corpus, num_centroids, sample_size, iters, seed, vec_col
    )
    c = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        F.element_at(
            assign_centroids(to_double(F.col(vec_col)), centroids, nprobe=1), 1
        ).alias("centroid_id"),
    )
    p = probes.select(
        F.col(probe_id_col),
        F.col(probe_vec_col),
        F.explode(
            assign_centroids(to_double(F.col(probe_vec_col)), centroids, nprobe)
        ).alias("centroid_id"),
    )
    sims = c.join(F.broadcast(p), on="centroid_id").select(
        F.col(probe_id_col),
        F.col(id_col),
        cosine_batch(
            to_double(F.col(vec_col)), to_double(F.col(probe_vec_col))
        ).alias("cosine_sim"),
    )
    return _topk_per_probe(sims, k, probe_id_col, id_col)


# --------------------------------------------------------- persisted index


def write_ivf_index(
    corpus: DataFrame,
    path: str,
    num_centroids: int = 32,
    sample_size: int = 10_000,
    iters: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Materialize the IVF index as tables: ``centroids`` (tiny) and
    ``assignments`` — the corpus PARTITIONED BY ``centroid_id``, which is
    what turns a probe into a partition-pruned scan (build once, probe
    many; the docstring's "at scale you'd persist the corpus bucketed by
    list id", made real). Returns the trained centroids."""
    centroids = train_centroids(
        corpus, num_centroids, sample_size, iters, seed, vec_col
    )
    spark = corpus.sparkSession
    cent_df = local_frame(
        spark,
        [(i, c.tolist()) for i, c in enumerate(centroids)],
        "centroid_id int, centroid array<double>",
    )
    cent_df.write.mode("overwrite").parquet(f"{path}/centroids")
    assigned = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        F.element_at(
            assign_centroids(to_double(F.col(vec_col)), centroids, nprobe=1), 1
        ).alias("centroid_id"),
    )
    assigned.write.mode("overwrite").partitionBy("centroid_id").parquet(
        f"{path}/assignments"
    )
    return centroids


def read_ivf_centroids(spark, path: str) -> np.ndarray:
    rows = (
        read_parquet(spark, f"{path}/centroids")
        .orderBy("centroid_id")
        .collect()
    )
    return np.stack([np.asarray(r["centroid"]) for r in rows])


def ivf_index_topk(
    spark,
    path: str,
    probes: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "pvec",
) -> DataFrame:
    """Probe a PERSISTED IVF index: assign each probe to its ``nprobe``
    nearest stored centroids, then scan ONLY those partitions of the
    assignments table (static ``IN`` filter over the probed list ids →
    parquet partition pruning; the probed-id set is bounded by
    ``num_centroids``, so the driver collect is constant-size). Output
    schema matches ``ivf_ann_topk``: (probe_id, vec_id, cosine_sim,
    sim_rank)."""
    centroids = read_ivf_centroids(spark, path)
    p = probes.select(
        F.col(probe_id_col),
        F.col(probe_vec_col),
        F.explode(
            assign_centroids(to_double(F.col(probe_vec_col)), centroids, nprobe)
        ).alias("centroid_id"),
    )
    probed = sorted(
        r["centroid_id"] for r in p.select("centroid_id").distinct().collect()
    )
    corpus = read_parquet(spark, f"{path}/assignments").filter(
        F.col("centroid_id").isin(probed)
    )
    sims = corpus.join(F.broadcast(p), on="centroid_id").select(
        F.col(probe_id_col),
        F.col(id_col),
        cosine_batch(
            to_double(F.col(vec_col)), to_double(F.col(probe_vec_col))
        ).alias("cosine_sim"),
    )
    return _topk_per_probe(sims, k, probe_id_col, id_col)
