"""Signed-random-projection LSH for embedding cosine similarity
(Charikar 2002, "Similarity estimation techniques from rounding
algorithms" — public): the BUCKETED candidate path for embedding near-dup
at corpus scale, playing the role MinHash-LSH plays for text.

``cosine_edges_bruteforce`` is exact but O(N·N) work against a broadcast
matrix (guarded small-side path); ``kmeans_semdedup``/IVF block by coarse
clusters. SRP adds the classic LSH alternative: h_i(x) = sign(r_i · x)
turns each vector into a bit fingerprint whose per-bit collision
probability is 1 - θ(x,y)/π; banding b groups of r bits gives the usual
S-curve, and candidates reduce to an equality bucket join — one shuffle,
no all-pairs term anywhere, hot buckets handled by the SAME
``candidate_pairs`` salting/star+chain machinery as every other detector.

Verification stays exact: candidates join back to the float vectors and
keep dot >= threshold (the reference-semantics predicate on the unit-norm
corpus), so SRP can only lose recall, never precision — and the recall is
pinned against the brute-force edge oracle in tests/test_ann.py.

Spark decomposition: the projection is ONE broadcast (n_bits x d float
matrix, a few KB) + a mapInPandas GEMM per batch → bit packing into
``r``-bit band keys JVM-joinable as longs. No per-row Python, no driver
collect of the corpus.
"""

from __future__ import annotations

from typing import Iterator, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deduplication_framework_spark.operators.lsh import _track, candidate_pairs
from deduplication_framework_spark.session import local_frame


def srp_bands(
    df: DataFrame,
    b: int = 16,
    r: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: Optional[int] = None,
) -> DataFrame:
    """→ (vec_id, band_idx, band_key): b bands of r sign bits each.
    band_key packs the r bits of band i (bit j = sign(r_{i*r+j} · x) > 0)
    into a long — the same (band_idx, band_key) shape every other
    detector's bucket join consumes."""
    spark = df.sparkSession
    if dim is None:
        probe = df.select(vec_col).limit(1).collect()
        if not probe:
            return local_frame(spark, f"{id_col} long, band_idx int, band_key long")
        dim = len(probe[0][0])
    rng = np.random.RandomState(seed)
    planes = rng.randn(b * r, dim)
    # tracked: release_census_caches() unpersists it with the band caches
    bc = _track(spark.sparkContext.broadcast(planes))
    weights = (1 << np.arange(r, dtype=np.int64))

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        P = bc.value
        for pdf in batches:
            X = np.array(list(pdf[vec_col]), dtype=np.float64)
            bits = (X @ P.T) > 0  # (n, b*r)
            keys = (
                bits.reshape(len(X), b, r).astype(np.int64) * weights
            ).sum(axis=2)  # (n, b)
            ids = pdf[id_col].to_numpy()
            yield pd.DataFrame(
                {
                    id_col: np.repeat(ids, b),
                    "band_idx": np.tile(np.arange(b, dtype=np.int32), len(X)),
                    "band_key": keys.reshape(-1),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        op, schema=f"{id_col} long, band_idx int, band_key long"
    )


def srp_candidate_edges(
    df: DataFrame,
    threshold: float = 0.3,
    b: int = 16,
    r: int = 8,
    seed: int = 42,
    bucket_cap: int = 2000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    verify: bool = True,
    dim: Optional[int] = None,
) -> Tuple[DataFrame, DataFrame]:
    """→ (edges(src, dst[, sim]), bucket_stats): embedding near-dup edges
    with dot >= threshold, SRP-bucketed candidates + exact-dot
    verification (a Catalyst ``aggregate`` over the zipped arrays — fine
    at candidate volume; candidates are a vanishing fraction of all
    pairs). ``verify=False`` returns raw band-collision candidates.

    (b, r) tuning: P(candidate) = 1 - (1 - p^r)^b with
    p = 1 - arccos(sim)/π; the defaults (16, 8) put the S-curve midpoint
    near cosine ~0.75 — callers targeting lower thresholds on separated
    corpora (like the 0.3 edge corpus here, whose true pairs sit >= 0.9)
    keep recall ~1 while unrelated pairs (cos <= 0.2, p <= 0.56,
    P <= 1.6% per band) rarely collide."""
    from deduplication_framework_spark.operators.embeddings import _dot_expr

    bands = srp_bands(
        df, b=b, r=r, seed=seed, id_col=id_col, vec_col=vec_col, dim=dim
    ).withColumnRenamed(id_col, "doc_id")  # candidate_pairs' id contract
    pairs, stats = candidate_pairs(bands, bucket_cap=bucket_cap)
    if not verify:
        return pairs, stats
    va = df.select(F.col(id_col).alias("src"), F.col(vec_col).alias("_va"))
    vb = df.select(F.col(id_col).alias("dst"), F.col(vec_col).alias("_vb"))
    # the ONE exact-dot verification expression shared by every
    # embedding consumer (embeddings/pq/srp) so the semantics cannot
    # silently diverge
    dot = _dot_expr("_va", "_vb")
    edges = (
        pairs.join(va, "src")
        .join(vb, "dst")
        .withColumn("sim", dot)
        .filter(F.col("sim") >= threshold)
        .select("src", "dst", "sim")
    )
    return edges, stats
