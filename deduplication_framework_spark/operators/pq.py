"""Product quantization (PQ) for embedding similarity search — the memory
half of the ANN scale story (SURVEY.md task mandate: similarity search for
training-data pipelines; public algorithm: Jégou et al. 2011, "Product
Quantization for Nearest Neighbor Search").

``ivf_topk`` (operators/ann.py) partitions the WORK at 10^9 vectors (only
centroids broadcast, inverted lists stay distributed) but still stores full
float vectors in every list: 10^9 x 64 float32 = 256 GB of list payload.
PQ compresses each vector to ``m`` uint8 codes (one per subspace, 256-entry
codebook each): 10^9 x m=8 bytes = 8 GB — the difference between inverted
lists that fit in cluster memory and ones that don't.

Spark decomposition (all batch-vectorized, no per-row Python):

* ``pq_train`` — per-subspace k-means (Lloyd, k-means++-style seeded init)
  on a DRIVER SAMPLE of the corpus (bounded like the brute-force guard;
  codebooks are tiny: m x 256 x d/m floats). Training on a sample is the
  standard PQ recipe — codebooks need the distribution, not every row.
* ``pq_encode`` — mapInPandas against the broadcast codebooks: per
  subspace, argmin ||x_sub - c||; emits ``codes: array<int>`` (uint8
  domain).
* ``ivfpq_topk`` — IVF coarse routing (same label/blocked layout as
  ``ivf_topk``) + asymmetric distance computation (ADC) per probed list:
  each query builds an m x 256 inner-product look-up table ONCE, then every
  member's score is m table gathers + a sum — no float vectors are read
  from the lists at all, only codes.

Accuracy contract: PQ is lossy by design; recall@k against the exact
brute-force oracle is pinned in tests/test_ann.py (clustered corpus,
recall@10 >= 0.6 with m=8 on 32-dim data, and the reranked variant —
exact dots for the PQ top-R shortlist — >= 0.9). The honest production
recipe is PQ-shortlist + exact rerank, which ``rerank`` implements.
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from deduplication_framework_spark.operators.embeddings import _dot_expr


def _kmeans_lloyd(X: np.ndarray, k: int, seed: int, iters: int = 20) -> np.ndarray:
    """Seeded Lloyd k-means with distance-weighted (k-means++-style) init,
    pure numpy — runs on the driver over a bounded training sample."""
    rng = np.random.RandomState(seed)
    n = X.shape[0]
    k = min(k, n)
    # k-means++ seeding
    centers = [X[rng.randint(n)]]
    d2 = np.full(n, np.inf)
    for _ in range(1, k):
        d2 = np.minimum(d2, ((X - centers[-1]) ** 2).sum(axis=1))
        tot = d2.sum()
        if tot <= 0:
            centers.append(X[rng.randint(n)])
            continue
        # float rounding can leave cumsum[-1] < 1; clamp so rand() above
        # it cannot index X[n] out of bounds
        idx = min(np.searchsorted(np.cumsum(d2 / tot), rng.rand()), n - 1)
        centers.append(X[idx])
    C = np.array(centers, dtype=np.float64)
    for _ in range(iters):
        # assign: (n, k) distance via ||x||^2 - 2xC + ||C||^2 (x^2 constant)
        scores = X @ C.T - 0.5 * (C * C).sum(axis=1)[None, :]
        assign = scores.argmax(axis=1)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
    return C


def pq_train(
    df: DataFrame,
    m: int = 8,
    k: int = 256,
    vec_col: str = "embedding",
    sample_rows: int = 100_000,
    seed: int = 42,
) -> np.ndarray:
    """→ codebooks (m, k, d/m) float64. Trains per-subspace k-means on a
    bounded driver sample (limit, not full collect). ``d % m == 0``
    required."""
    rows = df.select(vec_col).limit(sample_rows).collect()
    if not rows:
        raise ValueError("pq_train: no rows to train codebooks on")
    X = np.array([r[0] for r in rows], dtype=np.float64)
    d = X.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m} subspaces")
    dsub = d // m
    return np.stack(
        [
            _kmeans_lloyd(X[:, j * dsub : (j + 1) * dsub], k, seed + j)
            for j in range(m)
        ]
    )


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: Optional[list] = None,
) -> DataFrame:
    """→ (id, [keep_cols...], codes: array<int>): per-subspace nearest
    codebook entry, batch GEMM per subspace inside mapInPandas."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(codebooks)
    keep = list(keep_cols or [])
    m, k, dsub = codebooks.shape

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        C = bc.value
        for pdf in batches:
            X = np.array(list(pdf[vec_col]), dtype=np.float64)
            codes = np.empty((len(X), m), dtype=np.int32)
            for j in range(m):
                sub = X[:, j * dsub : (j + 1) * dsub]
                scores = sub @ C[j].T - 0.5 * (C[j] * C[j]).sum(axis=1)[None, :]
                codes[:, j] = scores.argmax(axis=1)
            out = {id_col: pdf[id_col]}
            for c in keep:
                out[c] = pdf[c]
            out["codes"] = list(codes)
            yield pd.DataFrame(out)

    keep_schema = "".join(
        f", {f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name in keep
    )
    return df.select(id_col, vec_col, *keep).mapInPandas(
        op, schema=f"{id_col} long{keep_schema}, codes array<int>"
    )


def ivfpq_topk(
    df: DataFrame,
    codebooks: np.ndarray,
    k: int = 10,
    n_probe: int = 4,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank: int = 0,
) -> DataFrame:
    """IVF + PQ-ADC top-k: → (vec_id, neighbor_id, rank[, score]).

    Inverted lists = the ``block_col`` blocking (caller supplies it — the
    embeddings fixture carries ``label``; production uses
    ``kmeans_block``'s block_id). Per query: probe the ``n_probe`` blocks
    with the nearest centroid (per-block mean, computed distributed), then
    score every member of the probed blocks from its PQ codes via the
    query's m x k inner-product LUT — members' float vectors are NEVER
    shuffled or scanned, only their m-byte codes.

    ``rerank > 0``: keep the PQ top-``rerank`` shortlist per query and
    re-score it with exact dots (joining back the true vectors for the
    shortlist ONLY) — the standard lossy-then-exact recipe; output rank is
    then by exact score. A rerank shortlist can never be smaller than k
    (clamped), or the final top-k would be silently truncated."""
    if 0 < rerank < k:
        rerank = k
    spark = df.sparkSession
    m, kk, dsub = codebooks.shape
    bc = spark.sparkContext.broadcast(codebooks)

    # distributed per-block centroids (posexplode avg — no dim probe)
    cent_rows = (
        df.select(block_col, F.posexplode(vec_col).alias("pos", "x"))
        .groupBy(block_col, "pos")
        .agg(F.avg("x").alias("c"))
        .collect()
    )
    by_block: dict = {}
    for r in cent_rows:
        by_block.setdefault(r[0], {})[r[1]] = r[2]
    cids = np.array(sorted(by_block), dtype=np.int64)
    cmat = np.array(
        [[by_block[b][p] for p in range(len(by_block[b]))] for b in cids],
        dtype=np.float64,
    )
    b_cids = spark.sparkContext.broadcast(cids)
    b_cmat = spark.sparkContext.broadcast(cmat)
    probe = min(n_probe, len(cids))

    def probes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        C, CI = b_cmat.value, b_cids.value
        for pdf in batches:
            q = np.array(list(pdf[vec_col]), dtype=np.float64)
            sims = q @ C.T
            top = np.argsort(-sims, axis=1)[:, :probe]
            rows = []
            for bi, qid in enumerate(pdf[id_col].to_numpy()):
                for j in top[bi]:
                    rows.append(
                        (int(qid), list(pdf[vec_col].iloc[bi]), int(CI[j]))
                    )
            yield pd.DataFrame(rows, columns=["qid", "qvec", "blk"])

    queries = df.select(id_col, vec_col).mapInPandas(
        probes, schema="qid long, qvec array<double>, blk long"
    )

    coded = pq_encode(df, codebooks, id_col=id_col, vec_col=vec_col,
                      keep_cols=[block_col])
    members = coded.select(
        F.col(block_col).cast("long").alias("blk"),
        F.col(id_col).alias("mid"),
        "codes",
    )

    tagged = members.select(
        "blk", F.col("mid").alias("rid"),
        F.col("codes").alias("payload_codes"),
        F.lit(None).cast("array<double>").alias("payload_vec"),
        F.lit(0).alias("is_query"),
    ).unionByName(
        queries.select(
            "blk", F.col("qid").alias("rid"),
            F.lit(None).cast("array<int>").alias("payload_codes"),
            F.col("qvec").alias("payload_vec"),
            F.lit(1).alias("is_query"),
        )
    )

    shortlist = max(k, rerank)

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        C = bc.value
        mem = pdf[pdf.is_query == 0]
        qs = pdf[pdf.is_query == 1]
        if mem.empty or qs.empty:
            return pd.DataFrame(columns=["vec_id", "neighbor_id", "score"])
        codes = np.array(list(mem.payload_codes), dtype=np.int64)  # (n, m)
        I = mem.rid.to_numpy()
        out = []
        for qid, qvec in zip(qs.rid.to_numpy(), qs.payload_vec):
            q = np.asarray(qvec, dtype=np.float64)
            # ADC LUT: lut[j, c] = <q_sub_j, codebook[j][c]>
            lut = np.stack(
                [q[j * dsub : (j + 1) * dsub] @ C[j].T for j in range(m)]
            )  # (m, kk)
            scores = lut[np.arange(m)[None, :], codes].sum(axis=1)
            nkeep = min(shortlist + 1, len(scores))
            top = np.argpartition(-scores, nkeep - 1)[:nkeep]
            for j in top:
                if I[j] != qid:
                    out.append((int(qid), int(I[j]), float(scores[j])))
        return pd.DataFrame(out, columns=["vec_id", "neighbor_id", "score"])

    local = tagged.groupBy("blk").applyInPandas(
        per_block, schema="vec_id long, neighbor_id long, score double"
    )
    merged = local.groupBy("vec_id", "neighbor_id").agg(
        F.max("score").alias("score")
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    if rerank <= 0:
        return (
            merged.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("vec_id", "neighbor_id", "rank", "score")
        )

    short = (
        merged.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= rerank)
        .select("vec_id", "neighbor_id")
    )
    # exact rerank: join TRUE vectors back for the shortlist only
    qv = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("qv"))
    nv = df.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv")
    )
    dot = _dot_expr("qv", "nv")  # shared exact-dot (embeddings._dot_expr)
    w2 = Window.partitionBy("vec_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        short.join(qv, "vec_id")
        .join(nv, "neighbor_id")
        .withColumn("score", dot)
        .drop("qv", "nv")
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "rank", "score")
    )
