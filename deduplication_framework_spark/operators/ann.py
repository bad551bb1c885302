"""Approximate-nearest-neighbor search over an ``embedding: array<float>``
column (task mandate: similarity search for training-data pipelines).

Two paths:

* ``knn_bruteforce`` / ``neighbor_counts_bruteforce`` — exact: broadcast the
  (N x d) matrix, GEMM per partition inside mapInPandas. Right whenever one
  side fits in executor memory (numpy matmul ≈ 100x the per-pair Catalyst
  ``aggregate`` expression). The oracle/baseline path.

* ``ivf_topk`` — the scale path: k-means coarse quantizer (IVF), vectors
  assigned to their nearest centroid's inverted list; each query probes its
  ``n_probe`` closest lists. Implemented distributed: queries are exploded
  to (query, probe_block) rows, shuffled to the block's partition, and each
  block group runs a local GEMM via applyInPandas; a final groupBy takes
  the global top-k. Only centroids are broadcast — inverted lists stay
  partitioned, so the pattern survives 10^9 vectors.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# Driver-collect budget for the brute-force paths: N rows and N*d float64
# cells. 2M rows x 64 dims = 1 GiB of matrix; far beyond this the exact
# path is the wrong tool and silently OOMs the driver at scale — fail fast
# and name the scale path instead (mirrors the adaptive-CC
# cc_broadcast_threshold pattern: explicit, overridable, tested).
MAX_BRUTEFORCE_ROWS = 2_000_000
MAX_BRUTEFORCE_CELLS = 200_000_000


def _collect_matrix(df: DataFrame, id_col: str, vec_col: str,
                    normalize: bool = True,
                    max_rows: int = MAX_BRUTEFORCE_ROWS,
                    max_cells: int = MAX_BRUTEFORCE_CELLS):
    """Collect (ids, matrix) for the broadcast-GEMM paths, guarded BEFORE
    materializing: a one-row probe learns the vector dimension, the row
    budget is tightened to ``max_cells / d`` (so wide embeddings can't
    pass the row guard and still OOM the driver mid-collect), and the
    collect itself is bounded by ``limit(budget + 1)`` — no unbounded
    driver fetch on any input."""
    probe = df.select(vec_col).limit(1).collect()
    dim = len(probe[0][0]) if probe and probe[0][0] is not None else 1
    row_budget = min(max_rows, max_cells // max(dim, 1))
    rows = df.select(id_col, vec_col).limit(row_budget + 1).collect()
    if len(rows) > row_budget:
        raise ValueError(
            f"brute-force ANN path refused: input exceeds {row_budget:,} "
            f"rows (row budget {max_rows:,}, cell budget {max_cells:,} at "
            f"dim {dim}). This exact path broadcasts the full (N x d) "
            "matrix and is the small-side/oracle baseline; use ivf_topk "
            "(partitioned inverted lists) at this scale, or raise "
            "max_rows/max_cells explicitly."
        )
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    if normalize:
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        mat = mat / norms
    return ids, mat


def knn_bruteforce(
    df: DataFrame, k: int = 10, id_col: str = "vec_id", vec_col: str = "embedding",
    normalize: bool = True,
    max_rows: int = MAX_BRUTEFORCE_ROWS, max_cells: int = MAX_BRUTEFORCE_CELLS,
) -> DataFrame:
    """→ (vec_id, neighbor_id, rank, sim): exact cosine top-k, GEMM against
    a broadcast matrix. ``normalize=False`` ranks RAW float64 dot products
    (use on an already-unit-norm corpus when bit-stable parity with a plain
    dot-product oracle matters).

    Ordering is fully deterministic: (sim DESC, neighbor_id ASC), including
    across the top-k boundary (the candidate slice is over-fetched so
    boundary-straddling exact ties — identical vectors — resolve by id,
    matching a SQL ``row_number() OVER (ORDER BY sim DESC, id)`` oracle)."""
    spark = df.sparkSession
    ids, mat = _collect_matrix(df, id_col, vec_col, normalize=normalize,
                               max_rows=max_rows, max_cells=max_cells)
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(mat)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        M, I = b_mat.value, b_ids.value
        for pdf in batches:
            q = np.array(list(pdf[vec_col]), dtype=np.float64)
            if normalize:
                qn = np.linalg.norm(q, axis=1, keepdims=True)
                qn[qn == 0] = 1.0
                q = q / qn
            sims = q @ M.T  # (batch, N)
            qids = pdf[id_col].to_numpy()
            # mask self
            for bi, qid in enumerate(qids):
                sims[bi, I == qid] = -np.inf
            kk = min(k + 1, sims.shape[1])  # +1 absorbs the -inf self row
            top = np.argpartition(-sims, kth=kk - 1, axis=1)[:, :kk]
            out = []
            for bi, qid in enumerate(qids):
                # expand the candidate slice to EVERY entry tying the k-th
                # value: argpartition chooses arbitrarily among exact ties
                # (identical vectors), and a fixed over-fetch can't bound
                # the tie-group size — the id tie-break must see the whole
                # group to match a SQL row_number() oracle
                boundary = sims[bi, top[bi]].min()
                cand = np.nonzero(sims[bi] >= boundary)[0]
                order = cand[np.lexsort((I[cand], -sims[bi, cand]))]
                # drop the masked self row before the cut
                order = order[I[order] != qid][:k]
                for rank, j in enumerate(order, 1):
                    out.append((int(qid), int(I[j]), rank, float(sims[bi, j])))
            yield pd.DataFrame(
                out, columns=["vec_id", "neighbor_id", "rank", "sim"]
            )

    return df.select(id_col, vec_col).mapInPandas(
        op, schema="vec_id long, neighbor_id long, rank int, sim double"
    )


def neighbor_counts_bruteforce(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
    max_rows: int = MAX_BRUTEFORCE_ROWS, max_cells: int = MAX_BRUTEFORCE_CELLS,
) -> DataFrame:
    """→ (vec_id, n_neighbors): #others with cosine >= threshold (GEMM).
    ``normalize=False`` skips unit-norming and compares RAW float64 dot
    products — use when the corpus is already unit-norm and bit-stable
    parity with a plain dot-product oracle matters."""
    spark = df.sparkSession
    ids, mat = _collect_matrix(df, id_col, vec_col, normalize=normalize,
                               max_rows=max_rows, max_cells=max_cells)
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(mat)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        M, I = b_mat.value, b_ids.value
        for pdf in batches:
            q = np.array(list(pdf[vec_col]), dtype=np.float64)
            if normalize:
                qn = np.linalg.norm(q, axis=1, keepdims=True)
                qn[qn == 0] = 1.0
                q = q / qn
            sims = q @ M.T
            qids = pdf[id_col].to_numpy()
            counts = []
            for bi, qid in enumerate(qids):
                mask = I != qid
                counts.append(int(np.count_nonzero(sims[bi, mask] >= threshold)))
            yield pd.DataFrame({"vec_id": qids, "n_neighbors": counts})

    out = df.select(id_col, vec_col).mapInPandas(
        op, schema="vec_id long, n_neighbors long"
    )
    return out.filter(F.col("n_neighbors") > 0)


def cosine_edges_bruteforce(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
    max_rows: int = MAX_BRUTEFORCE_ROWS, max_cells: int = MAX_BRUTEFORCE_CELLS,
) -> DataFrame:
    """→ (src, dst) with src < dst and cosine (or raw dot when
    ``normalize=False``) >= threshold — embedding near-dup edges, GEMM
    against the broadcast matrix. Integer-only output keeps cross-engine
    comparisons bit-stable."""
    spark = df.sparkSession
    ids, mat = _collect_matrix(df, id_col, vec_col, normalize=normalize,
                               max_rows=max_rows, max_cells=max_cells)
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(mat)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        M, I = b_mat.value, b_ids.value
        for pdf in batches:
            q = np.array(list(pdf[vec_col]), dtype=np.float64)
            if normalize:
                qn = np.linalg.norm(q, axis=1, keepdims=True)
                qn[qn == 0] = 1.0
                q = q / qn
            sims = q @ M.T
            qids = pdf[id_col].to_numpy()
            out_src, out_dst = [], []
            for bi, qid in enumerate(qids):
                mask = (I > qid) & (sims[bi] >= threshold)
                js = np.nonzero(mask)[0]
                out_src.extend([int(qid)] * len(js))
                out_dst.extend(int(I[j]) for j in js)
            yield pd.DataFrame({"src": out_src, "dst": out_dst})

    return df.select(id_col, vec_col).mapInPandas(
        op, schema="src long, dst long"
    )


def ivf_topk(
    df: DataFrame,
    k: int = 10,
    n_lists: int = None,
    n_probe: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> Tuple[DataFrame, "object"]:
    """IVF top-k: → (results_df, kmeans_blocked_df). Only centroids are
    broadcast; inverted lists stay distributed."""
    from deduplication_framework_spark.operators.embeddings import (
        kmeans_block,
        l2_normalize,
    )
    from deduplication_framework_spark.operators.lsh import _cut

    spark = df.sparkSession
    n = df.count()
    if n_lists is None:
        n_lists = max(2, int(np.sqrt(n)))
    normalized = l2_normalize(df, vec_col)
    blocked, _ = _cut(
        kmeans_block(
            normalized, n_clusters=n_lists, seed=seed, id_col=id_col,
            vec_col=vec_col,
        )
    )

    # centroids from the fitted assignment (mean of members, re-normalized —
    # reference A5 semantics, image/method/pipeline_api.py:554-556).
    # posexplode + per-(block, pos) avg needs no vector-dimension probe at
    # plan time (the old per-index F.avg list ran a whole extra first() job
    # just to learn d) and partial-aggregates map-side.
    cent_rows = (
        blocked.select("block_id", F.posexplode(vec_col).alias("pos", "x"))
        .groupBy("block_id", "pos")
        .agg(F.avg("x").alias("m"))
        .collect()
    )
    by_block = {}
    for r in cent_rows:
        by_block.setdefault(r.block_id, {})[r.pos] = r.m
    cids = np.array(sorted(by_block), dtype=np.int64)
    cmat = np.array(
        [[by_block[b][p] for p in range(len(by_block[b]))] for b in cids],
        dtype=np.float64,
    )
    cnorm = np.linalg.norm(cmat, axis=1, keepdims=True)
    cnorm[cnorm == 0] = 1.0
    cmat = cmat / cnorm
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
                    rows.append((int(qid), list(pdf[vec_col].iloc[bi]), int(CI[j])))
            yield pd.DataFrame(rows, columns=["qid", "qvec", "block_id"])

    queries = blocked.select(id_col, vec_col).mapInPandas(
        probes, schema=f"qid long, qvec array<double>, block_id int"
    )

    members = blocked.select(
        "block_id", F.col(id_col).alias("mid"), F.col(vec_col).alias("mvec")
    )

    tagged = members.select(
        "block_id",
        F.col("mid").alias("rid"),
        F.col("mvec").cast("array<double>").alias("rvec"),
        F.lit(0).alias("is_query"),
    ).unionByName(
        queries.select(
            "block_id",
            F.col("qid").alias("rid"),
            F.col("qvec").alias("rvec"),
            F.lit(1).alias("is_query"),
        )
    )

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        mem = pdf[pdf.is_query == 0]
        qs = pdf[pdf.is_query == 1]
        if mem.empty or qs.empty:
            return pd.DataFrame(columns=["vec_id", "neighbor_id", "sim"])
        M = np.array(list(mem.rvec), dtype=np.float64)
        I = mem.rid.to_numpy()
        Q = np.array(list(qs.rvec), dtype=np.float64)
        sims = Q @ M.T
        out = []
        kk = min(k + 1, sims.shape[1])
        top = np.argpartition(-sims, kth=kk - 1, axis=1)[:, :kk]
        for bi, qid in enumerate(qs.rid.to_numpy()):
            for j in top[bi]:
                if I[j] != qid:
                    out.append((int(qid), int(I[j]), float(sims[bi, j])))
        return pd.DataFrame(out, columns=["vec_id", "neighbor_id", "sim"])

    local = tagged.groupBy("block_id").applyInPandas(
        per_block, schema="vec_id long, neighbor_id long, sim double"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    results = (
        local.groupBy("vec_id", "neighbor_id")
        .agg(F.max("sim").alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    return results, blocked


def cross_neighbor_counts(
    df: DataFrame,
    ref: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
    max_rows: int = MAX_BRUTEFORCE_ROWS, max_cells: int = MAX_BRUTEFORCE_CELLS,
) -> DataFrame:
    """→ (``id_col``, n_ref_hits) for EVERY df row (ids must be LONG —
    the Arrow schema is fixed): #``ref`` vectors with
    cosine >= threshold — the bipartite form of
    ``neighbor_counts_bruteforce`` (semantic eval-decontamination: df =
    train, ref = the eval/benchmark set). Only ``ref`` is collected and
    broadcast (guarded by the same row/cell budgets — eval sets are the
    small side by construction); df streams through a partition-local
    GEMM and is never shuffled. Zero-hit rows ARE emitted (the flag
    consumer needs them). ``normalize=False`` compares RAW float64 dots
    (unit-norm corpora, oracle-parity mode)."""
    spark = df.sparkSession
    if ref.limit(1).count() == 0:
        # empty reference set: every row has zero hits (the documented
        # contract), not a matmul shape crash
        return df.select(
            F.col(id_col), F.lit(0).cast("long").alias("n_ref_hits")
        )
    ids, mat = _collect_matrix(ref, id_col, vec_col, normalize=normalize,
                               max_rows=max_rows, max_cells=max_cells)
    b_mat = spark.sparkContext.broadcast(mat)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        M = b_mat.value
        for pdf in batches:
            q = np.array(list(pdf[vec_col]), dtype=np.float64)
            if len(q) == 0:
                yield pd.DataFrame({id_col: [], "n_ref_hits": []})
                continue
            if normalize:
                qn = np.linalg.norm(q, axis=1, keepdims=True)
                qn[qn == 0] = 1.0
                q = q / qn
            sims = q @ M.T
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "n_ref_hits": (sims >= threshold).sum(axis=1).astype(
                        "int64"
                    ),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        op, schema=f"{id_col} long, n_ref_hits long"
    )
