"""Embedding-space dedup operators — the reference's image pipeline analogs
(SURVEY.md J13, C1/C2, W1-W3) over an ``embedding: array<float>`` column.

Reference flow (/root/reference/image/method/advice.text:1-6):
  ① CLIP embeddings → ② k-means clustering → ③ sort clusters →
  ④ SemDeDup per-cluster max-prior-similarity removal → ⑤ keep-list.

Spark rebuild: ① is a fixture column (embeddings.parquet; CLIP is out of
scope in this image — see streaming/multimodal stubs), ② = MLlib KMeans,
③ = window ranking, ④ = per-cluster ``applyInPandas`` with the vectorized
numpy kernel (exactly the reference's triangular max — simple_semdedup.py:
85-108), ⑤ = a filter. A brute-force all-pairs cosine path (J13,
image/method/pipeline_api.py:709-781) exists for small blocks and as the
oracle for the blocked path.
"""

from __future__ import annotations

from typing import Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deduplication_framework_spark.session import local_frame


def _dot_expr(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_normalize(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Reference L2-normalizes before any similarity
    (image/method/pipeline_api.py:442-445). Zero-norm vectors (padding
    rows, failed encoders) divide by 1 instead of producing all-NULL
    arrays that crash MLlib KMeans and silently drop bruteforce pairs."""
    norm = F.sqrt(_dot_expr(F.col(vec_col), F.col(vec_col)))
    safe = F.when(norm == 0.0, F.lit(1.0)).otherwise(norm)
    return df.withColumn(
        vec_col,
        F.transform(F.col(vec_col), lambda x: (x.cast("double") / safe).cast("float")),
    )


def cosine_pairs_bruteforce(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """J13: all-pairs cosine >= threshold → edges(src, dst, sim). O(n²) —
    the reference caps this at max_candidates=512 vectors
    (image/method/pipeline_api.py:730-742); here it is the small-block /
    oracle path (the scale path is kmeans_semdedup)."""
    a = df.select(F.col(id_col).alias("src"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("dst"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("src") < F.col("dst"))
        .withColumn("sim", _dot_expr(F.col("va"), F.col("vb")))
        .filter(F.col("sim") >= threshold)
        .select("src", "dst", "sim")
    )


def kmeans_block(
    df: DataFrame,
    n_clusters: int = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """C1/C2: k-means blocking. k = clamp(N/1000, 1..50000) per the
    reference (image/method/pipeline_api.py:662-665, seed 42). Adds
    ``block_id`` and ``dist_to_centroid`` columns."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    n = df.count()
    if n_clusters is None:
        n_clusters = int(min(max(n // 1000, 1), 50000))
    n_clusters = max(2, min(n_clusters, max(2, n)))

    feats = df.withColumn("_features", array_to_vector(F.col(vec_col)))
    km = KMeans(k=n_clusters, seed=seed, featuresCol="_features",
                predictionCol="block_id")
    model = km.fit(feats)
    centers = model.clusterCenters()
    centers_df = local_frame(
        feats.sparkSession,
        "block_id int, centroid array<double>",
        [(i, [float(x) for x in c]) for i, c in enumerate(centers)],
    )
    out = (
        model.transform(feats)
        .join(F.broadcast(centers_df), "block_id")
        .withColumn(
            "dist_to_centroid",
            F.sqrt(
                F.aggregate(
                    F.zip_with(
                        F.col(vec_col),
                        F.col("centroid"),
                        lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
            ),
        )
        .drop("_features", "centroid")
    )
    return out


def rank_within_blocks(
    blocked: DataFrame, keep_hard: bool = True, id_col: str = "vec_id"
) -> DataFrame:
    """W1: order cluster members by distance-to-centroid (desc when
    keep_hard — reference sort_clusters.py:134-138); adds ``block_rank``."""
    order = (
        F.col("dist_to_centroid").desc()
        if keep_hard
        else F.col("dist_to_centroid").asc()
    )
    w = Window.partitionBy("block_id").orderBy(order, F.col(id_col))
    return blocked.withColumn("block_rank", F.row_number().over(w))


def keep_priority_score(
    blocked: DataFrame,
    size_col: str,
    sim_col: str = "dist_to_centroid",
    w_sim: float = 0.7,
    w_size: float = 0.3,
) -> DataFrame:
    """W2: combined keep-priority = w_sim*sim_to_centroid +
    w_size*minmax-normalized size, ranked desc per block (reference
    image/method/pipeline_api.py:563-579). ``sim_col`` here is distance;
    similarity = 1 - normalized distance for the same ordering intent."""
    wspec = Window.partitionBy("block_id")
    dmin, dmax = F.min(sim_col).over(wspec), F.max(sim_col).over(wspec)
    smin, smax = F.min(size_col).over(wspec), F.max(size_col).over(wspec)
    sim_norm = F.when(dmax == dmin, F.lit(1.0)).otherwise(
        1.0 - (F.col(sim_col) - dmin) / (dmax - dmin)
    )
    size_norm = F.when(smax == smin, F.lit(0.0)).otherwise(
        (F.col(size_col) - smin) / (smax - smin)
    )
    scored = blocked.withColumn(
        "keep_priority", w_sim * sim_norm + w_size * size_norm
    )
    order = Window.partitionBy("block_id").orderBy(
        F.col("keep_priority").desc(), F.col("vec_id")
    )
    return scored.withColumn("priority_rank", F.row_number().over(order))


def semdedup_within_blocks(
    blocked: DataFrame,
    eps: float = 0.05,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    order_by: str = "centroid",
) -> DataFrame:
    """W3 (SemDeDup core): within each block, in rank order, remove item j
    iff max_{i<j} cos(i, j) > 1 - eps — the reference's upper-triangular max
    (simple_semdedup.py:85-108), vectorized per block in pandas.

    Returns (vec_id, block_id, max_prior_sim, keep). Blocks are the
    parallelism unit — identical math to the reference per block, with
    blocks distributed.

    ``order_by``: "centroid" (default — W1 hard-first ranking, needs a
    ``dist_to_centroid`` column from kmeans_block) or "id" (rank = id
    order; the deterministic, SQL-expressible ordering the driver's
    DuckDB-parity ``semdedup_decisions`` query uses — prior-member
    semantics are identical, only the visit order differs).

    Two documented quirks, both inherited from the reference's np.triu
    implementation: (a) ``max_prior_sim`` is floored at 0.0 (the triangular
    zero fill wins when every prior cosine is negative — keep decisions are
    unaffected for eps < 1); (b) the output id column is typed ``long``, so
    ``id_col`` must be an integer column."""
    if not isinstance(
        blocked.schema[id_col].dataType, (T.LongType, T.IntegerType)
    ):
        raise TypeError(
            f"semdedup id_col {id_col!r} must be an integer column (output "
            f"schema is 'vec_id long'); got "
            f"{blocked.schema[id_col].dataType.simpleString()}"
        )
    if order_by == "id":
        w = Window.partitionBy("block_id").orderBy(F.col(id_col))
        ranked = blocked.withColumn("block_rank", F.row_number().over(w))
    else:
        ranked = rank_within_blocks(blocked, keep_hard=True, id_col=id_col)

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("block_rank")
        mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        sims = mat @ mat.T
        n = sims.shape[0]
        tri = np.triu(sims, k=1)  # sim[i, j] for i < j (rank order)
        max_prior = np.zeros(n)
        if n > 1:
            max_prior[1:] = np.max(tri[:, 1:], axis=0)
        return pd.DataFrame(
            {
                "vec_id": pdf[id_col].to_numpy(),
                "block_id": pdf["block_id"].to_numpy(),
                "max_prior_sim": max_prior,
                "keep": max_prior <= 1.0 - eps,
            }
        )

    return ranked.select(id_col, "block_id", "block_rank", vec_col).groupBy(
        "block_id"
    ).applyInPandas(
        per_block,
        schema="vec_id long, block_id int, max_prior_sim double, keep boolean",
    )


def kmeans_semdedup(
    df: DataFrame,
    eps: float = 0.05,
    n_clusters: int = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> Tuple[DataFrame, DataFrame]:
    """②+④ composed: → (keepers_df, decisions). The divide-and-conquer that
    gives the reference its 3.6x-over-SemDeDup headline (README.md:17):
    k-means blocks bound the quadratic step to block size, and Spark runs
    blocks in parallel."""
    normalized = l2_normalize(df, vec_col)
    blocked = kmeans_block(normalized, n_clusters=n_clusters, seed=seed,
                           id_col=id_col, vec_col=vec_col)
    # decisions feed BOTH returned frames (keepers derives from them) —
    # persist so the quadratic per-block pass runs once per action set
    decisions = semdedup_within_blocks(blocked, eps=eps, id_col=id_col,
                                       vec_col=vec_col).persist()
    keep_ids = decisions.filter(F.col("keep")).select(
        F.col("vec_id").alias("_keep_id")
    )
    keepers = df.join(keep_ids, df[id_col] == F.col("_keep_id"), "left_semi")
    return keepers, decisions


def d4_prune_within_blocks(
    blocked: DataFrame,
    *,
    drop_num: int = 1,
    drop_den: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "block_id",
) -> DataFrame:
    """D4 prototypicality pruning (Tirumala et al. 2023, "D4: Improving
    LLM Pretraining via Document De-Duplication and Diversification",
    §3): after SemDeDup removes near-duplicates, drop the docs CLOSEST
    to their cluster centroid — the most prototypical, least informative
    members — to diversify the kept set. → (id, block, proto_rank, keep).

    Spark shape: per-(block, pos) avg over a posexplode (map-side
    combined, no collect — centroids stay distributed, unlike ivf_topk's
    broadcast path which must gather them for the probe join), one join
    back on the block, a block-PARTITIONED window for the rank. Ranking
    uses the RAW dot with the mean vector: the centroid's norm is a
    per-block constant, so the cosine ranking is identical and the
    per-row math stays one fused dot.

    The drop fraction is the exact rational ``drop_num/drop_den``:
    ``n_drop = (n_block * drop_num) div drop_den`` in pure integer
    arithmetic — a float fraction like 0.2 rounds differently at block
    sizes where n*frac lands on an integer boundary, and this cutoff
    must be engine-exact for the DuckDB oracle. Rank ties (exactly equal
    dots) break by id ascending. proto_rank 1 = most prototypical;
    keep = proto_rank > n_drop."""
    if drop_num < 0 or drop_den <= 0 or drop_num > drop_den:
        raise ValueError(
            f"drop_num/drop_den must satisfy 0 <= num <= den, den > 0:"
            f" {drop_num}/{drop_den}"
        )
    # the input feeds TWO consumers of one job (centroid aggregation +
    # the scoring join's probe side): cut it, or expensive lineage runs
    # twice (the CLAUDE.md concurrent-stage recompute rule; same class as
    # the r4p3 embedding_clusters GEMM-ran-2x fix). Narrowed to the three
    # consumed columns first; operators.lsh.release_census_caches frees it.
    from deduplication_framework_spark.operators.lsh import _cut

    blocked, _ = _cut(blocked.select(id_col, block_col, vec_col))
    cent = (
        blocked.select(block_col, F.posexplode(vec_col).alias("pos", "x"))
        .groupBy(block_col, "pos")
        .agg(F.avg(F.col("x").cast("double")).alias("m"))
        .groupBy(block_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("m")))
            ).alias("_ps")
        )
        .select(
            block_col,
            F.expr("transform(_ps, p -> p.m)").alias("_cvec"),
        )
    )
    w = Window.partitionBy(block_col)
    scored = (
        blocked.join(cent, block_col)
        .withColumn("_proto", _dot_expr(F.col(vec_col), F.col("_cvec")))
        .withColumn(
            "proto_rank",
            F.row_number().over(
                w.orderBy(F.col("_proto").desc(), F.col(id_col))
            ),
        )
        .withColumn("_n", F.count("*").over(w))
    )
    return scored.select(
        id_col,
        block_col,
        "proto_rank",
        (
            F.col("proto_rank")
            > F.expr(f"(_n * {int(drop_num)}) div {int(drop_den)}")
        ).alias("keep"),
    )
