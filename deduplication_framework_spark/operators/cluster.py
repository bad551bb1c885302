"""Cluster assignment + keeper selection (SURVEY.md W5/J2 decomposition).

The reference keeps the first-seen item of every duplicate group
(``pipeline_api.py:488-528``). The order-free distributed equivalent:
cluster id = min(doc_order member) per connected component; keeper = the doc
whose order equals the component minimum. SURVEY.md §7 documents this as the
one deliberate semantic change (greedy-transitive chains == CC clusters when
candidate generation is complete).
"""

from __future__ import annotations

from typing import List, Tuple

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from deduplication_framework_spark.operators.connected_components import (
    connected_components,
)
from deduplication_framework_spark.session import local_frame


def _driver_union_find(rows: List[Row]) -> dict:
    """Union-find over a collected (src, dst) edge list (min-id roots)."""
    from deduplication_framework_spark.oracle.numpy_oracle import UnionFind

    uf = UnionFind()
    ids = set()
    for r in rows:
        uf.union(int(r.src), int(r.dst))
        ids.add(int(r.src))
        ids.add(int(r.dst))
    return uf.labels(sorted(ids))


def clusters_from_edges(
    docs: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    checkpoint=None,
    driver_threshold: int = 0,
) -> Tuple[DataFrame, int]:
    """docs + edges(src,dst) → clusters(doc_id, cluster_id) covering EVERY
    doc (singletons get their own id). Returns (clusters, cc_rounds).

    ``driver_threshold`` > 0 enables the adaptive fast path: when the edge
    set is at most that many rows, collect it and run union-find on the
    driver (the dedup edge graph is typically orders of magnitude smaller
    than the corpus — the standard "broadcast the frontier when it fits"
    move; GraphFrames' CC does the same). One bounded collect of at most
    ``driver_threshold + 1`` edges both decides the path and feeds the
    union-find. The distributed label-propagation loop remains the default
    and the scale path.
    """
    if driver_threshold > 0:
        rows = edges.select("src", "dst").limit(driver_threshold + 1).collect()
        if len(rows) <= driver_threshold:
            labels = local_frame(
                docs.sparkSession,
                "doc_id long, cluster_id long",
                _driver_union_find(rows).items(),
            )
            clusters = (
                docs.select(F.col(id_col).alias("doc_id"))
                .join(F.broadcast(labels), "doc_id", "left")
                .select(
                    "doc_id",
                    F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias(
                        "cluster_id"
                    ),
                )
            )
            return clusters, 0
    labels, rounds = connected_components(edges, checkpoint=checkpoint)
    clusters = (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        )
    )
    return clusters, rounds


def keepers(docs: DataFrame, clusters: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Rows of `docs` whose id is its cluster's minimum (the keeper set);
    losers are everything else (left_anti of this)."""
    keep_ids = clusters.filter(F.col("doc_id") == F.col("cluster_id")).select("doc_id")
    return docs.join(
        keep_ids.withColumnRenamed("doc_id", id_col), id_col, "left_semi"
    )


def score_keepers(
    members: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Keep-priority selection (SURVEY.md W2) over scored cluster members:
    per cluster, the member with the HIGHEST numeric score, ties to the
    smallest id — the 'keep the richest copy' policy generalizing the
    min-id keeper. Computed as a min-of-struct((-score, id)) aggregation
    so it map-side combines; a window rank would funnel each cluster
    through one task and straggle on boilerplate mega-clusters.

    Returns one row per cluster: (cluster_col, keeper_id, keeper_score).
    NULL scores lose to every real score via an explicit is-null sort key
    (struct NULL-field ordering is not relied on); an all-NULL cluster
    keeps its min id with keeper_score NULL."""
    score = F.col(score_col)
    pick = members.groupBy(cluster_col).agg(
        F.min(
            F.struct(
                score.isNull().cast("int").alias("_null"),
                (-F.coalesce(score, F.lit(0))).alias("_ns"),
                F.col(id_col).alias("_id"),
            )
        ).alias("_m")
    )
    return pick.select(
        cluster_col,
        F.col("_m._id").alias("keeper_id"),
        F.when(F.col("_m._null") == 0, -F.col("_m._ns")).alias("keeper_score"),
    )


def soft_dedup_weights(
    clusters: DataFrame,
    *,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    unit: int = 1_000_000,
) -> DataFrame:
    """Soft deduplication (SoftDedup, He et al. ACL 2024 — public method:
    DOWN-WEIGHT duplicated content instead of dropping it, so each
    distinct content class contributes ~equal total sampling mass while
    no document is lost): → (id, cluster, cluster_size, weight_ppm) with
    ``weight_ppm = unit div cluster_size`` in pure integer arithmetic
    (engine-exact; a float 1/n reweighting has no cross-engine rounding
    guarantee). Works over ANY cluster labeling — exact md5 groups,
    MinHash CCs, span classes. One count aggregation on the cluster key
    (map-side combined) + one join back; no windows."""
    # underscore-shielded internal name: the ANY-labeling contract means
    # the caller's frame may itself carry a cluster_size/weight_ppm
    # column (cluster stats joined onto the labeling), which would make
    # an unprefixed join ambiguous (the repo's _sz/_sa/_sb convention)
    sizes = clusters.groupBy(cluster_col).agg(
        F.count("*").alias("_sd_size")
    )
    return clusters.join(sizes, cluster_col).select(
        id_col,
        cluster_col,
        F.col("_sd_size").alias("cluster_size"),
        F.expr(f"CAST({int(unit)} div _sd_size AS BIGINT)").alias(
            "weight_ppm"
        ),
    )
