"""Iterative connected components over an edge DataFrame (hash-partitioned
union-find analog — north_rule / SURVEY.md J10).

The reference merges duplicate pairs greedily and, in the audio path, even
randomly (``/root/reference/audio/method/caculate_dedup.py:37-44``). The
north rule replaces this with proper connected components: every doc's
cluster id = the minimum doc id reachable through verified duplicate edges.

Algorithm: alternating *pointer jumping* (path-halving), *min-label
propagation* and, from round 3 on, *label hooking*: the DataFrame
formulation of the map-reduce CC family (Kiveris et al. 2014, "Connected
Components in MapReduce and Beyond" — public) with the root hooking of
union-find (BTS, "Load-Balanced Distributed Union-Find", ICDE 2024). The
initial label is min(v, min over neighbors u of u); each round then runs

  1. label'(v) = label(label(v)), three times                       [jump]
  2. nmin(v) = min over neighbors u of label'(u)                [propagate]
  3. hmin(r) = min over vertices v with label'(v) = r of nmin(v)     [hook]
  4. label''(v) = min(label'(v), nmin(v), hmin(v))

and stops in the round that changes no label (label'' = label'
everywhere). That is the fixpoint: with no change, both ends of every
edge carry one label, so each component carries one label. Every label(v)
is a vertex of v's component and at most v, so the component's minimum m
has label(m) = m, and that one label is m.

Pointer jumping halves the depth of a label chain per jump, so where ids
rise along the graph's paths convergence is O(log(diameter)) rounds, and
near-dup clusters (stars through the keeper) take 1-3. Propagate alone
moves a label one hop per round, so on a path whose ids are shuffled
along it the round count would grow with the path's length (18 rounds at
64 vertices). The hook lets a label, itself a vertex, take the least
label any of its members sees, so a whole tree of labels joins its
neighbor tree at once and the jumps spread that within two rounds; such
graphs converge in O(log n) rounds (7 for a shuffled 256-vertex path).
Hooking costs a vertex-sized aggregate and join, and starts at round 3,
so graphs that converge in two rounds do not pay for it.

Join strategy: a round's label-sized build sides (the three jumps' parent
tables, the propagate's labels, its per-vertex minima, and the hook: k = 5,
6 in a hooking round) are hinted ``broadcast`` when k × the label table's
bytes (the vertex count, observed while the initial labels are cut, × 24
B per row) fit the session's ``autoBroadcastJoinThreshold``, so the edge
list never moves; otherwise ``shuffle_hash``, which skips the per-round
sorts. The bound is k× because all k tables are broadcast in one round: a
single table's bound lets a round hold several times the threshold.

Every round materializes through the ``checkpoint`` callable to truncate
lineage (a driver-loop over joins would otherwise build an exponentially
deep plan): by default ``_stats_bounded_local_ckpt``, a ``localCheckpoint``
that costs the round one action and carries size statistics built from
counts that action observed, whose blocks are freed once the next round
holds its own; on a cluster each round can instead checkpoint to
the table store (see plans.checkpoint) for resumability.
"""

from __future__ import annotations

from typing import Optional, Tuple

from pyspark import SparkContext
from pyspark.serializers import CPickleSerializer
from pyspark.sql import Column, DataFrame, Observation, Row
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DataType,
    MapType,
    StringType,
)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
    checkpoint=None,
    round_stats: Optional[list] = None,
) -> Tuple[DataFrame, int]:
    """edges(src, dst) → labels(doc_id, cluster_id) for every vertex that
    appears in an edge. cluster_id = min vertex id in the component.

    ``checkpoint``: optional callable DataFrame -> DataFrame that must
    materialize the frame it is given (run one action over all of its rows)
    and return a frame over the stored rows; the round's change count is
    observed during that action. A callable that runs no action raises a
    RuntimeError. Defaults to a ``localCheckpoint`` the loop frees itself:
    only the returned labels stay persisted.

    ``round_stats``: optional caller-owned list; each round appends
    {"round", "n_changed", "join", "hooked"}: the number of labels the
    round changed, its label joins' strategy ("broadcast" or
    "shuffle_hash") and whether it hooked (the bench's distributed-CC
    entry passes a list so per-round convergence is a recorded artifact).

    Vertices with no edges are absent — callers union them back with
    cluster_id = own id (cheaper than shipping singletons through the loop).
    """
    ckpt = checkpoint or _stats_bounded_local_ckpt
    return _cc_loop(
        edges, src, dst, max_iterations, ckpt, round_stats, checkpoint is None
    )


def _default_size(dtype: DataType) -> int:
    """Spark's per-value size estimate for ``dtype``."""
    jtypes = SparkContext._jvm.org.apache.spark.sql.types
    return jtypes.DataType.fromJson(dtype.json()).defaultSize()


def _data_bytes(col: Column, dtype: DataType) -> Optional[Column]:
    """Per-row bytes of a variable-width column, or None for a fixed-width
    one: a string's or binary's octet length, an array's elements (string
    elements by octet length, others at their default size), a map's
    keys plus values. A NULL counts 0."""
    if isinstance(dtype, (StringType, BinaryType)):
        return F.octet_length(col)
    if isinstance(dtype, MapType):
        parts = [(F.map_keys(col), dtype.keyType), (F.map_values(col), dtype.valueType)]
        return sum(F.coalesce(_data_bytes(c, ArrayType(t)), F.lit(0)) for c, t in parts)
    if not isinstance(dtype, ArrayType):
        return None
    if isinstance(dtype.elementType, StringType):
        return F.octet_length(F.array_join(col, ""))
    return F.when(col.isNotNull(), F.size(col)) * _default_size(dtype.elementType)


def _stats_bounded_local_ckpt(df: DataFrame) -> DataFrame:
    """The lineage cut: ``df``'s rows as a ``localCheckpoint``, in ONE
    action, whose LogicalRDD carries size statistics built from the row
    count and the variable-width bytes observed during that action.

    The statistics must not be the child plan's estimate, which Spark's
    checkpoint copies into the LogicalRDD: a join's size estimate is the
    PRODUCT of its children's, so in an iterative loop each round's
    checkpointed sizeInBytes is ~the 4th power of the previous round's,
    and after ~8 rounds the BigInteger arithmetic in the stats visitor
    dominates the driver (jstack: BigInteger.multiplyToomCook3 under
    LogicalRDD.rewriteStatsAndConstraints; an 18-round loop did not finish
    in 240 s). So the checkpointed plan is rebound to the Statistics of a
    ``spark.range(k)`` plan (8 B per row: sizeInBytes = 8k, rowCount =
    k), k = ⌈bytes / 8⌉, where bytes = the observed ``_data_bytes`` of the
    top-level string, binary, array and map columns + rows × (8 B + the
    default size of each other column, Spark's own per-row estimate). A
    string's default size is 20 B and an array's one element's, so
    without the observed bytes a cut of documents or shingle sets would
    look small enough to broadcast at any corpus size.
    (Py4J turns a Scala BigInt into a Python int, so Statistics cannot be
    built from Python directly.) Persisting first would give real stats
    too, from the cached bytes, but under AQE the cache build and the
    checkpoint's count are two jobs."""
    spark = df.sparkSession
    var = [_data_bytes(df[i], f.dataType) for i, f in enumerate(df.schema.fields)]
    obs = Observation()
    ckpt = df.observe(
        obs,
        F.count(F.lit(1)),
        *[F.sum(v) for v in var if v is not None],
    ).localCheckpoint(eager=True)
    rows, *var_bytes = _observed_row(obs, spark)
    fixed = 8 + sum(
        _default_size(f.dataType)
        for f, v in zip(df.schema.fields, var) if v is None
    )
    nbytes = rows * fixed + sum(b or 0 for b in var_bytes)
    stats = (
        spark.range(-(-nbytes // 8))._jdf.queryExecution()
        .optimizedPlan().stats()
    )
    jvm, jsession = spark._jvm, df._jdf.sparkSession()
    rdd_plan = ckpt._jdf.queryExecution().analyzed()
    rebound = rdd_plan.copy(
        rdd_plan.output(), rdd_plan.rdd(), rdd_plan.outputPartitioning(),
        rdd_plan.outputOrdering(), rdd_plan.isStreaming(), rdd_plan.stream(),
        jsession, jvm.scala.Some(stats), jvm.scala.Option.empty(),
    )
    return DataFrame(
        jvm.org.apache.spark.sql.classic.Dataset.ofRows(jsession, rebound), spark
    )


def _cc_loop(edges, src, dst, max_iterations, ckpt, round_stats, release):
    spark = edges.sparkSession
    both = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )
    both = ckpt(both)
    try:
        labels = both.groupBy("a").agg(F.min("b").alias("nbr_min"))
        labels = labels.select(
            F.col("a").alias("doc_id"),
            F.least(F.col("a"), F.col("nbr_min")).alias("cluster_id"),
        )
        # the vertex count rides the cut's own action; every round's label
        # table has exactly these rows, so its bytes are known, not estimated
        # (a store checkpoint's stats would be compressed parquet bytes)
        obs = Observation()
        labels = ckpt(labels.observe(obs, F.count(F.lit(1))))
        label_bytes = _observed_row(obs, spark)[0] * (
            8 + labels._jdf.schema().defaultSize()
        )
        threshold = (
            spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
        )

        # NOTE (r6): pre-partitioning the checkpointed frames does NOT carry
        # co-partitioning into later rounds — under AQE the checkpoint's
        # LogicalRDD records unknown output partitioning, so the per-round
        # joins re-exchange regardless (A/B'd: identical interleaved minima
        # with and without explicit repartitions). The round's wins are the
        # broadcast label joins while the label tables fit (the edge list
        # never shuffles), SHUFFLE_HASH joins above that (no per-round
        # sorts), three jumps per round, the hook from round 3, and a change
        # count observed during the checkpoint's own action.
        for it in range(max_iterations):
            hooked = it >= 2
            how = (
                "broadcast"
                if (6 if hooked else 5) * label_bytes <= threshold
                else "shuffle_hash"
            )
            # 1. pointer jump three times — each jump is a self-join on the
            #    (small) label table that SQUARES the per-round shortcutting.
            #    The non-null filter gives the frame feeding both sides of a
            #    jump the constraint the join would otherwise infer on its
            #    parent side only, so the two sides stay one subtree and
            #    share their exchanges (a null id never matches a join).
            jumped = labels.filter(F.col("doc_id").isNotNull())
            for _ in range(3):
                parent = jumped.select(
                    F.col("doc_id").alias("p_id"), F.col("cluster_id").alias("p_label")
                ).hint(how)
                jumped = jumped.join(
                    parent, jumped.cluster_id == parent.p_id, "left"
                ).select(
                    "doc_id",
                    F.coalesce(F.col("p_label"), F.col("cluster_id")).alias(
                        "cluster_id"
                    ),
                )

            # 2. propagate: each vertex's least neighbor label (_nmin). The
            #    vertex's own jumped label rides the left join as _old, so
            #    the change count is one observed sum, filled by the
            #    checkpoint's action — no job of its own.
            lab_h = jumped.hint(how)
            nbr_min = (
                both.join(lab_h, both.b == lab_h.doc_id, "inner")
                .select(F.col("a").alias("doc_id"), F.col("cluster_id").alias("cand"))
                .groupBy("doc_id")
                .agg(F.min("cand").alias("_nmin"))
            )
            vert = jumped.join(nbr_min.hint(how), "doc_id", "left")
            lows = [F.col("cluster_id"), F.col("_nmin")]
            if hooked:
                # 3. hook: each label, itself a vertex, takes the least
                #    neighbor label any of its members sees (least skips the
                #    NULL of a vertex that labels no member)
                hook = vert.groupBy(F.col("cluster_id").alias("_root")).agg(
                    F.min("_nmin").alias("_hmin")
                )
                vert = vert.join(
                    hook.hint(how), F.col("doc_id") == F.col("_root"), "left"
                )
                lows.append(F.col("_hmin"))
            obs = Observation()
            prop = (
                vert.select(
                    "doc_id",
                    F.col("cluster_id").alias("_old"),
                    F.least(*lows).alias("cluster_id"),
                )
                .observe(
                    obs, F.sum((F.col("_old") != F.col("cluster_id")).cast("long"))
                )
            )
            superseded, labels = labels, ckpt(prop.select("doc_id", "cluster_id"))
            # sum over zero rows (an empty edge list) is NULL
            changed = _observed_row(obs, spark)[0] or 0
            if release:
                _free(superseded)
            if round_stats is not None:
                round_stats.append(
                    {"round": it + 1, "n_changed": changed, "join": how,
                     "hooked": hooked}
                )
            if changed == 0:
                return labels, it + 1
        if release:
            _free(labels)
    finally:
        if release:
            _free(both)

    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} iterations"
    )


def _observed_row(obs: Observation, spark) -> Row:
    """The row ``obs`` collected during the action that materialized its
    frame (a checkpoint, a write).

    Observed metrics arrive through the listener bus after the action
    returns, so an empty observation first drains the bus; one still
    empty after that means no action ran over the observed frame, and
    waiting for it (``Observation.get``) would block forever."""
    row = obs._jo.getRowOrEmpty()
    if row.isEmpty():
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        row = obs._jo.getRowOrEmpty()
    if row.isEmpty():
        raise RuntimeError(
            "an observed frame was not materialized: the action meant to "
            "fill its observation never ran over it"
        )
    utils = getattr(
        spark.sparkContext._jvm, "org.apache.spark.sql.api.python.PythonSQLUtils"
    )
    return CPickleSerializer().loads(utils.toPyRow(row.get()))


def _free(df: DataFrame) -> None:
    """Drop a ``_stats_bounded_local_ckpt`` frame's blocks. Its plan is the
    checkpointed LogicalRDD; ``DataFrame.unpersist`` only drops cache
    entries, so the RDD itself is unpersisted."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)
