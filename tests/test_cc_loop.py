"""The distributed CC loop's round structure: jump, propagate, hook from
round 3, and stop in the round that changes no label. Rounds and jobs are
pinned on small graphs, shuffled ids converge in O(log n) rounds, the
label joins broadcast while k label tables fit the broadcast threshold;
labels always equal the union-find's."""

import math
import threading

import numpy as np
import pytest

from pyspark.sql import functions as F

from deduplication_framework_spark.operators.connected_components import (
    _free,
    _stats_bounded_local_ckpt,
    connected_components,
)
from deduplication_framework_spark.oracle.numpy_oracle import UnionFind

_CP = "spark.sql.constraintPropagation.enabled"


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _oracle(pairs):
    uf = UnionFind()
    for a, b in pairs:
        uf.union(a, b)
    return uf.labels(sorted({x for p in pairs for x in p}))


def _labels(labels):
    return {r.doc_id: r.cluster_id for r in labels.collect()}


def _chains(n_chains=20, chain_len=64, seed=1):
    """The benchmark's CC graph: shuffled ids cut into chains whose ids
    rise along each chain."""
    ids = np.random.RandomState(seed).permutation(n_chains * chain_len)
    chains = np.sort(ids.reshape(-1, chain_len), axis=1)
    return list(zip(chains[:, :-1].ravel().tolist(), chains[:, 1:].ravel().tolist()))


def _shuffled_path(n, seed=3):
    """A path whose ids are shuffled along it."""
    perm = np.random.RandomState(seed).permutation(n).tolist()
    return list(zip(perm[:-1], perm[1:]))


def _shuffled_tree(n, seed=5):
    """A random recursive tree (vertex i hangs off a uniform earlier one)
    with shuffled ids."""
    rs = np.random.RandomState(seed)
    ids = rs.permutation(n).tolist()
    return [(ids[i], ids[rs.randint(0, i)]) for i in range(1, n)]


def _last_job_id(spark):
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(), default=-1)


@pytest.mark.parametrize(
    "pairs, rounds",
    [([(i, i + 1) for i in range(63)], 2), ([(0, i) for i in range(1, 40)], 1)],
    ids=["path64", "star"],
)
def test_rounds(spark, pairs, rounds):
    rlog = []
    labels, got = connected_components(_edges(spark, pairs), round_stats=rlog)
    assert got == rounds
    assert [s["n_changed"] for s in rlog][-1] == 0
    assert [(s["join"], s["hooked"]) for s in rlog] == [("broadcast", False)] * got
    assert _labels(labels) == _oracle(pairs)


def test_bench_chain_graph_rounds_jobs_and_freed_checkpoints(spark):
    """Two rounds, so no hook, and at most 18 jobs; of the loop's default
    checkpoints only the returned labels stay persisted."""
    jsc = spark.sparkContext._jsc
    pairs = _chains()
    edges = _edges(spark, pairs)
    persisted = len(jsc.getPersistentRDDs())
    before = _last_job_id(spark)
    labels, rounds = connected_components(edges)
    jobs = _last_job_id(spark) - before
    assert rounds == 2
    assert jobs <= 18
    assert len(jsc.getPersistentRDDs()) - persisted <= 1
    assert _labels(labels) == _oracle(pairs)


def test_shuffled_path_labels_keep_bounded_stats(spark):
    """A path whose ids are shuffled along it takes 5 rounds (18 with
    propagate alone); each round's checkpoint carries statistics from its
    observed row count, so the labels' size estimate stays within 4x of
    rows x row width instead of compounding the per-round join
    estimates."""
    pairs = _shuffled_path(64)
    labels, rounds = connected_components(_edges(spark, pairs))
    assert rounds == 5
    assert _labels(labels) == _oracle(pairs)
    size = labels._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    width = 8 + labels._jdf.schema().defaultSize()
    assert 0 < size <= 4 * 64 * width


@pytest.mark.parametrize(
    "pairs", [_shuffled_path(256), _shuffled_tree(1024)],
    ids=["path256", "tree1024"],
)
def test_shuffled_ids_converge_in_log_rounds(spark, pairs):
    """Hooking labels makes the round count O(log n) whatever the id
    order: at most 2 * ceil(log2 n) rounds (propagate alone did not
    converge within 50 on the 256-vertex path)."""
    n = len(pairs) + 1
    rlog = []
    labels, rounds = connected_components(_edges(spark, pairs), round_stats=rlog)
    assert rounds <= 2 * math.ceil(math.log2(n))
    assert [s["hooked"] for s in rlog] == [r > 2 for r in range(1, rounds + 1)]
    assert _labels(labels) == _oracle(pairs)


def _planned_joins(spark, threshold=None):
    """(labels, round_stats, each round's physical plan) of the shuffled
    64-vertex path; ``threshold`` sets the session's broadcast threshold
    for the call."""
    plans, rlog = [], []

    def ckpt(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "Join" in plan:
            plans.append(plan)
        return _stats_bounded_local_ckpt(df)

    key = "spark.sql.autoBroadcastJoinThreshold"
    prior = spark.conf.get(key)
    try:
        if threshold is not None:
            spark.conf.set(key, str(threshold))
        labels, _ = connected_components(
            _edges(spark, _shuffled_path(64)), checkpoint=ckpt, round_stats=rlog
        )
        return _labels(labels), rlog, plans
    finally:
        spark.conf.set(key, prior)


def test_label_joins_broadcast_while_they_fit(spark):
    """Six 64-row label tables fit the session's threshold: every label
    join broadcasts, so the edge list never shuffles."""
    labels, rlog, plans = _planned_joins(spark)
    assert labels == _oracle(_shuffled_path(64))
    assert len(plans) == len(rlog) and any(s["hooked"] for s in rlog)
    assert {s["join"] for s in rlog} == {"broadcast"}
    for plan in plans:
        assert "BroadcastHashJoin" in plan
        assert "ShuffledHashJoin" not in plan


def test_label_joins_shuffle_hash_above_k_times_threshold(spark):
    """A threshold that one 64-row label table (1536 B) fits but five do
    not keeps every label join a shuffle-hash join, never a sort-merge."""
    labels, rlog, plans = _planned_joins(spark, threshold=4 * 64 * 24)
    assert labels == _oracle(_shuffled_path(64))
    assert len(plans) == len(rlog) and any(s["hooked"] for s in rlog)
    assert {s["join"] for s in rlog} == {"shuffle_hash"}
    for plan in plans:
        assert "ShuffledHashJoin" in plan
        assert "BroadcastHashJoin" not in plan
        assert "SortMergeJoin" not in plan


def test_cut_counts_observed_string_bytes(spark):
    """A cut's size estimate counts its strings' observed bytes, not
    Spark's 20 B default, so a cut of documents never looks small enough
    to broadcast."""
    text = "x" * 5000
    docs = spark.range(200).select("id", F.lit(text).alias("text"))
    cut = _stats_bounded_local_ckpt(docs)
    size = cut._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    _free(cut)
    assert 200 * 5000 <= size <= 200 * (5000 + 64)


def test_empty_edges(spark):
    labels, rounds = connected_components(_edges(spark, []))
    assert rounds == 1
    assert labels.count() == 0


def test_lazy_checkpoint_fails_instead_of_hanging(spark):
    """Observation.get would block forever on a checkpoint that runs no
    action; the loop raises instead."""
    out = {}

    def call():
        try:
            connected_components(
                _edges(spark, [(0, 1), (1, 2)]), checkpoint=lambda df: df
            )
        except RuntimeError as e:
            out["error"] = str(e)

    t = threading.Thread(target=call, daemon=True)
    t.start()
    t.join(timeout=120)
    assert not t.is_alive(), "connected_components hung on a lazy checkpoint"
    assert "materializ" in out["error"]


def test_concurrent_calls_leave_session_conf(spark):
    """Two calls on two threads of one session (the pipeline's detector
    branches share a session) leave the optimizer conf as they found it."""
    prior = spark.conf.get(_CP, None)
    graphs = [_chains(seed=2), [(0, i) for i in range(1, 30)]]
    got = [None, None]

    def call(i):
        got[i] = _labels(connected_components(_edges(spark, graphs[i]))[0])

    threads = [threading.Thread(target=call, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert spark.conf.get(_CP, None) == prior
    assert got == [_oracle(g) for g in graphs]
