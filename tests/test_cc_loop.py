"""The distributed CC loop's round structure: jump, then propagate, and
stop in the round whose propagate changes no label. Rounds and jobs are
pinned on small graphs; labels always equal the union-find's."""

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
    assert _labels(labels) == _oracle(pairs)


def test_bench_chain_graph_rounds_jobs_and_freed_checkpoints(spark):
    """Two rounds and at most 24 jobs; of the loop's default checkpoints
    only the returned labels stay persisted."""
    jsc = spark.sparkContext._jsc
    pairs = _chains()
    edges = _edges(spark, pairs)
    persisted = len(jsc.getPersistentRDDs())
    before = _last_job_id(spark)
    labels, rounds = connected_components(edges)
    jobs = _last_job_id(spark) - before
    assert rounds == 2
    assert jobs <= 24
    assert len(jsc.getPersistentRDDs()) - persisted <= 1
    assert _labels(labels) == _oracle(pairs)


def test_shuffled_path_labels_keep_bounded_stats(spark):
    """A path whose ids are shuffled along it takes 18 rounds; each
    round's checkpoint carries statistics from its observed row count, so
    the labels' size estimate stays within 4x of rows x row width instead
    of compounding the per-round join estimates."""
    perm = np.random.RandomState(3).permutation(64).tolist()
    pairs = list(zip(perm[:-1], perm[1:]))
    labels, rounds = connected_components(_edges(spark, pairs))
    assert rounds == 18
    assert _labels(labels) == _oracle(pairs)
    size = labels._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    width = 8 + labels._jdf.schema().defaultSize()
    assert 0 < size <= 4 * 64 * width


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
