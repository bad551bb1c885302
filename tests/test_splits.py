"""Leakage-safe splitting (operators/splits.py): the coherence
guarantee (no cluster crosses the boundary), hand-computed assignment,
singleton fallback, determinism, rate behavior, and stats."""

import hashlib

import pytest

from deduplication_framework_spark.operators.splits import (
    DEFAULT_SALT,
    leakage_safe_split,
    split_stats,
)


def _side(group_id, val_frac, salt=DEFAULT_SALT):
    bucket = hashlib.md5(f"{group_id}:{salt}".encode()).hexdigest()[:8]
    thr = format(int(round(val_frac * 16**8)), "08x")
    return "val" if bucket < thr else "train"


@pytest.fixture(scope="module")
def frames(spark):
    docs = spark.createDataFrame(
        [(i,) for i in range(40)], ["doc_id"]
    )
    # clusters: {0,1,2}, {10,11}, {20..24}; rest unassigned singletons
    clusters = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (10, 10), (11, 10)]
        + [(i, 20) for i in range(20, 25)],
        ["doc_id", "cluster_id"],
    )
    return docs, clusters


def test_clusters_never_cross_the_boundary(spark, frames):
    docs, clusters = frames
    out = leakage_safe_split(docs, clusters, val_frac=0.5).collect()
    sides = {}
    for r in out:
        sides.setdefault(r.group_id, set()).add(r.split)
    assert all(len(s) == 1 for s in sides.values())


def test_hand_computed_assignment_and_singletons(spark, frames):
    docs, clusters = frames
    rows = {
        r.doc_id: r
        for r in leakage_safe_split(
            docs, clusters, val_frac=0.3
        ).collect()
    }
    assert len(rows) == 40
    for i in range(40):
        if i in (0, 1, 2):
            g = 0
        elif i in (10, 11):
            g = 10
        elif 20 <= i < 25:
            g = 20
        else:
            g = i  # unassigned -> singleton group
        assert rows[i].group_id == g, i
        assert rows[i].split == _side(g, 0.3), i


def test_no_clusters_is_plain_hash_split(spark, frames):
    docs, _ = frames
    rows = leakage_safe_split(docs, None, val_frac=0.3).collect()
    for r in rows:
        assert r.group_id == r.doc_id
        assert r.split == _side(r.doc_id, 0.3)


def test_extreme_fractions(spark, frames):
    docs, clusters = frames
    all_train = leakage_safe_split(docs, clusters, val_frac=0.0)
    assert all_train.filter("split = 'val'").count() == 0
    all_val = leakage_safe_split(docs, clusters, val_frac=1.0)
    assert all_val.filter("split = 'train'").count() == 0


def test_assignment_stable_under_growth(spark, frames):
    docs, clusters = frames
    base = {
        r.doc_id: r.split
        for r in leakage_safe_split(docs, clusters).collect()
    }
    more = spark.createDataFrame([(i,) for i in range(80)], ["doc_id"])
    grown = {
        r.doc_id: r.split
        for r in leakage_safe_split(more, clusters).collect()
    }
    assert all(grown[i] == s for i, s in base.items())


def test_split_stats(spark, frames):
    docs, clusters = frames
    assigned = leakage_safe_split(docs, clusters, val_frac=0.5)
    stats = {r.split: r for r in split_stats(assigned).collect()}
    n_groups = sum(r.n_groups for r in stats.values())
    n_docs = sum(r.n_docs for r in stats.values())
    assert n_docs == 40
    assert n_groups == 3 + (40 - 10)  # 3 clusters + 30 singletons
