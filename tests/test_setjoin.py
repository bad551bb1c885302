"""Exact prefix-filtered set-similarity join (operators/setjoin.py).

The contract is recall 1.0 BY THEOREM vs brute-force all-pairs exact
Jaccard — these tests pin that on random corpora (several seeds and
thresholds, boundary pairs included), planted near-dups, adversarial
hot-element corpora, and both positional-filter settings.
"""

import random

import pytest

from deduplication_framework_spark.operators.lsh import release_census_caches
from deduplication_framework_spark.operators.setjoin import ssjoin_jaccard


def _py_oracle(sets, t):
    """Brute-force all-pairs: same float expression as the verify UDF."""
    ids = sorted(sets)
    out = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            sa, sb = set(sets[a]), set(sets[b])
            if not sa or not sb:
                continue
            inter = len(sa & sb)
            if inter / (len(sa) + len(sb) - inter) >= t:
                out.add((a, b))
    return out


def _run(spark, sets, t, **kw):
    df = spark.createDataFrame(
        [(i, list(s)) for i, s in sets.items()], ["doc_id", "grams"]
    )
    edges, stats = ssjoin_jaccard(df, threshold=t, **kw)
    got = {(r.src, r.dst) for r in edges.collect()}
    release_census_caches()
    return got, stats


@pytest.mark.parametrize("t", [0.5, 0.8])
def test_dense_path_equals_prefix_path(spark, t):
    """The tiny-universe bitmap path (r6) must emit the identical edge
    set AND identical float sim values as the prefix+verify path."""
    sets = _random_corpus(4)
    df = spark.createDataFrame(
        [(i, list(s)) for i, s in sets.items()], ["doc_id", "grams"]
    )
    e_dense, s_dense = ssjoin_jaccard(df, threshold=t, dense=True)
    rows_dense = {(r.src, r.dst): r.sim for r in e_dense.collect()}
    release_census_caches()
    e_sparse, s_sparse = ssjoin_jaccard(df, threshold=t, dense=False)
    rows_sparse = {(r.src, r.dst): r.sim for r in e_sparse.collect()}
    release_census_caches()
    assert s_dense["path"] == "dense" and "path" not in s_sparse
    assert rows_dense == rows_sparse  # exact float equality, both paths
    assert set(rows_dense) == _py_oracle(sets, t)


def test_dense_true_raises_over_budget(spark):
    from deduplication_framework_spark.operators import setjoin as sj

    # universe wider than DENSE_MAX_ELS -> dense=True must refuse loudly
    sets = {
        i: {f"u{i}_{j}" for j in range(40)} for i in range(80)
    }  # 3200 distinct elements > 2048
    df = spark.createDataFrame(
        [(i, list(s)) for i, s in sets.items()], ["doc_id", "grams"]
    )
    with pytest.raises(ValueError, match="dense budgets"):
        ssjoin_jaccard(df, threshold=0.8, dense=True)
    release_census_caches()
    assert sj.DENSE_MAX_ELS == 2048  # budget documented in the docstring


def test_dense_bound_checked_before_collect(spark, monkeypatch):
    """256 small-set docs then one 5000-element doc: the 256-doc sample
    sees a tiny universe, so only the set-size bound folded into the
    doc-count job keeps the wide doc off the driver — "auto" must take
    the prefix path without ever calling toPandas."""
    sets = {i: {f"g{(i + j) % 50}" for j in range(5)} for i in range(256)}
    sets[256] = {f"w{j}" for j in range(5000)}
    # one partition, insertion order: the sample's limit sees the small docs
    df = spark.createDataFrame(
        [(i, sorted(s)) for i, s in sets.items()], ["doc_id", "grams"]
    ).coalesce(1)

    def no_collect(self):
        raise AssertionError("dense path collected before the size bound")

    monkeypatch.setattr(type(df), "toPandas", no_collect)
    edges, stats = ssjoin_jaccard(df, threshold=0.8)
    got = {(r.src, r.dst) for r in edges.collect()}
    release_census_caches()
    assert "path" not in stats
    assert got == _py_oracle(sets, 0.8)


def test_dense_broadcast_released_with_census_caches(spark, monkeypatch):
    """The dense path's bitmap broadcast is freed by
    release_census_caches() — unpersisted, not destroyed, so the lazy
    edges frame still recomputes to the same set after the release."""
    from pyspark.broadcast import Broadcast

    released = []
    unpersist = Broadcast.unpersist

    def spy(self, blocking=False):
        released.append(self)
        return unpersist(self, blocking)

    monkeypatch.setattr(Broadcast, "unpersist", spy)
    sets = _random_corpus(4)
    df = spark.createDataFrame(
        [(i, list(s)) for i, s in sets.items()], ["doc_id", "grams"]
    )
    edges, stats = ssjoin_jaccard(df, threshold=0.5, dense=True)
    before = {(r.src, r.dst, r.sim) for r in edges.collect()}
    release_census_caches()
    assert stats["path"] == "dense"
    assert len(released) == 1
    assert {(r.src, r.dst, r.sim) for r in edges.collect()} == before
    release_census_caches()


def test_long_elements_take_the_prefix_path(spark, monkeypatch):
    """A few docs of very long elements: a tiny universe, but more
    element bytes than DENSE_MAX_BYTES, so "auto" takes the prefix path
    without collecting (the bytes are observed while the set base is
    cut), and its edges equal the dense path's on the same corpus."""
    from deduplication_framework_spark.operators import setjoin as sj

    rng = random.Random(11)
    els = [f"{i:02d}" + "z" * 2000 for i in range(10)]
    sets = {i: set(rng.sample(els, rng.randint(3, 7))) for i in range(24)}
    df = spark.createDataFrame(
        [(i, sorted(s)) for i, s in sets.items()], ["doc_id", "grams"]
    )
    e_dense, s_dense = ssjoin_jaccard(df, threshold=0.5, dense=True)
    dense = {(r.src, r.dst): r.sim for r in e_dense.collect()}
    release_census_caches()

    n_bytes = sum(len(e) for s in sets.values() for e in s)
    monkeypatch.setattr(sj, "DENSE_MAX_BYTES", n_bytes - 1)

    def no_collect(self):
        raise AssertionError("dense path collected over the byte budget")

    monkeypatch.setattr(type(df), "toPandas", no_collect)
    e_prefix, s_prefix = ssjoin_jaccard(df, threshold=0.5)
    prefix = {(r.src, r.dst): r.sim for r in e_prefix.collect()}
    release_census_caches()
    assert s_dense["path"] == "dense" and "path" not in s_prefix
    assert prefix == dense
    assert set(prefix) == _py_oracle(sets, 0.5)


def _random_corpus(seed, n_docs=60, universe=40):
    rng = random.Random(seed)
    els = [f"g{i}" for i in range(universe)]
    sets = {}
    for i in range(n_docs):
        k = rng.randint(4, 18)
        sets[i] = set(rng.sample(els, k))
    # planted near-dup pairs: copy with small perturbations
    for i in range(0, n_docs, 7):
        s = set(sets[i])
        if len(s) > 2:
            s.discard(next(iter(s)))
        s.add(f"x{i}")
        sets[n_docs + i] = s
    return sets


@pytest.mark.parametrize("seed", [1, 2, 3])
@pytest.mark.parametrize("t", [0.5, 0.8])
@pytest.mark.parametrize("dense", [False, "auto"])
def test_matches_bruteforce_oracle(spark, seed, t, dense):
    sets = _random_corpus(seed)
    got, _ = _run(spark, sets, t, dense=dense)
    assert got == _py_oracle(sets, t)


def test_threshold_boundary_pair_kept(spark):
    # J = 4/5 exactly at t = 0.8: {a,b,c,d} vs {a,b,c,d,e}
    sets = {1: {"a", "b", "c", "d"}, 2: {"a", "b", "c", "d", "e"},
            3: {"q", "r", "s"}}
    got, _ = _run(spark, sets, 0.8)
    assert got == {(1, 2)}


def test_exact_duplicates_and_t1(spark):
    sets = {1: {"a", "b"}, 2: {"a", "b"}, 3: {"a", "c"}, 4: {"z"}}
    got, _ = _run(spark, sets, 1.0)
    assert got == {(1, 2)}


def test_positional_filter_changes_nothing(spark):
    sets = _random_corpus(9, n_docs=40)
    on, s_on = _run(spark, sets, 0.8, positional=True, dense=False)
    off, s_off = _run(spark, sets, 0.8, positional=False, dense=False)
    assert on == off == _py_oracle(sets, 0.8)
    # the positional filter may only REMOVE candidates
    assert s_on["n_candidates"] <= s_off["n_candidates"]


def test_hot_element_stays_out_of_prefixes(spark):
    """Every doc shares one stopword-like gram; rarest-first ranking must
    keep it out of every prefix, so candidates stay ~answer-sized instead
    of n^2/2."""
    n = 60
    sets = {i: {"THE", f"a{i}", f"b{i}", f"c{i}", f"d{i}"} for i in range(n)}
    sets[n] = set(sets[0])  # one true duplicate pair
    got, stats = _run(spark, sets, 0.8, dense=False)
    assert got == {(0, n)}
    assert stats["n_candidates"] <= 5, stats  # not ~1800 hot-bucket pairs


def test_empty_and_duplicate_elements(spark):
    df = spark.createDataFrame(
        [(1, ["a", "a", "b"]), (2, ["b", "a"]), (3, []), (4, None)],
        "doc_id: bigint, grams: array<string>",
    )
    edges, _ = ssjoin_jaccard(df, threshold=0.8)
    assert {(r.src, r.dst) for r in edges.collect()} == {(1, 2)}
    release_census_caches()


def test_bad_threshold_raises(spark):
    df = spark.createDataFrame([(1, ["a"])], ["doc_id", "grams"])
    with pytest.raises(ValueError, match="threshold"):
        ssjoin_jaccard(df, threshold=0.0)
    with pytest.raises(ValueError, match="threshold"):
        ssjoin_jaccard(df, threshold=1.5)
