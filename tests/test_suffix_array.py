"""Distributed suffix-array exact-substring detector (J17) vs brute-force
LCS oracle, plus the planted substring class of the synthetic corpus."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from deduplication_framework_spark.operators.suffix_array import (
    substring_edges_suffix_array,
    suffix_ranks,
)
from deduplication_framework_spark.oracle.numpy_oracle import substring_pairs


def test_suffix_ranks_classes_small(spark):
    """Ranks at full depth reproduce the prefix-equality classes of a
    single-node sorted-suffixes oracle. Ranks are equality labels only —
    pruned-singleton namespacing deliberately gives up lexicographic order
    (bucketing never needs it); every position must still be present with
    a class-consistent, cross-class-distinct rank."""
    text = "abracadabra"
    docs = spark.createDataFrame([(0, text)], "doc_id long, text string")
    s, k, _ = suffix_ranks(docs, min_match_chars=11, k0=2)
    rows = {r.pos: r.rank for r in s.collect()}
    assert set(rows) == set(range(1, len(text) + 1))  # no position lost
    # oracle: group positions by first min(k, remaining) chars
    by_prefix = {}
    for pos in range(1, len(text) + 1):
        by_prefix.setdefault(text[pos - 1 : pos - 1 + k], []).append(pos)
    class_ranks = []
    for prefix, positions in by_prefix.items():
        ranks = {rows[p] for p in positions}
        assert len(ranks) == 1, f"prefix {prefix!r} split across ranks"
        class_ranks.append(ranks.pop())
    # distinct prefixes → distinct ranks
    assert len(class_ranks) == len(set(class_ranks))


@pytest.mark.parametrize("mode", ["hash", "rank"])
def test_exact_pairs_vs_lcs_oracle(spark, mode):
    rng = np.random.RandomState(5)
    alpha = "abcdef"
    base = "".join(alpha[i] for i in rng.randint(0, 6, 40))
    texts = []
    for i in range(12):
        t = "".join(alpha[i] for i in rng.randint(0, 6, 120))
        if i % 3 == 0:
            cut = rng.randint(0, 100)
            t = t[:cut] + base + t[cut:]
        texts.append(t)
    L = 25
    expect = substring_pairs(texts, L)
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    edges, _ = substring_edges_suffix_array(docs, min_match_chars=L, mode=mode)
    got = {(r.src, r.dst) for r in edges.collect()}
    assert got == expect


@pytest.mark.parametrize("mode", ["hash", "rank"])
def test_below_threshold_not_paired(spark, mode):
    span = "the-quick-brown-fox-jumps-over"  # 30 chars
    docs = spark.createDataFrame(
        [
            (0, "AAAA " + span + " BBBBBBBBBBBB"),
            (1, "CCCCCCCCCC" + span + "DDDD"),
            (2, "totally unrelated content here without overlap zzz"),
            (3, "EEE " + span[:19] + " FFFFFFFFFFFFFFFFFF"),
        ],
        "doc_id long, text string",
    )
    edges, _ = substring_edges_suffix_array(docs, min_match_chars=30, mode=mode)
    assert {(r.src, r.dst) for r in edges.collect()} == {(0, 1)}


def test_planted_corpus_substring_class(spark, pages):
    """Every planted (host, embedder) pair shares >= 200 contiguous chars →
    the suffix-array pass must link them (restricted to the substring block
    to keep the n-chars row explosion test-sized)."""
    sub = pages.filter(F.col("dup_class") == "substring").select(
        F.col("doc_order").alias("doc_id"), "text"
    )
    edges, _ = substring_edges_suffix_array(sub, min_match_chars=200)
    got = {(r.src, r.dst) for r in edges.collect()}
    planted = (
        pages.filter(F.col("dup_class") == "substring")
        .groupBy("group_id")
        .agg(F.collect_list("doc_order").alias("members"))
        .collect()
    )
    expected = set()
    for r in planted:
        ms = sorted(r.members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                expected.add((ms[i], ms[j]))
    assert len(expected) > 10
    missing = expected - got
    assert not missing, f"missed: {sorted(missing)[:5]}"


def test_hash_and_rank_modes_agree_on_planted_corpus(spark, pages):
    """The 128-bit L-gram hash path and the prefix-doubling rank path must
    produce identical edge sets on the planted substring block."""
    from pyspark.sql import functions as F

    sub = pages.filter(F.col("dup_class") == "substring").select(
        F.col("doc_order").alias("doc_id"), "text"
    )
    h, _ = substring_edges_suffix_array(sub, min_match_chars=200, mode="hash")
    r, _ = substring_edges_suffix_array(sub, min_match_chars=200, mode="rank")
    hp = {(x.src, x.dst) for x in h.collect()}
    rp = {(x.src, x.dst) for x in r.collect()}
    assert hp == rp and len(hp) > 10


def test_doubling_path_matches_direct(spark):
    """Prefix-doubling from two different k0 seeds must produce identical
    pairs (and match the LCS oracle) — exercises the pruned doubling loop
    at different round counts."""
    rng = np.random.RandomState(7)
    alpha = "abcd"
    base = "".join(alpha[i] for i in rng.randint(0, 4, 50))
    texts = []
    for i in range(10):
        t = "".join(alpha[i] for i in rng.randint(0, 4, 150))
        if i % 2 == 0:
            cut = rng.randint(0, 120)
            t = t[:cut] + base + t[cut:]
        texts.append(t)
    L = 30
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    expect = substring_pairs(texts, L)

    from deduplication_framework_spark.operators.suffix_array import (
        substring_buckets,
    )
    from deduplication_framework_spark.operators.lsh import candidate_pairs

    for k0 in (4, 8):  # 4 forces doubling rounds; 8 -> direct (k0=15)
        bands = substring_buckets(docs, L, k0=k0)
        pairs, _ = candidate_pairs(bands, bucket_cap=1)
        # candidate cliques + CC-equivalence: compare transitive closures
        from deduplication_framework_spark.oracle.numpy_oracle import (
            clusters_to_pairs,
            pairs_to_labels,
        )
        got_raw = {(r.src, r.dst) for r in pairs.collect()}
        ids = list(range(10))
        got = clusters_to_pairs(pairs_to_labels(ids, got_raw)) & {
            (a, b) for a in ids for b in ids if a < b
        }
        expect_cc = clusters_to_pairs(pairs_to_labels(ids, expect))
        assert got == expect_cc, f"k0={k0}"


@pytest.mark.parametrize("seed", [11, 23, 47])
def test_left_extension_suppression_collapses_interior_buckets(spark, seed):
    """Round-3 shuffle-amplification fix: a shared span's INTERIOR L-gram
    buckets must collapse to a single prev group (zero pairs emitted
    there); divergence happens only at the span's left boundary. Also pins
    exact pair-set parity between the suppressed and plain pair-gen paths
    on the same bands, across several random corpora."""
    from deduplication_framework_spark.operators.lsh import candidate_pairs
    from deduplication_framework_spark.operators.suffix_array import (
        substring_buckets_lgram,
    )

    rng = np.random.RandomState(seed)
    alpha = "abcdefgh"
    span = "".join(alpha[i] for i in rng.randint(0, 8, 300))
    texts = []
    for i in range(6):
        t = "".join(alpha[i] for i in rng.randint(0, 8, 200))
        cut = rng.randint(0, 150)
        texts.append(t[:cut] + span + t[cut:])
    L = 100
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    bands = substring_buckets_lgram(docs, L, with_prev=True).persist()

    g = F.coalesce(F.col("prev"), F.xxhash64(F.lit("_noprev"), F.col("doc_id")))
    census = (
        bands.groupBy("band_idx", "band_key")
        .agg(
            F.countDistinct(g).alias("n_groups"),
            F.count("*").alias("sz"),
        )
        .filter(F.col("sz") > 1)
    )
    multi = census.count()
    divergent = census.filter(F.col("n_groups") > 1).count()
    # the span yields ~201 shared-gram buckets; all interior ones are a
    # single prev group — only the leftmost (plus rare random-context
    # collisions at the splice boundary) may diverge
    assert multi >= 150
    assert divergent <= 5, f"{divergent} of {multi} buckets diverged"

    # exact pair-set parity: suppressed all-pairs == plain all-pairs
    plain, _ = candidate_pairs(bands.drop("prev"), bucket_cap=2000)
    supp, _ = candidate_pairs(bands, bucket_cap=2000, group_col="prev")
    assert {(r.src, r.dst) for r in supp.collect()} == {
        (r.src, r.dst) for r in plain.collect()
    }

    # clique path (bucket_cap=1) and the salted hot path (bucket_cap=3:
    # the 6-doc span buckets are over cap): identical connected components
    from deduplication_framework_spark.oracle.numpy_oracle import (
        clusters_to_pairs,
        pairs_to_labels,
    )

    ids = list(range(6))
    cc = lambda pairs: clusters_to_pairs(  # noqa: E731
        pairs_to_labels(ids, {(r.src, r.dst) for r in pairs.collect()})
    )
    for cap in (1, 3):
        p_plain, _ = candidate_pairs(bands.drop("prev"), bucket_cap=cap)
        p_supp, _ = candidate_pairs(bands, bucket_cap=cap, group_col="prev")
        assert cc(p_supp) == cc(p_plain), f"bucket_cap={cap}"
    bands.unpersist()


@pytest.mark.parametrize("mode", ["hash", "rank"])
def test_collapse_exact_cc_parity(spark, mode):
    """VERDICT r3 #4: collapsing byte-identical docs to reps before
    position explosion must leave the connected components EXACTLY as the
    uncollapsed run — including identical docs shorter than L (no L-gram:
    singletons BOTH ways, so no identity edge may attach them)."""
    from deduplication_framework_spark.operators.cluster import (
        clusters_from_edges,
    )

    rng = np.random.RandomState(9)
    alpha = "abcdef"
    base = "".join(alpha[i] for i in rng.randint(0, 6, 40))
    texts = []
    for i in range(8):
        t = "".join(alpha[i] for i in rng.randint(0, 6, 120))
        if i % 3 == 0:
            cut = rng.randint(0, 80)
            t = t[:cut] + base + t[cut:]
        texts.append(t)
    # exact-dup group (long): copies of texts[0] — must land in 0's cluster
    texts += [texts[0], texts[0]]
    # exact-dup group SHORTER than L: identical, but shares no L-gram —
    # must stay singletons exactly like the uncollapsed semantics
    texts += ["shorty", "shorty"]
    L = 25
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )

    def clusters(collapse):
        edges, _ = substring_edges_suffix_array(
            docs, min_match_chars=L, mode=mode, collapse_exact=collapse
        )
        cc, _ = clusters_from_edges(docs, edges.select("src", "dst"))
        return {(r.doc_id, r.cluster_id) for r in cc.collect()}

    plain, collapsed = clusters(False), clusters(True)
    assert collapsed == plain
    by_cluster = {}
    for d, c in collapsed:
        by_cluster.setdefault(c, set()).add(d)
    n = len(texts)
    assert {n - 4, n - 3} <= by_cluster[0]      # long exact dups joined 0
    assert by_cluster[n - 2] == {n - 2}          # short identical: singleton
    assert by_cluster[n - 1] == {n - 1}
