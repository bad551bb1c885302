"""Fuzzy incremental recrawl dedup (operators/incremental_fuzzy.py).

The product contract: result == the no-bloom bipartite band-join +
exact-Jaccard-verify answer (the batch pipeline's verified-edge semantics
applied new × history). The Bloom filter may only ROUTE band rows —
definitely-new skips joins, false positives add candidates that
verification removes — never change the answer. The oracle below
recomputes that answer driver-side from the same featurization (fused-UDF
parity is pinned separately in test_fused_features.py) with an
independent pair/verify/anti-join spine in plain python.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from deduplication_framework_spark.config import PipelineConfig
from deduplication_framework_spark.functions import kernels as K
from deduplication_framework_spark.functions.text import minhash_features
from deduplication_framework_spark.operators.incremental_fuzzy import (
    incremental_near_new_rows,
)
from deduplication_framework_spark.operators.lsh import (
    minhash_bands,
    release_census_caches,
)


def _oracle_new_ids(spark, new, old, cfg=None):
    """Driver-side bipartite LSH + exact-Jaccard reference (no bloom)."""
    cfg = cfg or PipelineConfig()
    b, r = K.optimal_band_param(cfg.dedup.threshold, cfg.dedup.num_perm)
    th = cfg.dedup.threshold

    def side(df):
        feats = minhash_features(
            df, cfg.embedding, cfg.dedup
        ).withColumnRenamed("doc_id", "_id")
        bands = {}
        shingles = {}
        for row in feats.collect():
            shingles[row["_id"]] = np.asarray(row["shingles"] or [])
        for row in minhash_bands(
            feats.select("_id", "sig"), b, r, id_col="_id"
        ).collect():
            bands.setdefault(row["band_key"], set()).add(row["_id"])
        return bands, shingles

    ob, osh = side(old)
    nb, nsh = side(new)
    dup = set()
    for key, nids in nb.items():
        for nid in nids:
            for oid in ob.get(key, ()):
                a, c = nsh[nid], osh[oid]
                if len(a) == 0 and len(c) == 0:
                    sim = 1.0
                elif len(a) == 0 or len(c) == 0:
                    sim = 0.0
                else:
                    inter = np.intersect1d(a, c, assume_unique=True).size
                    sim = inter / (len(a) + len(c) - inter)
                if sim >= th:
                    dup.add(nid)
    return sorted(
        r.doc_id for r in new.select("doc_id").collect() if r.doc_id not in dup
    )


BASE = (
    "the quick brown fox jumps over the lazy dog again and again with "
    "plenty of shared words in this long boilerplate sentence "
)


def _corpora(spark):
    old = spark.createDataFrame(
        [(i, BASE + f"history doc {i} unique tail content {i * 7}")
         for i in range(40)],
        ["doc_id", "text"],
    )
    rows = []
    for j in range(100, 130):
        if j % 3 == 0:  # near-copy of a history doc (one-token edit)
            rows.append(
                (j, BASE + f"history doc {j % 40} unique tail content "
                    f"{(j % 40) * 7} x")
            )
        elif j % 3 == 1:  # fresh content
            rows.append((j, f"totally fresh content number {j} " * 6))
        else:  # exact copy of a history doc
            rows.append(
                (j, BASE + f"history doc {j % 40} unique tail content "
                    f"{(j % 40) * 7}")
            )
    return old, spark.createDataFrame(rows, ["doc_id", "text"])


def test_matches_no_bloom_reference(spark):
    old, new = _corpora(spark)
    res, stats = incremental_near_new_rows(new, old)
    got = sorted(r.doc_id for r in res.collect())
    assert got == _oracle_new_ids(spark, new, old)
    # the corpus plants near + exact dups on j%3 in {0, 2}
    assert got == [j for j in range(100, 130) if j % 3 == 1]
    assert stats["n_definite_new"] + stats["n_candidate_docs"] == 30
    assert stats["n_dup_docs"] == 20
    assert stats["verify_path"] == "broadcast"
    release_census_caches()


@pytest.mark.parametrize("history_ids", ["overlapping", "md5"])
def test_batch_ids_never_borrow_history_features(spark, history_ids):
    """Batch ids that collide with history ids name different documents,
    and history ids may be of another type (the CLI keys history by
    md5(text) strings): each side of the verify join takes its own
    features, so the answer is the planted one either way."""
    old, new = _corpora(spark)
    new = new.withColumn("doc_id", F.col("doc_id") - 100)  # 0..29 ⊂ 0..39
    if history_ids == "md5":
        old = old.select(F.md5("text").alias("doc_id"), "text")
    res, stats = incremental_near_new_rows(new, old)
    got = sorted(r.doc_id for r in res.collect())
    assert got == _oracle_new_ids(spark, new, old)
    assert got == [j - 100 for j in range(100, 130) if j % 3 == 1]
    assert stats["n_dup_docs"] == 20
    release_census_caches()


def test_tiny_bloom_same_answer(spark):
    """fpp near 1: almost every band row becomes a candidate, yet the
    answer is unchanged — the filter routes rows, never decides them."""
    old, new = _corpora(spark)
    loose, s_loose = incremental_near_new_rows(new, old, fpp=0.9)
    tight, s_tight = incremental_near_new_rows(new, old, fpp=1e-6)
    assert sorted(r.doc_id for r in loose.collect()) == sorted(
        r.doc_id for r in tight.collect()
    )
    assert s_loose["n_hit_band_rows"] >= s_tight["n_hit_band_rows"]
    assert s_loose["m_bits"] < s_tight["m_bits"]
    release_census_caches()


def test_within_batch_dups_preserved_and_empty_history(spark):
    _, new = _corpora(spark)
    twin = new.union(new)  # every doc twice: within-batch dups
    empty_old = new.limit(0)
    res, stats = incremental_near_new_rows(twin, empty_old)
    assert res.count() == 60  # nothing removed: history is empty
    assert stats["verify_path"] == "none"
    assert stats["n_definite_new"] == 60
    release_census_caches()


def test_precomputed_features_and_bloom_reuse(spark):
    """Recrawl posture: history features + the bloom are computed once
    and reused across batches."""
    old, new = _corpora(spark)
    cfg = PipelineConfig()
    old_feats = (
        minhash_features(old, cfg.embedding, cfg.dedup)
        .persist()
    )
    res1, stats1 = incremental_near_new_rows(new, old, old_features=old_feats)
    res2, stats2 = incremental_near_new_rows(
        new, old, old_features=old_feats, bloom=stats1["bloom"]
    )
    base = sorted(r.doc_id for r in incremental_near_new_rows(new, old)[0].collect())
    assert sorted(r.doc_id for r in res1.collect()) == base
    assert sorted(r.doc_id for r in res2.collect()) == base
    assert stats2["bloom"] is stats1["bloom"]
    old_feats.unpersist()
    release_census_caches()


def test_precomputed_band_table_same_answer(spark):
    """Stored-index posture: with old_features AND old_bands AND bloom all
    precomputed (the parquet/Iceberg band-index shape), the per-batch plan
    never re-featurizes or re-explodes history — and the answer is
    identical to the cold run."""
    from deduplication_framework_spark.functions import kernels as K
    from deduplication_framework_spark.operators.lsh import minhash_bands

    old, new = _corpora(spark)
    cfg = PipelineConfig()
    b, r = K.optimal_band_param(cfg.dedup.threshold, cfg.dedup.num_perm)
    old_feats = (
        minhash_features(old, cfg.embedding, cfg.dedup)
        .persist()
    )
    band_table = (
        minhash_bands(
            old_feats.select(F.col("doc_id").alias("_id"), "sig"),
            b,
            r,
            id_col="_id",
        )
        .select(F.col("_id").alias("doc_id"), "band_key")
        .persist()
    )
    cold, s_cold = incremental_near_new_rows(new, old)
    warm, s_warm = incremental_near_new_rows(
        new,
        old,
        old_features=old_feats,
        old_bands=band_table,
        bloom=s_cold["bloom"],
    )
    assert sorted(r_.doc_id for r_ in warm.collect()) == sorted(
        r_.doc_id for r_ in cold.collect()
    )
    assert s_warm["n_dup_docs"] == s_cold["n_dup_docs"]
    assert s_warm["n_candidate_pairs"] == s_cold["n_candidate_pairs"]
    # history is never re-featurized or re-exploded on this path by
    # construction: minhash_features/minhash_bands are only reachable when the
    # corresponding argument is None (see operator source)
    old_feats.unpersist()
    band_table.unpersist()
    release_census_caches()


def test_hot_history_bucket_cap_accounted(spark):
    """old_bucket_cap: a hot history band bucket (many identical docs) is
    capped with observable accounting; the kept representative still
    catches the dup, so the answer survives the cap here."""
    old = spark.createDataFrame(
        [(i, BASE + "identical boilerplate page") for i in range(30)]
        + [(100, BASE + "some other history page entirely")],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [(200, BASE + "identical boilerplate page"),
         (201, "fresh new content " * 10)],
        ["doc_id", "text"],
    )
    res, stats = incremental_near_new_rows(new, old, old_bucket_cap=3)
    assert stats["n_capped_band_keys"] > 0
    assert stats["max_old_bucket"] == 30
    assert sorted(r.doc_id for r in res.collect()) == [201]
    # uncapped run agrees
    res2, stats2 = incremental_near_new_rows(new, old)
    assert stats2["n_capped_band_keys"] == 0
    assert sorted(r.doc_id for r in res2.collect()) == [201]
    release_census_caches()


def test_shuffle_verify_path_same_answer(spark):
    old, new = _corpora(spark)
    res, stats = incremental_near_new_rows(
        new, old, hit_broadcast_threshold=0
    )
    assert stats["verify_path"] == "shuffle"
    assert sorted(r.doc_id for r in res.collect()) == [
        j for j in range(100, 130) if j % 3 == 1
    ]
    release_census_caches()


def test_fuzzy_index_roundtrip_zero_history_featurization(spark, tmp_path):
    """Stored-index contract (VERDICT r4 #5): save_fuzzy_index commits the
    feature/band/bloom artifacts through a ParquetTableStore; a LOADED
    index must reproduce the fresh-path answer while touching old_df not
    at all — proven by handing the operator a POISONED history frame
    whose text column raises on any evaluation."""
    from deduplication_framework_spark.operators.incremental_fuzzy import (
        load_fuzzy_index,
        save_fuzzy_index,
    )
    from deduplication_framework_spark.plans.checkpoint import (
        ParquetTableStore,
    )

    old, new = _corpora(spark)
    store = ParquetTableStore(spark, str(tmp_path / "fidx"))
    info = save_fuzzy_index(store, old, id_col="doc_id")
    assert info["n_old"] == 40

    idx = load_fuzzy_index(store)
    assert idx is not None and idx["n_old"] == 40

    poison = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.assert_true(F.lit(False)).cast("string").alias("text"),
    )
    res, stats = incremental_near_new_rows(
        new,
        poison,
        old_features=idx["old_features"],
        old_bands=idx["old_bands"],
        bloom=idx["bloom"],
    )
    got = sorted(r.doc_id for r in res.collect())
    assert got == [j for j in range(100, 130) if j % 3 == 1]
    assert stats["n_dup_docs"] == 20
    release_census_caches()

    # a config change invalidates the committed index (stale-resume fix
    # discipline): load must refuse, never serve wrong-config artifacts
    changed = PipelineConfig()
    changed.dedup.threshold = 0.9
    assert load_fuzzy_index(store, changed) is None


def test_cli_fuzzy_index_restart_resume(spark, tmp_path):
    """Two separate CLI invocations sharing --fuzzy-index: the first
    builds + commits (resumed=0), the second — a fresh main() as after a
    process restart — loads it (resumed=1) and reaches the identical
    answer."""
    import json
    import os

    from deduplication_framework_spark.__main__ import main
    from deduplication_framework_spark.sources.pages import generate_pages

    hist = str(tmp_path / "hist_idx")
    generate_pages(spark, 120).filter(
        F.col("doc_order") < 60
    ).select("text").write.parquet(hist)

    def run(tag):
        out = str(tmp_path / f"out_idx_{tag}")
        rc = main(
            [
                "--synthetic", "120",
                "--output", out,
                "--detectors", "exact,minhash",
                "--checkpoint-dir", str(tmp_path / f"ckpt_idx_{tag}"),
                "--dedup-against", hist,
                "--dedup-against-fuzzy",
                "--fuzzy-index", str(tmp_path / "fuzzy_idx"),
            ]
        )
        assert rc == 0
        with open(os.path.join(out, "summary.json")) as fh:
            return json.load(fh)

    s1 = run("a")
    assert s1["metrics"]["fuzzy_index.resumed"] == 0.0
    s2 = run("b")
    assert s2["metrics"]["fuzzy_index.resumed"] == 1.0
    assert s2["docs"] == s1["docs"]
    assert s2["keepers"] == s1["keepers"]


def test_append_fuzzy_index_union_semantics(spark, tmp_path):
    """append_fuzzy_index == history-union semantics: after admitting a
    batch, a later batch dedups against old ∪ admitted via the LOADED
    index (poisoned old_df again — zero history featurization), the
    merged Bloom is BIT-EXACT with a fresh build over the union's band
    keys at the stored geometry, and re-admitting is a no-op."""
    from deduplication_framework_spark.operators.bloom import bloom_build
    from deduplication_framework_spark.operators.incremental_fuzzy import (
        append_fuzzy_index,
        load_fuzzy_index,
        save_fuzzy_index,
    )
    from deduplication_framework_spark.operators.lsh import minhash_bands
    from deduplication_framework_spark.plans.checkpoint import (
        ParquetTableStore,
    )

    old, new = _corpora(spark)
    store = ParquetTableStore(spark, str(tmp_path / "fidx_app"))
    save_fuzzy_index(store, old, id_col="doc_id")

    batch1 = spark.createDataFrame(
        [(200 + i, f"admitted batch one doc {i} " * 5) for i in range(6)],
        ["doc_id", "text"],
    )
    info = append_fuzzy_index(store, batch1, id_col="doc_id")
    assert info["n_added"] == 6
    assert info["n_total"] == 46

    idx = load_fuzzy_index(store)
    assert idx is not None and idx["n_old"] == 46

    # merged bloom == fresh build over ALL band keys at the SAME (m, k)
    cfg = PipelineConfig()
    b, r = K.optimal_band_param(cfg.dedup.threshold, cfg.dedup.num_perm)
    all_bands = minhash_bands(
        idx["old_features"].select(F.col("doc_id").alias("_id"), "sig"),
        b, r, id_col="_id",
    )
    fresh = bloom_build(
        all_bands, F.col("band_key"),
        m_bits=idx["bloom"].m_bits, k=idx["bloom"].k,
    )
    assert (fresh.words == idx["bloom"].words).all()

    # a near-copy of an ADMITTED doc is now caught through the index
    batch2 = spark.createDataFrame(
        [(300, "admitted batch one doc 3 " * 5 + "x"),
         (301, "entirely novel content here " * 5)],
        ["doc_id", "text"],
    )
    poison = spark.range(1).select(
        F.col("id").alias("doc_id"),
        F.assert_true(F.lit(False)).cast("string").alias("text"),
    )
    res, stats = incremental_near_new_rows(
        batch2, poison,
        old_features=idx["old_features"],
        old_bands=idx["old_bands"],
        bloom=idx["bloom"],
    )
    assert sorted(r.doc_id for r in res.collect()) == [301]
    release_census_caches()

    # replay: the same batch admits zero new docs (md5-id anti-join)
    info2 = append_fuzzy_index(store, batch1, id_col="doc_id")
    assert info2["n_added"] == 0
    release_census_caches()


def test_append_fuzzy_index_requires_saved_index(spark, tmp_path):
    from deduplication_framework_spark.operators.incremental_fuzzy import (
        append_fuzzy_index,
    )
    from deduplication_framework_spark.plans.checkpoint import (
        ParquetTableStore,
    )

    store = ParquetTableStore(spark, str(tmp_path / "fidx_none"))
    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="save_fuzzy_index"):
        append_fuzzy_index(store, df)


def test_cli_fuzzy_index_admit_daily_loop(spark, tmp_path):
    """The full daily loop over the CLI: run 1 admits its keepers; run 2
    sees a batch whose docs near-copy run-1 keepers and drops them via
    the loaded+appended index."""
    import json
    import os

    from deduplication_framework_spark.__main__ import main
    from deduplication_framework_spark.sources.pages import generate_pages

    hist = str(tmp_path / "hist_admit")
    corpus = generate_pages(spark, 80)
    corpus.filter(F.col("doc_order") < 20).select("text").write.parquet(hist)
    idx_dir = str(tmp_path / "fuzzy_idx_admit")

    def run(tag, n):
        out = str(tmp_path / f"out_admit_{tag}")
        rc = main(
            [
                "--synthetic", str(n),
                "--output", out,
                "--detectors", "exact,minhash",
                "--checkpoint-dir", str(tmp_path / f"ckpt_admit_{tag}"),
                "--dedup-against", hist,
                "--dedup-against-fuzzy",
                "--fuzzy-index", idx_dir,
                "--fuzzy-index-admit",
            ]
        )
        assert rc == 0
        with open(os.path.join(out, "summary.json")) as fh:
            return json.load(fh)

    s1 = run("a", 60)
    assert s1["metrics"]["fuzzy_index.resumed"] == 0.0
    assert s1["metrics"]["fuzzy_index.n_admitted"] == s1["keepers"]

    # run 2: the SAME synthetic batch (generate_pages is deterministic)
    # — every run-1 KEEPER is now an exact recrawl of an ADMITTED doc
    # and must be dropped by the index path (the exact Bloom layer only
    # knows the 20-doc parquet history, so the catch is the index's)
    s2 = run("b", 60)
    assert s2["metrics"]["fuzzy_index.resumed"] == 1.0
    assert s2["metrics"]["incremental_fuzzy.n_dup_docs"] >= s1["keepers"]
    assert s2["metrics"]["fuzzy_index.n_total"] >= s1["metrics"]["fuzzy_index.n_total"]


def test_index_src_ident_invalidates_on_corpus_change(spark, tmp_path):
    """A changed/replaced source corpus must invalidate the index (review
    finding: nothing tied the index to the history it was built from)."""
    from deduplication_framework_spark.operators.incremental_fuzzy import (
        load_fuzzy_index,
        save_fuzzy_index,
    )
    from deduplication_framework_spark.plans.checkpoint import (
        ParquetTableStore,
    )

    old, _ = _corpora(spark)
    store = ParquetTableStore(spark, str(tmp_path / "fidx_src"))
    save_fuzzy_index(store, old, id_col="doc_id", src_ident="40:123")
    assert load_fuzzy_index(store, src_ident="40:123") is not None
    assert load_fuzzy_index(store, src_ident="41:999") is None
    # and the un-stamped form does not match a stamped index either
    assert load_fuzzy_index(store) is None


def test_cli_rebuild_preserves_admitted_docs(spark, tmp_path):
    """Review finding: an index rebuild (here forced by GROWING the
    history corpus, which changes src_ident) must re-featurize history
    UNION the admitted texts — run-1 keepers stay caught after the
    rebuild instead of silently falling out of the index."""
    import json
    import os

    from deduplication_framework_spark.__main__ import main
    from deduplication_framework_spark.sources.pages import generate_pages

    hist = str(tmp_path / "hist_grow")
    corpus = generate_pages(spark, 60)
    corpus.filter(F.col("doc_order") < 10).select("text").write.parquet(hist)
    idx_dir = str(tmp_path / "fuzzy_idx_grow")

    def run(tag):
        out = str(tmp_path / f"out_grow_{tag}")
        rc = main(
            [
                "--synthetic", "60",
                "--output", out,
                "--detectors", "exact,minhash",
                "--checkpoint-dir", str(tmp_path / f"ckpt_grow_{tag}"),
                "--dedup-against", hist,
                "--dedup-against-fuzzy",
                "--fuzzy-index", idx_dir,
                "--fuzzy-index-admit",
            ]
        )
        assert rc == 0
        with open(os.path.join(out, "summary.json")) as fh:
            return json.load(fh)

    s1 = run("a")
    assert s1["metrics"]["fuzzy_index.resumed"] == 0.0
    n_admitted = s1["metrics"]["fuzzy_index.n_admitted"]
    assert n_admitted == s1["keepers"] > 0

    # grow the history corpus -> src_ident changes -> forced rebuild
    spark.createDataFrame(
        [("a brand new history document appended later " * 4,)], ["text"]
    ).write.mode("append").parquet(hist)

    s2 = run("b")
    assert s2["metrics"]["fuzzy_index.resumed"] == 0.0  # rebuild happened
    # every run-1 keeper is an exact recrawl of an ADMITTED doc; the
    # rebuilt index must still catch all of them
    assert s2["metrics"]["incremental_fuzzy.n_dup_docs"] >= n_admitted


def test_jvm_hash_family_same_answer(spark):
    """hash_family="jvm" routes minhash_features to the Python-worker-free
    jvm_minhash_features (the review-pass finding: the first cut raised
    ValueError mid-run from the fused-UDF factory). Same no-bloom
    reference contract, same planted answer."""
    cfg = PipelineConfig()
    cfg.dedup.hash_family = "jvm"
    old, new = _corpora(spark)
    res, stats = incremental_near_new_rows(new, old, cfg)
    got = sorted(r.doc_id for r in res.collect())
    assert got == _oracle_new_ids(spark, new, old, cfg)
    assert got == [j for j in range(100, 130) if j % 3 == 1]
    assert stats["n_dup_docs"] == 20
    release_census_caches()
