"""End-to-end golden tests (SURVEY.md §5.2 items 1/3): pipeline cluster
assignments vs the sequential reference-semantics oracle on the planted
600-doc corpus. The contract (BASELINE.json): dup-pair recall >= 0.99 vs
reference clusters at identical shingle/band/row/bit-width configs.
"""

from pyspark.sql import functions as F

from deduplication_framework_spark.config import PipelineConfig
from deduplication_framework_spark.functions import kernels as K
from deduplication_framework_spark.oracle import numpy_oracle as O
from deduplication_framework_spark.plans.pipeline import run_pipeline
from deduplication_framework_spark.sources.pages import (
    extract_text_col,
    make_extract_text_udf,
)


def _cluster_pairs(clusters_df):
    rows = clusters_df.collect()
    labels = {r.doc_id: r.cluster_id for r in rows}
    return O.clusters_to_pairs(labels), labels


class TestExtraction:
    def test_udf_byte_identical(self, spark, pages):
        """input_hint invariant: html→text extraction byte-identical per url."""
        udf = make_extract_text_udf()
        bad = pages.withColumn("ex", udf("html")).filter(
            F.col("ex") != F.col("text")
        )
        assert bad.count() == 0

    def test_sql_extraction_byte_identical(self, spark, pages):
        bad = pages.withColumn("ex", extract_text_col(F.col("html"))).filter(
            F.col("ex") != F.col("text")
        )
        assert bad.count() == 0


class TestExactParity:
    def test_exact_clusters_match_md5_oracle(self, spark, pages, texts):
        txts, _ = texts
        res = run_pipeline(spark, pages, PipelineConfig(), detectors=["exact"])
        _, got_labels = _cluster_pairs(res.clusters)
        expect = O.md5_exact(txts)  # raw texts: identical bytes ⇔ same md5
        assert got_labels == expect


class TestMinHashParity:
    """Our band-collision graph must contain every duplicate the reference's
    sequential ours_lsh finds (same signatures, same (b,r)), so with
    verify=False dup-pair recall vs the oracle is 1.0 by construction —
    asserted >= 0.99 per the contract."""

    def test_recall_vs_sequential_lsh_oracle(self, spark, pages, texts):
        txts, _ = texts
        cfg = PipelineConfig()
        res = run_pipeline(
            spark, pages, cfg, detectors=["exact", "minhash"], verify=False
        )
        our_pairs, _ = _cluster_pairs(res.clusters)

        oracle_labels = O.minhash_lsh_sequential(
            txts,
            ngram_size=cfg.embedding.ngram_size,
            num_perm=cfg.dedup.num_perm,
            threshold=cfg.dedup.threshold,
            max_words=cfg.dedup.max_words,
            max_char_grams=cfg.dedup.max_char_grams,
            include_words=True,
        )
        ref_pairs = O.clusters_to_pairs(oracle_labels)
        recall = O.dup_pair_recall(ref_pairs, our_pairs)
        assert len(ref_pairs) > 50, "fixture must plant enough duplicates"
        assert recall >= 0.99, f"recall {recall:.4f} vs sequential LSH oracle"

    def test_verified_recall_vs_greedy_jaccard_oracle(self, spark, pages, texts):
        """verify=True drops band-collision false positives; against the
        *exact* greedy all-pairs Jaccard oracle restricted to pairs the
        S-curve catches reliably (J >= 0.9 → P(collide) > 0.99), recall must
        still be >= 0.99."""
        txts, _ = texts
        cfg = PipelineConfig()
        res = run_pipeline(
            spark, pages, cfg, detectors=["exact", "minhash"], verify=True
        )
        our_pairs, _ = _cluster_pairs(res.clusters)

        feats = O.shingle_sets(txts, n=cfg.embedding.ngram_size)
        strong_ref_pairs = set()
        # exact oracle: any pair with multi-granularity J >= 0.9
        for i in range(len(txts)):
            for j in range(i + 1, len(txts)):
                a, b = feats[i], feats[j]
                u = a | b
                sim = 1.0 if (not a and not b) else (len(a & b) / len(u) if u else 0)
                if sim >= 0.90:
                    strong_ref_pairs.add((i, j))
        recall = O.dup_pair_recall(strong_ref_pairs, our_pairs)
        assert len(strong_ref_pairs) > 30
        assert recall >= 0.99, f"recall {recall:.4f} vs J>=0.9 exact oracle"


class TestSimHashParity:
    def test_recall_vs_windowed_oracle(self, spark, pages, texts):
        txts, _ = texts
        cfg = PipelineConfig()
        res = run_pipeline(spark, pages, cfg, detectors=["simhash"])
        our_pairs, _ = _cluster_pairs(res.clusters)

        norm = O.normalize_all(txts)
        oracle_labels = O.simhash_windowed(
            norm, dist=cfg.dedup.simhash_dist, window=cfg.dedup.simhash_window
        )
        ref_pairs = O.clusters_to_pairs(oracle_labels)
        recall = O.dup_pair_recall(ref_pairs, our_pairs)
        assert len(ref_pairs) > 30
        assert recall >= 0.99, f"recall {recall:.4f} vs windowed simhash oracle"


class TestSubstringDetector:
    def test_planted_substring_pairs_found(self, spark, pages):
        """Every planted (host, embedder) pair shares a >=200-char span →
        must end up in the same cluster (winnowing guarantee)."""
        cfg = PipelineConfig()
        res = run_pipeline(spark, pages, cfg, detectors=["substring"])
        our_pairs, _ = _cluster_pairs(res.clusters)

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
        missing = expected - our_pairs
        assert not missing, f"missed planted substring pairs: {sorted(missing)[:5]}"


class TestGreedyEquivalence:
    def test_cc_pairs_superset_of_greedy(self, texts):
        """Pure-oracle property: CC over the full J>=θ edge graph recovers
        every greedy (keeper, dup) relation — the documented semantic change
        (SURVEY.md W5) loses no duplicate pairs."""
        txts, _ = texts
        feats = O.shingle_sets(txts[:200], n=3)
        greedy = O.greedy_jaccard(feats, threshold=0.8)
        greedy_pairs = O.clusters_to_pairs(greedy)

        edges = []
        for i in range(len(feats)):
            for j in range(i + 1, len(feats)):
                a, b = feats[i], feats[j]
                u = a | b
                sim = 1.0 if (not a and not b) else (len(a & b) / len(u) if u else 0)
                if sim >= 0.8:
                    edges.append((i, j))
        cc = O.pairs_to_labels(len(feats), edges)
        cc_pairs = O.clusters_to_pairs(cc)
        assert O.dup_pair_recall(greedy_pairs, cc_pairs) == 1.0


class TestAlternateConfigParity:
    """The recall contract holds at non-default shingle/band configs too
    (BASELINE.json: 'at identical shingle/band/row/bit-width configs')."""

    def test_recall_theta09_perm64(self, spark, pages, texts):
        txts, _ = texts
        cfg = PipelineConfig()
        cfg.dedup.threshold = 0.9
        cfg.dedup.num_perm = 64
        cfg.embedding.ngram_size = 4
        res = run_pipeline(
            spark, pages, cfg, detectors=["exact", "minhash"], verify=False
        )
        our_pairs, _ = _cluster_pairs(res.clusters)
        b, r = K.optimal_band_param(0.9, 64)
        oracle = O.minhash_lsh_sequential(
            txts, ngram_size=4, num_perm=64, threshold=0.9, b=b, r=r
        )
        ref_pairs = O.clusters_to_pairs(oracle)
        assert len(ref_pairs) > 20
        recall = O.dup_pair_recall(ref_pairs, our_pairs)
        assert recall >= 0.99, f"recall {recall:.4f} at theta=0.9/perm=64/n=4"


def _assert_family_recall_contract(spark, pages, texts, family,
                                   mutual_back=0.95):
    """Shared contract for every alternative hash family: pairs at
    J >= 0.95 in the pipeline's OWN capped banded feature space must be
    recalled >= 0.99 (true for ANY uniform family at the default (9,13)
    banding), and mutual recall vs the sha1 family's clusters — which can
    differ only through banding randomness near the 0.8 threshold — must
    stay >= 0.95 sha1→family and >= ``mutual_back`` family→sha1 (every
    pair on either side is exact-Jaccard VERIFIED, so a deficit in the
    back direction means sha1's banding missed true duplicates the other
    family caught — a property of sha1's S-curve, not a family defect)."""
    txts, _ = texts
    base = PipelineConfig()
    fast = PipelineConfig()
    fast.dedup.hash_family = family
    res_a = run_pipeline(spark, pages, base, detectors=["exact", "minhash"])
    res_b = run_pipeline(spark, pages, fast, detectors=["exact", "minhash"])
    pairs_a, _ = _cluster_pairs(res_a.clusters)
    pairs_b, _ = _cluster_pairs(res_b.clusters)

    norm = O.normalize_all(txts)
    capped = [
        set(K.lsh_word_tokens(t, base.dedup.max_words))
        | set(K.lsh_char_grams(t, base.embedding.ngram_size,
                               base.dedup.max_char_grams))
        for t in norm
    ]
    strong = set()
    for i in range(len(capped)):
        for j in range(i + 1, len(capped)):
            u = capped[i] | capped[j]
            if u and len(capped[i] & capped[j]) / len(u) >= 0.95:
                strong.add((i, j))
    assert len(strong) > 30
    assert O.dup_pair_recall(strong, pairs_b) >= 0.99
    assert len(pairs_a) > 50
    assert O.dup_pair_recall(pairs_a, pairs_b) >= 0.95
    assert O.dup_pair_recall(pairs_b, pairs_a) >= mutual_back


class TestFastHashFamily:
    def test_kr32_recall_vs_strong_oracle_and_sha1(self, spark, pages, texts):
        """hash_family="kr32" hashes the same (capped) feature space with a
        vectorized kernel. The guaranteed bound: pairs at J >= 0.95 IN THE
        PIPELINE'S OWN banded feature space (first-200 word tokens ∪
        first-200 char grams of the normalized text) collide with
        P ~ 0.998 at the default (b=9, r=13) banding, for ANY hash family —
        recall over those must be >= 0.99. (Uncapped-shingle oracles rate
        long docs higher than the capped banded space actually sees; pairs
        at capped-J ~ 0.91 collide with only ~0.93 probability and belong
        to the S-curve, not the family.) Against the sha1 family's
        clusters, only banding randomness near the 0.8 threshold differs —
        mutual recall must stay >= 0.95."""
        _assert_family_recall_contract(spark, pages, texts, "kr32")

    def test_kr32_feature_sets_distinct(self):
        """The fast hashes must keep distinct features distinct (no
        surprise collapse) and reuse the same cap/ordering semantics."""
        import numpy as np

        from deduplication_framework_spark.functions import kernels as K

        norm = "the quick brown fox jumps over the lazy dog " * 30
        hv = K.fast_feature_hashes32(norm, 3, 200, 200)
        # kr32 domain-separates word tokens from char grams (crc32 vs KR):
        # a string that is both a word and a gram counts once per domain,
        # where the sha1 path merges them — a deliberate, Jaccard-neutral
        # difference (the double-count lands symmetrically in intersection
        # and union). Distinctness within the union must be exact.
        words = set(K.lsh_word_tokens(norm, 200))
        grams = set(K.lsh_char_grams(norm, 3, 200))
        assert len(np.unique(hv)) == len(words) + len(grams)
        # values live in the 32-bit datasketch feature domain
        assert hv.max() < (1 << 32)

    def test_jvm_recall_vs_strong_oracle_and_sha1(self, spark, pages, texts):
        """hash_family="jvm" (functions/jvm_minhash.jvm_minhash_features)
        builds the SAME capped feature space as the Arrow path but with
        md5-low32/affine-mod-2^31-1 signatures entirely in JVM
        expressions. Same contract as kr32 above: capped-space J >= 0.95
        pairs must be recalled >= 0.99, and mutual recall vs the sha1
        family's clusters (banding randomness only) >= 0.95. This is the
        empirical pin the jvm_minhash_features docstring promises."""
        _assert_family_recall_contract(spark, pages, texts, "jvm")

    def test_oph_recall_vs_strong_oracle_and_sha1(self, spark, pages, texts):
        """hash_family="oph" (functions/oph.py: One-Permutation Hashing,
        rotation-densified) hashes the same capped feature space (kr32
        hashes) but builds the signature in ONE pass — O(F + K) per doc.
        Lane agreement is ≈ unbiased for J (dense regime; mild sparse-doc
        bias is bounded by the post-banding exact-Jaccard verification),
        so the same contract holds: capped-space J >= 0.95 recall >= 0.99
        + sha1→oph recall >= 0.95. The BACK direction is looser (0.90):
        densified lanes are copies of other bins' minima, so two docs
        sharing a source bin agree on its borrowed lanes too — bands are
        less independent and moderate-J pairs collide MORE than the iid
        S-curve predicts. With verification on, those extras are genuine
        J >= 0.8 duplicates sha1's banding missed (measured: oph finds
        ~7% more verified pairs on this corpus), which depresses
        oph→sha1 recall through no fault of oph's."""
        _assert_family_recall_contract(
            spark, pages, texts, "oph", mutual_back=0.90
        )

    def test_jvm_minhash_only_pipeline_never_builds_arrow_udf(
        self, spark, pages, monkeypatch
    ):
        """hash_family="jvm" + minhash-only detectors must route around
        the fused Arrow featurization entirely (the whole point: zero
        Python workers). Poison the UDF factory — the pipeline must not
        touch it."""
        import deduplication_framework_spark.plans.pipeline as P

        def _boom(*a, **k):
            raise AssertionError("fused Arrow UDF built on the jvm path")

        monkeypatch.setattr(P, "make_fused_features_udf", _boom)
        cfg = PipelineConfig()
        cfg.dedup.hash_family = "jvm"
        res = run_pipeline(spark, pages, cfg, detectors=["exact", "minhash"])
        assert res.clusters.count() > 0

    def test_jvm_with_simhash_still_runs_arrow_for_simhash(self, spark, pages):
        """Mixed detectors under hash_family="jvm": the Arrow pass still
        runs (simhash needs it) while minhash featurization routes to the
        jvm path. Pins: (a) both detector branches report stats; (b) the
        jvm minhash branch sees the same banding as a minhash-only run
        (bucket census equal); (c) the combined clustering only COARSENS
        the minhash-only one (its edge set is a superset, so CC can merge
        clusters but never split them)."""
        from collections import defaultdict

        cfg = PipelineConfig()
        cfg.dedup.hash_family = "jvm"
        both = run_pipeline(
            spark, pages, cfg, detectors=["exact", "minhash", "simhash"]
        )
        mh = run_pipeline(spark, pages, cfg, detectors=["exact", "minhash"])
        assert both.metrics["minhash.n_buckets"] == mh.metrics["minhash.n_buckets"]
        assert any(k.startswith("simhash.") for k in both.metrics), both.metrics
        lb = {r.doc_id: r.cluster_id for r in both.clusters.collect()}
        lm = {r.doc_id: r.cluster_id for r in mh.clusters.collect()}
        groups = defaultdict(list)
        for d, c in lm.items():
            groups[c].append(d)
        for ds in groups.values():
            assert len({lb[d] for d in ds}) == 1, ds
