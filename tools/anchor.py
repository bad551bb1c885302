"""Scale anchors: one measured run of one operator workload per process,
appended as a JSON line to a runs file (the N/4N protocol of
BENCH/BASELINE.md runs the 2- and 8-core legs as separate, interleaved
processes so one host-supply dip cannot sink a whole sweep).

Usage: python tools/anchor.py <spec> <cores> <n> [runs_file] [key=value ...]

A spec is one workload: a synthetic corpus with planted truth, the timed
phases over it, and hard asserts on the planted counts, so a regression
fails the anchor instead of drifting a number. The harness does the rest
once for every spec:

* BLAS pinned to one thread, so a local[2] leg is honestly two cores;
* a local[<cores>] session writing an event log, and the host's CPU
  supply (``bench._effective_cores``) measured before it starts;
* the corpus materialized outside every timed window;
* each timed phase a ``dedup_bench.probes.Tracer`` span, whose Spark
  task metrics come from the benchmark's own event-log reader;
* one record: the spec's planted counts, then ``sec``, ``busy_core_sec``
  (executor CPU), ``task_run_sec`` and ``n_tasks`` summed over the spec's
  headline phases, ``host_supply_cores``, and ``phases`` (per phase: wall,
  process-tree CPU, executor CPU/run, shuffle, spill, tasks, jobs).

``n`` is the corpus size (vectors for pq/srp, vertices for cc). Secondary
sizes keep the ratios of the recorded runs: bloom and fuzzy batches are
n // 4 against an n-doc history, the decontam eval set n // 10 against n
train docs.
"""

import glob
import json
import os
import shutil
import sys
import tempfile
import time
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

REPS = 2  # interleaved timed rounds of the A/B specs
SPECS = {}


def spec(name, headline=None, partitions=lambda cores: max(cores * 2, 16),
         **keys):
    """Register a spec. ``headline`` names the phases the record's
    top-level timing sums (default: all); ``partitions`` gives the shuffle
    partitions for a core count; ``keys`` are the spec's ``key=value``
    parameters with their defaults."""
    def reg(fn):
        SPECS[name] = {"run": fn, "headline": headline,
                       "partitions": partitions, "keys": keys}
        return fn
    return reg


class Run:
    """What a spec sees: the session, its size and parameters, and the
    timed-phase and corpus helpers."""

    def __init__(self, spark, tracer, cores, n, params, tmp):
        self.spark, self.tracer, self.tmp = spark, tracer, tmp
        self.cores, self.n, self.p = cores, n, params

    def phase(self, name):
        """A timed phase; ``None`` (a warm-up) times nothing."""
        return nullcontext() if name is None else self.tracer.span(name)

    def wall(self, name):
        return sum(s["t1"] - s["t0"] for s in self.tracer.spans
                   if s["layer"] == name)

    def materialize(self, df):
        df = df.persist()
        df.count()
        return df

    def parquet(self, name, df):
        """Write ``df`` once and read it back: the scan then reads files,
        not the (md5-heavy) generator."""
        path = os.path.join(self.tmp, name)
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)


def _interleave(run, corpus, warm_n, names, leg):
    """Untimed warm-up of every leg on a ``warm_n``-doc corpus (JIT and
    Arrow first use would otherwise land on the first leg only), then REPS
    rounds of the legs in turn, each timed as phase ``<name>.<rep>``.
    Each leg starts from a cleared cache: the pipelines' persists match by
    canonical plan, so a second leg would otherwise read the first one's
    cached results."""
    docs = run.materialize(corpus(run.n, run.cores * 2))
    warm = run.materialize(corpus(warm_n, run.cores))
    for name in names:
        leg(warm, name, warm_n, None)
    warm.unpersist()
    legs = []
    for rep in range(REPS):
        for name in names:
            run.spark.catalog.clearCache()
            run.materialize(docs)
            phase = f"{name}.{rep}"
            legs.append({"phase": phase, **leg(docs, name, run.n, phase)})
    return legs


def _best(run, legs, names):
    """Per leg name, the fastest timed leg, and its wall as ``<name>_min_sec``."""
    best = {a: min((l for l in legs if l["phase"].startswith(a + ".")),
                   key=lambda l: run.wall(l["phase"])) for a in names}
    return best, {f"{a}_min_sec": round(run.wall(best[a]["phase"]), 2)
                  for a in names}


def _planted_same_cluster(labels):
    """(pairs, same-cluster pairs) over the planted i%50==1 near-copies."""
    from pyspark.sql import functions as F

    return (
        labels.alias("a")
        .join(
            labels.alias("b"),
            (F.col("b.doc_id") == F.col("a.doc_id") + 1)
            & (F.col("b.doc_id") % 50 == 1),
        )
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(
                (F.col("a.cluster_id") == F.col("b.cluster_id")).cast("int")
            ).alias("n_same"),
        )
        .collect()[0]
    )


# ---------------------------------------------------------------- corpora


def _near_dup_docs(spark, n: int, partitions: int):
    """JVM-only corpus (pseudo-words from md5 of (id, position), no Python
    in the lineage): n docs of 60 six-char hex words. Every id with
    i % 50 == 1 is a NEAR-copy of i-1 with its last 3 words re-drawn from a
    salted domain. In the pipeline's capped feature space (60 word tokens
    plus the first 200 char-3-grams of the space-stripped text; the
    perturbed tail sits past gram #200) the planted pair's Jaccard is
    (57+200)/(63+200) ~ 0.977, far above 0.8; unrelated docs share ~10 of
    4096 hex trigrams (J ~ 0.02). Columns follow prepare_docs' explicit-
    order contract (doc_order, url, text, lang)."""
    from pyspark.sql import functions as F

    n_words, keep = 60, 57
    word = (
        "CASE WHEN is_copy AND i > {keep} "
        "THEN substring(md5(concat(cast(id AS string), ':x:', i)), 1, 6) "
        "ELSE substring(md5(concat(cast(src_id AS string), ':', i)), 1, 6) END"
    ).format(keep=keep)
    text = F.expr(
        f"concat_ws(' ', transform(sequence(1, {n_words}), i -> {word}))"
    )
    return (
        spark.range(n, numPartitions=partitions)
        .withColumn("is_copy", F.col("id") % 50 == 1)
        .withColumn(
            "src_id",
            F.when(F.col("is_copy"), F.col("id") - 1).otherwise(F.col("id")),
        )
        .select(
            F.col("id").alias("doc_order"),
            F.concat(F.lit("https://anchor.example/"), F.col("id")).alias("url"),
            text.alias("text"),
            F.lit("en").alias("lang"),
        )
    )


def _md5_text(idcol):
    """Deterministic ~200-char text as a pure JVM expression of an id."""
    from pyspark.sql import functions as F

    c = idcol.cast("string")
    return F.concat_ws(
        " ",
        F.lit("doc"),
        F.md5(c),
        F.md5(F.concat(c, F.lit("-a"))),
        F.md5(F.concat(c, F.lit("-b"))),
        F.md5(F.concat(c, F.lit("-c"))),
        F.md5(F.concat(c, F.lit("-d"))),
    )


def _recrawl(run, near=False):
    """(history, batch): an n-doc md5-soup history and an n // 4 batch,
    both written to parquet. Batch doc j % 3 == 0 re-crawls history doc
    (j*7 % n) byte-identically, j % 3 == 1 (with ``near``) re-crawls it
    with one appended token, and the rest is fresh content."""
    from pyspark.sql import functions as F

    n_old, n_new, parts = run.n, run.n // 4, run.cores * 2
    old = run.parquet("old", run.spark.range(n_old, numPartitions=parts).select(
        F.col("id").alias("doc_id"), _md5_text(F.col("id")).alias("text")))
    j = F.col("id")
    hist = _md5_text((j * 7) % n_old)
    text = F.when(j % 3 == 0, hist)
    if near:
        text = text.when(j % 3 == 1, F.concat(hist, F.lit(" editedtail")))
    new = run.parquet("new", run.spark.range(n_new, numPartitions=parts).select(
        (j + 10_000_000_000).alias("doc_id"),
        text.otherwise(_md5_text(j + 20_000_000_000)).alias("text"),
    ))
    return old, new


# ------------------------------------------------------------------ specs


@spec("once", partitions=lambda cores: cores, kr32=False,
      detectors="exact,minhash")
def once(run):
    """run_pipeline on bench's page corpus; ``kr32=1`` switches the
    feature hashes to the vectorized Karp-Rabin/crc32 kernel (the
    corpus-size headroom anchors of BENCH/BASELINE.md)."""
    import bench
    from deduplication_framework_spark.config import PipelineConfig
    from deduplication_framework_spark.plans.pipeline import run_pipeline

    pages = bench.materialized_pages(run.spark, run.n, run.cores * 2)
    cfg = PipelineConfig()
    if run.p["kr32"]:
        cfg.dedup.hash_family = "kr32"
    detectors = run.p["detectors"].split(",")
    with run.phase("pipeline"):
        res = run_pipeline(run.spark, pages, cfg, detectors=detectors,
                           collect_stats=False)
        nk = res.keepers.count()
    return {"hash_family": cfg.dedup.hash_family, "detectors": detectors,
            "keepers": nk}


@spec("jvm_pipeline")
def jvm_pipeline(run):
    """The Python-worker-free MinHash path (``hash_family="jvm"``) through
    run_pipeline itself (featurize, band, census, verify, CC, keepers) on
    ``_near_dup_docs``. Asserts recall >= 0.99 over the planted near-copies
    and >= 99% of the expected cluster count (a family that merged
    everything would ace recall)."""
    from deduplication_framework_spark.config import PipelineConfig
    from deduplication_framework_spark.plans.pipeline import run_pipeline

    n = run.n
    pages = run.materialize(_near_dup_docs(run.spark, n, run.cores * 2))
    cfg = PipelineConfig()
    cfg.dedup.hash_family = "jvm"
    with run.phase("pipeline"):
        res = run_pipeline(
            run.spark, pages, cfg, detectors=["exact", "minhash"], verify=True
        )
        n_keepers = res.keepers.count()

    labels = res.clusters.select("doc_id", "cluster_id").persist()
    n_planted = len([i for i in range(n) if i % 50 == 1])
    planted = _planted_same_cluster(labels)
    n_clusters = labels.select("cluster_id").distinct().count()
    recall = (planted["n_same"] or 0) / planted["n_pairs"]
    rec = {
        "num_perm": cfg.dedup.num_perm,
        "n_keepers": n_keepers,
        "planted_pairs": int(planted["n_pairs"]),
        "planted_same_cluster": int(planted["n_same"] or 0),
        "recall": round(recall, 5),
        "n_clusters": n_clusters,
    }
    assert rec["planted_pairs"] == n_planted, rec
    assert recall >= 0.99, f"pipeline dropped planted near-dups: {rec}"
    # expected clusters = n - n_planted (each copy merges into its source);
    # a hash family collapse would merge unrelated docs and ace recall
    assert n_clusters >= 0.99 * (n - n_planted), rec
    return rec


@spec("oph", num_perm=256, families="kr32,oph")
def oph(run):
    """A/B of ``hash_family`` through the full pipeline on
    ``_near_dup_docs``: One-Permutation Hashing builds a signature in
    O(F + K log K) per doc instead of O(F*K), while banding, census,
    verify and CC stay identical work. Legs interleave (kr32, oph, ...)
    so host drift hits both families; ``families=oph`` alone serves the
    longer-corpus scaling pairs. Same asserts as jvm_pipeline, per leg."""
    from deduplication_framework_spark.config import PipelineConfig
    from deduplication_framework_spark.plans.pipeline import run_pipeline

    n, num_perm = run.n, run.p["num_perm"]
    families = run.p["families"].split(",")
    n_planted = len([i for i in range(n) if i % 50 == 1])

    def leg(pages, family, n, phase):
        cfg = PipelineConfig()
        cfg.dedup.hash_family = family
        cfg.dedup.num_perm = num_perm
        with run.phase(phase):
            res = run_pipeline(
                run.spark, pages, cfg, detectors=["exact", "minhash"],
                verify=True,
            )
            n_keepers = res.keepers.count()
        if phase is None:
            return None
        labels = res.clusters.select("doc_id", "cluster_id").persist()
        planted = _planted_same_cluster(labels)
        n_clusters = labels.select("cluster_id").distinct().count()
        labels.unpersist()
        recall = (planted["n_same"] or 0) / planted["n_pairs"]
        out = {"n_keepers": n_keepers, "recall": round(recall, 5),
               "n_clusters": n_clusters}
        assert int(planted["n_pairs"]) == n_planted, out
        assert recall >= 0.99, f"{family} dropped planted near-dups: {out}"
        assert n_clusters >= 0.99 * (n - n_planted), out
        return out

    legs = _interleave(
        run, lambda k, parts: _near_dup_docs(run.spark, k, parts), 2000,
        families, leg,
    )
    _, rec = _best(run, legs, families)
    if "kr32" in families and "oph" in families:
        rec["e2e_speedup_oph_over_kr32"] = round(
            rec["kr32_min_sec"] / rec["oph_min_sec"], 3)
    return {"legs": legs, **rec}


@spec("jvm_minhash")
def jvm_minhash(run):
    """``jvm_minhash_signatures`` alone: whole-stage-codegen md5 feature
    hashes, affine permutations and a map-side-combined min over char
    3-grams of a JVM-generated corpus (60 md5 pseudo-words per doc; every
    i % 50 == 1 a byte-identical copy of i-1). Asserts every planted pair
    has identical 32-perm signatures and >= 90% of distinct texts get a
    unique signature (a family mapping everything to one value would pass
    the pair check)."""
    from pyspark.sql import functions as F

    from deduplication_framework_spark.functions.jvm_minhash import (
        jvm_minhash_signatures,
    )

    n, num_perm = run.n, 32
    base = F.expr(
        "concat_ws(' ', transform(sequence(1, 60),"
        " i -> substring(md5(concat(cast(src_id AS string), ':', i)), 1, 6)))"
    )
    docs = run.materialize(
        run.spark.range(n, numPartitions=run.cores * 2)
        .withColumn(
            "src_id",
            F.when(F.col("id") % 50 == 1, F.col("id") - 1).otherwise(F.col("id")),
        )
        .select(F.col("id").alias("doc_id"), base.alias("text"))
    )
    grams = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, greatest(length(text)-2, 1)),"
                    " i -> substring(text, i, 3))"
                )
            )
        ).alias("gram"),
    )
    sig_cols = [f"s{i:02d}" for i in range(num_perm)]
    with run.phase("signatures"):
        sigs = jvm_minhash_signatures(grams, num_perm=num_perm).persist()
        n_sigs = sigs.count()

    key = F.concat_ws("-", *[F.col(c).cast("string") for c in sig_cols])
    keyed = sigs.select("doc_id", key.alias("k")).persist()
    planted = (
        keyed.alias("a")
        .join(
            keyed.alias("b"),
            (F.col("b.doc_id") == F.col("a.doc_id") + 1)
            & (F.col("b.doc_id") % 50 == 1),
        )
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum((F.col("a.k") == F.col("b.k")).cast("int")).alias("n_equal"),
        )
        .collect()[0]
    )
    n_unique_keys = keyed.select("k").distinct().count()
    n_planted = len([i for i in range(n) if i % 50 == 1])
    rec = {
        "num_perm": num_perm,
        "n_sigs": n_sigs,
        "planted_pairs": int(planted["n_pairs"]),
        "planted_sig_equal": int(planted["n_equal"] or 0),
        "n_unique_sig_keys": n_unique_keys,
    }
    assert n_sigs == n, rec
    assert rec["planted_pairs"] == n_planted, rec
    assert rec["planted_sig_equal"] == n_planted, f"dup signatures diverged: {rec}"
    # uniques: n - n_planted distinct texts; allow md5-family near-misses
    assert n_unique_keys >= 0.9 * (n - n_planted), rec
    return rec


@spec("bloom")
def bloom(run):
    """Bloom-prefiltered recrawl dedup (operators/bloom.py) of an n // 4
    batch against an n-doc history, both md5 word soup written to parquet;
    a third of the batch re-crawls history. Phases: the Bloom build over
    the history scan, then the batch filter (map-side membership plus the
    verify join). Asserts the answer equals the distributed anti-join's
    (the filter routes rows, never decides them) and false positives stay
    under 1% of the definitely-new mass (sized fpp 1e-3)."""
    from pyspark.sql import functions as F

    from deduplication_framework_spark.operators.bloom import (
        bloom_build,
        incremental_new_rows,
    )

    n_old, n_new = run.n, run.n // 4
    old, new = _recrawl(run)

    with run.phase("build"):
        bf = bloom_build(old, F.md5("text"), expected_items=n_old, fpp=1e-3)
    with run.phase("filter"):
        res, stats = incremental_new_rows(
            new, old, key_col="text", bloom=bf,
            candidate_broadcast_threshold=2_000_000,
        )
        res = res.persist()  # count + two exceptAll consumers
        n_res = res.count()

    plain = new.join(
        old.select(F.md5("text").alias("_k")).distinct(),
        F.md5(new["text"]) == F.col("_k"),
        "left_anti",
    ).select("doc_id").persist()
    symdiff = (
        res.select("doc_id").exceptAll(plain).count()
        + plain.exceptAll(res.select("doc_id")).count()
    )
    assert symdiff == 0, f"bloom path diverged from anti-join: {symdiff}"
    n_true_dups = stats["n_new_batch"] - n_res
    n_fp = stats["n_candidates"] - n_true_dups
    assert 0 <= n_fp <= max(20, 0.01 * stats["n_definite_new"]), (
        f"false positives out of budget: {n_fp}"
    )
    return {
        "n_old": n_old,
        "n_new": n_new,
        "m_bits": bf.m_bits,
        "k": bf.k,
        "bloom_mb": round(bf.n_bytes / 2**20, 2),
        "n_new_result": n_res,
        "n_definite_new": stats["n_definite_new"],
        "n_candidates": stats["n_candidates"],
        "n_false_positive": n_fp,
        "verify_path": stats["verify_path"],
    }


@spec("fuzzy", headline=("warm_batch",))
def fuzzy(run):
    """Bloom-prefiltered NEAR-dup recrawl dedup (operators/
    incremental_fuzzy.py) of an n // 4 batch against an n-doc history:
    j % 3 == 0 re-crawls a history doc byte-identically, j % 3 == 1 with a
    one-token edit (J ~ 0.9), the rest is fresh md5 soup (J ~ 0.02).
    Phases: ``index_build`` (history featurized with the kr32 family, its
    band table and the Bloom over band keys; amortized per corpus),
    ``first_batch`` (JIT/Arrow cold) and the headline ``warm_batch``, the
    steady state where history is never re-featurized. Asserts every
    exact recrawl is removed, near-dup recall >= 0.99 and every fresh doc
    kept."""
    from pyspark.sql import functions as F

    from deduplication_framework_spark.config import PipelineConfig
    from deduplication_framework_spark.functions import kernels as K
    from deduplication_framework_spark.operators.bloom import bloom_build
    from deduplication_framework_spark.functions.text import minhash_features
    from deduplication_framework_spark.operators.incremental_fuzzy import (
        incremental_near_new_rows,
    )
    from deduplication_framework_spark.operators.lsh import (
        minhash_bands,
        release_census_caches,
    )

    n_old, n_new = run.n, run.n // 4
    cfg = PipelineConfig()
    cfg.dedup.hash_family = "kr32"  # the 100-TB throughput path
    old, new = _recrawl(run, near=True)

    # old_features'/old_bands' contract names the id column id_col
    # (= doc_id here), as minhash_features does
    b, r = K.optimal_band_param(cfg.dedup.threshold, cfg.dedup.num_perm)
    with run.phase("index_build"):
        old_feats = (
            minhash_features(old, cfg.embedding, cfg.dedup)
            .persist()
        )
        old_feats.count()
        band_table = (
            minhash_bands(
                old_feats.select(F.col("doc_id").alias("_id"), "sig"),
                b, r, id_col="_id",
            )
            .select(F.col("_id").alias("doc_id"), "band_key")
            .persist()
        )
        n_band_rows = band_table.count()
        bf = bloom_build(
            band_table, F.col("band_key"), expected_items=n_band_rows, fpp=1e-3
        )
    index = dict(old_features=old_feats, old_bands=band_table, bloom=bf)
    with run.phase("first_batch"):
        res1, _ = incremental_near_new_rows(new, old, cfg, **index)
        n_res_cold = res1.count()
    release_census_caches()
    with run.phase("warm_batch"):
        res2, stats2 = incremental_near_new_rows(new, old, cfg, **index)
        res2 = res2.persist()  # count (timed) + correctness collect (untimed)
        n_res_warm = res2.count()
    kept = {r.doc_id for r in res2.select("doc_id").collect()}

    assert n_res_cold == n_res_warm, "index reuse changed the answer"
    exact_ids = {10_000_000_000 + i for i in range(0, n_new, 3)}
    near_ids = {10_000_000_000 + i for i in range(1, n_new, 3)}
    fresh_ids = {10_000_000_000 + i for i in range(2, n_new, 3)}
    # the exact-catch guarantee's precondition: no capped history bucket
    # (old_bucket_cap is documented-lossy with accounting)
    assert stats2["n_capped_band_keys"] == 0, stats2
    missed_exact = exact_ids & kept
    assert not missed_exact, (
        f"exact recrawl copies survived: {sorted(missed_exact)[:5]}"
    )
    near_recall = 1.0 - len(near_ids & kept) / max(len(near_ids), 1)
    assert near_recall >= 0.99, f"near-dup recall {near_recall} < 0.99"
    dropped_fresh = fresh_ids - kept
    assert not dropped_fresh, (
        f"fresh docs wrongly removed: {sorted(dropped_fresh)[:5]}"
    )
    return {
        "n_old": n_old,
        "n_new": n_new,
        "b": stats2["b"],
        "r": stats2["r"],
        "m_bits": stats2["m_bits"],
        "n_new_result": n_res_warm,
        "n_definite_new": stats2["n_definite_new"],
        "n_candidate_pairs": stats2.get("n_candidate_pairs", 0),
        "n_dup_docs": stats2.get("n_dup_docs", 0),
        "near_dup_recall": round(near_recall, 5),
        "max_old_bucket": stats2["max_old_bucket"],
        "n_capped_band_keys": stats2["n_capped_band_keys"],
        "verify_path": stats2["verify_path"],
    }


@spec("decontam")
def decontam(run):
    """Span-level eval-overlap removal (operators/decontaminate.py::
    remove_contaminated_spans, 8-grams, hashed gram keys) of n train docs
    against n // 10 eval docs, 40 md5 words each. By train id j: j % 10 == 0
    wraps an eval doc in two unique words, j % 10 == 1 copies one, the rest
    is clean. Asserts exact counts: every wrap loses exactly its 40 eval
    words, every copy is emptied, no clean doc is touched."""
    from pyspark.sql import functions as F

    from deduplication_framework_spark.operators.decontaminate import (
        remove_contaminated_spans,
    )
    from deduplication_framework_spark.operators.lsh import (
        release_census_caches,
    )

    n_words = 40  # web-page-shaped: 12-word docs made it scan-bound
    n_train, n_eval, parts = run.n, run.n // 10, run.cores * 2

    def words(idcol, tag):
        c = idcol.cast("string")
        return [F.md5(F.concat(c, F.lit(f"-{tag}{k}"))) for k in range(n_words)]

    def eval_text(idcol):
        return F.concat_ws(" ", *words(idcol, "e"))

    ev = run.parquet("eval", run.spark.range(n_eval, numPartitions=parts).select(
        F.col("id").alias("doc_id"), eval_text(F.col("id")).alias("text")))
    j = F.col("id")
    planted = (j * 13) % n_eval
    train = run.parquet("train", run.spark.range(n_train, numPartitions=parts).select(
        j.alias("doc_id"),
        F.when(
            j % 10 == 0,
            F.concat_ws(
                " ",
                F.md5(F.concat(j.cast("string"), F.lit("-pre"))),
                eval_text(planted),
                F.md5(F.concat(j.cast("string"), F.lit("-suf"))),
            ),
        )
        .when(j % 10 == 1, eval_text(planted))
        .otherwise(F.concat_ws(" ", *words(j, "t")))
        .alias("text"),
    ))

    gram_key = "hash"  # 128-bit xxhash64-pair gram keys
    with run.phase("decontaminate"):
        res, stats = remove_contaminated_spans(train, ev, n=8, gram_key=gram_key)
        res = res.persist()
        n_res = res.count()

    checks = res.agg(
        F.sum(
            ((F.col("doc_id") % 10 == 0)
             & (F.col("n_words") == n_words + 2)
             & (F.col("n_removed") == n_words)).cast("long")
        ).alias("wraps_ok"),
        F.sum(
            ((F.col("doc_id") % 10 == 1)
             & (F.col("n_removed") == n_words)
             & (F.col("text_clean") == "")).cast("long")
        ).alias("copies_ok"),
        F.sum(
            ((F.col("doc_id") % 10 >= 2)
             & (F.col("n_removed") == 0)).cast("long")
        ).alias("clean_ok"),
    ).first()
    n_wrap = len(range(0, n_train, 10))
    n_copy = len(range(1, n_train, 10))
    n_clean = n_train - n_wrap - n_copy
    assert checks["wraps_ok"] == n_wrap, (
        f"wrapped plants mis-covered: {checks['wraps_ok']} != {n_wrap}"
    )
    assert checks["copies_ok"] == n_copy, (
        f"exact copies not emptied: {checks['copies_ok']} != {n_copy}"
    )
    assert checks["clean_ok"] == n_clean, (
        f"clean docs touched: {checks['clean_ok']} != {n_clean}"
    )
    assert n_res == n_train
    release_census_caches()
    return {
        "n_train": n_train,
        "n_eval": n_eval,
        "n_words": n_words,
        "gram_key": gram_key,
        "n_eval_grams": stats["n_eval_grams"],
        "n_docs_hit": stats["n_contaminated"],
        "eval_join_path": stats["eval_join_path"],
        "cov_join_path": stats["cov_join_path"],
    }


@spec("exactsubstr")
def exactsubstr(run):
    """ExactSubstr removal (operators/spans.py::remove_repeated_substrings,
    key_mode='hash', remove-all at min_len=60) on JVM-generated docs of 60
    md5 words: id % 20 == 1 splices a fixed 12-word (83-char) quote at an
    unaligned word offset, id % 50 == 3 copies id-1, the rest is unique.
    Asserts every quote doc loses >= 83 chars in >= 1 span, every copy and
    its source come out fully removed, and no unique doc is touched.
    ``n`` must be a multiple of 100 and >= 1000."""
    from pyspark.sql import functions as F

    from deduplication_framework_spark.operators.lsh import (
        release_census_caches,
    )
    from deduplication_framework_spark.operators.spans import (
        remove_repeated_substrings,
    )

    n, n_words, min_len = run.n, 60, 60
    if n < 1000 or n % 100 != 0:
        raise SystemExit(
            "n_docs must be a multiple of 100 and >= 1000: the planted-truth "
            "asserts assume every copy doc's source is in range and every "
            "class is populated (a tail id with n % 50 == 3 would label a "
            "source whose copy was never materialized)"
        )
    quote = [  # md5(f"quote:{j}")[:6], inlined as a JVM literal array
        "15f5e5", "e9144c", "3ee938", "054dc1", "76f845", "1808bb",
        "06eae4", "d53cb6", "d02796", "e7dcea", "54223d", "9d928b",
    ]
    quote_chars = len(" ".join(quote))  # 83
    qlit = "array(%s)" % ", ".join(f"'{w}'" for w in quote)
    words = (
        f"transform(sequence(1, {n_words}), i -> "
        "substring(md5(concat(cast(src_id AS string), ':', i)), 1, 6))"
    )
    arr = (
        "CASE WHEN src_id % 20 = 1 THEN "
        f"concat(slice(w, 1, off), {qlit}, slice(w, off + 1, {n_words} - off)) "
        "ELSE w END"
    )
    docs = run.materialize(
        run.spark.range(n, numPartitions=run.cores * 2)
        .withColumn(
            "src_id",
            F.when(F.col("id") % 50 == 3, F.col("id") - 1)
            .otherwise(F.col("id")),
        )
        .withColumn("off", (F.lit(5) + (F.col("src_id") % 7) * 5).cast("int"))
        .withColumn("w", F.expr(words))
        .select(
            F.col("id").alias("doc_id"),
            F.expr(f"concat_ws(' ', {arr})").alias("text"),
        )
    )
    n_positions = docs.agg(
        F.sum(F.greatest(F.length("text") - min_len + 1, F.lit(0)))
    ).collect()[0][0]

    with run.phase("remove"):
        res, stats = remove_repeated_substrings(
            docs, min_len=min_len, key_mode="hash"
        )
        res = res.persist()
        n_out = res.count()

    cls = F.when(F.col("doc_id") % 20 == 1, F.lit("quote")).when(
        (F.col("doc_id") % 50 == 3) | ((F.col("doc_id") + 1) % 50 == 3),
        F.lit("copy"),
    ).otherwise(F.lit("unique"))
    per = {
        r["cls"]: r
        for r in res.withColumn("cls", cls)
        .groupBy("cls")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                (
                    (F.col("n_removed_chars") >= quote_chars)
                    & (F.col("n_spans_removed") >= 1)
                ).cast("int")
            ).alias("quote_hit"),
            F.sum(
                (F.col("n_removed_chars") == F.col("n_chars")).cast("int")
            ).alias("full"),
            F.sum((F.col("n_removed_chars") > 0).cast("int")).alias("touched"),
        )
        .collect()
    }
    qd, cp, uq = per["quote"], per["copy"], per["unique"]
    rec = {
        "n_positions": int(n_positions),
        "min_len": min_len,
        "n_hot_grams": stats["n_hot_grams"],
        "hot_join_path": stats["hot_join_path"],
        "quote_docs": int(qd["n"]),
        "quote_docs_hit": int(qd["quote_hit"] or 0),
        "copy_docs": int(cp["n"]),
        "copy_docs_fully_removed": int(cp["full"] or 0),
        "unique_docs": int(uq["n"]),
        "unique_false_positives": int(uq["touched"] or 0),
    }
    release_census_caches()
    assert n_out == n, rec
    assert rec["quote_docs_hit"] == rec["quote_docs"], rec
    assert rec["copy_docs_fully_removed"] == rec["copy_docs"], rec
    assert rec["unique_false_positives"] == 0, rec
    return rec


@spec("spans")
def spans(run):
    """Keep-first exact span dedup (operators/spans.py::dedup_spans) with
    one boilerplate span in EVERY doc plus a 5-span template in every
    10th: the shape the min-of-struct aggregation collapses map-side where
    a row_number window would funnel all n copies into one task. Asserts
    the exact survivors: 19 unique spans per doc + 1 hot + 5 template,
    and no doc emptied."""
    from pyspark.sql import functions as F

    from deduplication_framework_spark.operators.spans import dedup_spans

    n_docs = run.n
    hot = "all rights reserved contact the webmaster for details"
    template = "\n".join(f"template block line {j} of the shared cms" for j in range(5))
    uniq = F.concat_ws(
        "\n",
        *[F.format_string(f"unique span %d token-{j}", F.col("id")) for j in range(19)],
    )
    docs = run.materialize(run.spark.range(n_docs, numPartitions=run.cores * 2).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            "\n",
            F.lit(hot),
            uniq,
            F.when(F.col("id") % 10 == 0, F.lit(template)),
        ).alias("text"),
    ))

    with run.phase("dedup_spans"):
        out = dedup_spans(docs, id_col="doc_id")
        agg = out.agg(
            F.sum("n_spans").alias("spans"),
            F.sum("n_kept").alias("kept"),
            F.sum((F.col("n_kept") == 0).cast("long")).alias("emptied"),
            F.count("*").alias("docs"),
        ).first()

    exp_spans = 20 * n_docs + 5 * (n_docs // 10 + (1 if n_docs % 10 else 0))
    exp_kept = 19 * n_docs + 1 + 5
    assert agg["docs"] == n_docs, agg
    assert agg["spans"] == exp_spans, (agg, exp_spans)
    assert agg["kept"] == exp_kept, (agg, exp_kept)
    assert agg["emptied"] == 0, agg
    return {"n_spans": int(agg["spans"]), "n_kept": int(agg["kept"]),
            "hot_span_copies": n_docs}


@spec("lm")
def lm(run):
    """LM perplexity scoring (operators/lm.py) with approx (map-side,
    no global sort) tertile bucketing over n docs x 50 tokens, generated
    JVM-side: docs with i % 10 == 0 draw from a 100-word vocabulary (high
    log-prob), the rest from 50k words. Asserts every common-vocab doc
    lands in the head tertile and the planted score ordering holds."""
    from pyspark.sql import functions as F

    from deduplication_framework_spark.operators.lm import (
        bucket_lm_scores,
        lm_score_docs,
    )
    from deduplication_framework_spark.operators.lsh import (
        release_census_caches,
    )

    tokens = 50
    vocab = "CASE WHEN id % 10 = 0 THEN 100 ELSE 50000 END"
    docs = run.materialize(run.spark.range(run.n, numPartitions=run.cores * 2).select(
        F.col("id").alias("doc_id"),
        F.expr(
            f"concat_ws(' ', transform(sequence(0, {tokens - 1}),"
            f" j -> concat('w', pmod(xxhash64(id, j), {vocab}))))"
        ).alias("text"),
    ))

    with run.phase("score"):
        scored = bucket_lm_scores(lm_score_docs(docs), approx=True)
        res = (
            scored.withColumn("common", (F.col("doc_id") % 10 == 0).cast("int"))
            .groupBy("common", "bucket")
            .agg(F.count("*").alias("k"), F.avg("avg_logp").alias("m"))
            .collect()
        )
    release_census_caches()

    common = {r.bucket: r.k for r in res if r.common == 1}
    rare = {r.bucket: r.k for r in res if r.common == 0}
    n_common = sum(common.values())
    head_rate = common.get("head", 0) / n_common
    assert head_rate == 1.0, (
        f"common-vocab docs must all be head, got {head_rate}"
    )
    mean_common = sum(
        r.m * r.k for r in res if r.common == 1
    ) / n_common
    mean_rare = sum(r.m * r.k for r in res if r.common == 0) / sum(
        rare.values()
    )
    assert mean_common > mean_rare, "planted score ordering broken"
    return {
        "tokens_per_doc": tokens,
        "common_head_rate": head_rate,
        "bucket_sizes": {b: common.get(b, 0) + rare.get(b, 0)
                         for b in ("head", "middle", "tail")},
    }


@spec("lshensemble", mode=("small", "big"))
def lshensemble(run):
    """A/B of the exact containment join (setjoin.ssjoin_containment)
    against LSH Ensemble (lshensemble_containment, num_perm=128) on one
    quote-detection corpus: each i % 50 == 1 doc quotes the first elements
    of doc i-1 (containment 1.0). ``mode=small``: 30-150-element sets,
    20-element quotes; ``mode=big``: 500-2000-element sets, 200-element
    quotes, the regime where the exact join's full index explosion is the
    cost the ensemble avoids. The element universe scales with n (50*n),
    and the size class is keyed on i div 50 so planted containers span
    every class (quote J down to ~0.1). Asserts planted recall >= 0.99 on
    every timed leg."""
    from pyspark.sql import functions as F

    from deduplication_framework_spark.operators.lsh import (
        release_census_caches,
    )
    from deduplication_framework_spark.operators.lshensemble import (
        lshensemble_containment,
    )
    from deduplication_framework_spark.operators.setjoin import (
        ssjoin_containment,
    )

    mode, threshold = run.p["mode"], 0.8

    def corpus(n, partitions):
        vocab = 50 * n
        el = (
            "substring(md5(concat(cast(src_id AS string), ':', "
            f"cast(pmod(hash(src_id, i), {vocab}) AS string))), 1, 12)"
        )
        quote = 20 if mode == "small" else 200
        # size class keyed on id div 50, NOT id % k: quotes sit at
        # id % 50 == 1, so an id%k size class would pin every planted
        # container (id = 0 mod 50) to ONE size
        big = ("30 + cast((id div 50) % 5 AS int)*30" if mode == "small"
               else "500 + cast((id div 50) % 4 AS int)*500")
        size = f"CASE WHEN is_quote THEN {quote} ELSE {big} END"
        return (
            run.spark.range(n, numPartitions=partitions)
            .withColumn("is_quote", F.col("id") % 50 == 1)
            .withColumn(
                "src_id",
                F.when(F.col("is_quote"), F.col("id") - 1).otherwise(F.col("id")),
            )
            .select(
                F.col("id").alias("doc_id"),
                F.expr(
                    f"array_distinct(transform(sequence(1, {size}), i -> {el}))"
                ).alias("grams"),
            )
        )

    def leg(docs, algo, n, phase):
        with run.phase(phase):
            if algo == "exact":
                edges, stats = ssjoin_containment(
                    docs, threshold=threshold, set_col="grams"
                )
            else:
                # num_perm=128 (datasketch LSHEnsemble's default): planted
                # quotes sit at J as low as 0.13 against the largest
                # containers, where 64 perms measured 0.988 recall
                edges, stats = lshensemble_containment(
                    docs, threshold=threshold, num_perm=128, num_partitions=8
                )
            edges = edges.persist()
            n_edges = edges.count()
        if phase is None:
            edges.unpersist()
            release_census_caches()
            return None
        planted = edges.filter(
            (F.col("src") % 50 == 1) & (F.col("dst") == F.col("src") - 1)
        ).count()
        n_planted = len([i for i in range(n) if i % 50 == 1])
        edges.unpersist()
        release_census_caches()
        recall = planted / n_planted
        out = {"n_edges": n_edges, "n_candidates": stats["n_candidates"],
               "planted": planted, "planted_total": n_planted,
               "recall": round(recall, 5)}
        assert recall >= 0.99, f"{algo} dropped planted quotes: {out}"
        return out

    algos = ("exact", "ensemble")
    legs = _interleave(run, corpus, 500 if mode == "big" else 2000, algos, leg)
    best, rec = _best(run, legs, algos)
    rec["speedup_ensemble_over_exact"] = round(
        rec["exact_min_sec"] / rec["ensemble_min_sec"], 3)
    return {
        "legs": legs,
        **rec,
        "exact_candidates": best["exact"]["n_candidates"],
        "ensemble_candidates": best["ensemble"]["n_candidates"],
        "ensemble_recall": best["ensemble"]["recall"],
    }


@spec("srp")
def srp(run):
    """SRP LSH (operators/srp.py: b=16 bands x r=24 sign bits, exact-dot
    verify at 0.9) over n unit vectors of dim 64, generated distributed
    from per-id seeds; every i % 100 == 1 is a perturbed copy of i-1 at
    cosine ~0.99. Asserts planted-pair recall >= 0.99."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from deduplication_framework_spark.operators.srp import (
        srp_candidate_edges,
    )

    n, dim, eps = run.n, 64, 0.12  # eps -> cosine ~0.992 +/- 0.003

    def gen(batches):
        def base(i):
            v = np.random.RandomState(i).randn(dim)
            return v / np.linalg.norm(v)

        for pdf in batches:
            ids = pdf["id"].to_numpy()
            out = np.empty((len(ids), dim))
            for j, i in enumerate(ids):
                if i % 100 == 1:
                    v = base(i - 1) + eps * base(10**9 + i)
                    out[j] = v / np.linalg.norm(v)
                else:
                    out[j] = base(i)
            yield pd.DataFrame(
                {"vec_id": ids, "embedding": list(out.astype(np.float32))}
            )

    vecs = run.materialize(
        run.spark.range(n, numPartitions=run.cores * 2)
        .mapInPandas(gen, schema="vec_id long, embedding array<float>")
    )
    with run.phase("srp"):
        edges, stats = srp_candidate_edges(
            vecs, threshold=0.9, b=16, r=24, seed=42, dim=dim
        )
        found = (
            edges.withColumn(
                "planted",
                (
                    ((edges.dst - edges.src) == 1) & (edges.dst % 100 == 1)
                ).cast("int"),
            )
            .agg(
                F.count("*").alias("n_edges"),
                F.sum("planted").alias("n_planted"),
            )
            .collect()[0]
        )
    n_edges, n_planted_found = found[0], int(found[1] or 0)
    # a second action that re-runs the banding DAG: diagnostics, untimed
    stats_row = stats.collect()[0].asDict()
    n_planted = len([i for i in range(n) if i % 100 == 1])
    recall = n_planted_found / n_planted
    assert recall >= 0.99, f"planted-pair recall {recall} < 0.99"
    return {
        "dim": dim,
        "b": 16,
        "r": 24,
        "edges": n_edges,
        "planted_pairs": n_planted,
        "planted_found": n_planted_found,
        "recall": round(recall, 5),
        "bucket_stats": stats_row,
    }


@spec("pq", headline=("query",))
def pq(run):
    """IVF-PQ (operators/pq.py) over n unit vectors in 64 cluster blocks
    (vector i = normalize(center[(i // 100) % 64] + 0.5 * noise_i)); every
    i % 100 == 1 is a perturbed copy of i-1 (cos ~0.995 against ~0.8 for
    ordinary block members). Phases: ``train`` (the codebook, a serial
    once-per-corpus driver cost) and the headline ``query``: pq_encode,
    IVF probe, ADC scoring and exact rerank. Asserts the reranked rank-1
    neighbour of >= 99% of planted copies is their source."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from deduplication_framework_spark.operators.pq import ivfpq_topk, pq_train

    n, dim, blocks = run.n, 64, 64
    noise, eps = 0.5, 0.1  # block spread; planted-copy perturbation

    def gen(batches):
        centers = np.stack(
            [np.random.RandomState(9000 + b).randn(dim) for b in range(blocks)]
        )
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)

        def base(i):
            lbl = (i // 100) % blocks
            nz = np.random.RandomState(i).randn(dim)
            v = centers[lbl] + noise * nz / np.linalg.norm(nz)
            return v / np.linalg.norm(v)

        for pdf in batches:
            ids = pdf["id"].to_numpy()
            out = np.empty((len(ids), dim))
            for j, i in enumerate(ids):
                if i % 100 == 1:
                    nz = np.random.RandomState(10**9 + i).randn(dim)
                    v = base(i - 1) + eps * nz / np.linalg.norm(nz)
                    out[j] = v / np.linalg.norm(v)
                else:
                    out[j] = base(i)
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "label": (ids // 100) % blocks,
                    "embedding": list(out),
                }
            )

    vecs = run.materialize(
        run.spark.range(n, numPartitions=run.cores * 2).mapInPandas(
            gen, schema="vec_id long, label long, embedding array<double>"
        )
    )
    with run.phase("train"):
        cb = pq_train(vecs.orderBy("vec_id"), m=16, k=256, sample_rows=20_000)
    with run.phase("query"):
        top = ivfpq_topk(
            vecs, cb, k=10, n_probe=4, block_col="label", rerank=50
        )
        found = (
            top.filter(F.col("rank") == 1)
            .withColumn(
                "hit",
                (
                    (F.col("vec_id") % 100 == 1)
                    & (F.col("neighbor_id") == F.col("vec_id") - 1)
                ).cast("int"),
            )
            .agg(
                F.count("*").alias("n_q"),
                F.sum("hit").alias("n_hit"),
            )
            .collect()[0]
        )
    n_planted = len([i for i in range(n) if i % 100 == 1])
    recall1 = int(found["n_hit"] or 0) / n_planted
    assert recall1 >= 0.99, f"planted rank-1 recall {recall1} < 0.99"
    return {
        "dim": dim,
        "m": 16,
        "blocks": blocks,
        "planted_queries": n_planted,
        "planted_rank1_hits": int(found["n_hit"] or 0),
        "rank1_recall": round(recall1, 5),
    }


@spec("ssjoin")
def ssjoin(run):
    """Exact set-similarity join (operators/setjoin.py::ssjoin_jaccard at
    t=0.8) over n 40-element sets from per-id seeds: 35 elements from a
    sparse domain that scales with n (50*n ids, avg df < 1, the
    word-bigram regime; a fixed universe degrades any prefix join toward
    all-pairs) and 5 from a 100-element hot domain (Zipf-head stand-ins
    the rarest-first prefixes must exclude). Every i % 10 == 1 is a copy
    of i-1 with 3 sparse elements replaced (J ~ 0.86). Asserts planted
    recall == 1.0 (the prefix-filter theorem) and zero other edges."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from deduplication_framework_spark.operators.lsh import (
        release_census_caches,
    )
    from deduplication_framework_spark.operators.setjoin import ssjoin_jaccard

    n, n_words, swap, hot_words, hot_domain = run.n, 40, 3, 5, 100
    vocab = 50 * n

    def gen(batches):
        def words(i):
            # randint, not choice(replace=False), which permutes the vocab
            # per doc: a rare within-doc dup is absorbed by array_distinct
            # and a 39-distinct base still gives its copy J >= 36/42
            rng = np.random.RandomState(i)
            w = rng.randint(0, vocab, n_words)
            # the tail: hot-domain draws, ids above the swap namespace
            w[n_words - hot_words:] = (
                rng.randint(0, hot_domain, hot_words) + 2 * vocab
            )
            return w

        for pdf in batches:
            ids = pdf["id"].to_numpy()
            out = []
            for i in ids:
                if i % 10 == 1 and i > 0:
                    w = words(i - 1).copy()
                    repl = np.random.RandomState(10**9 + i).randint(
                        0, vocab, swap
                    )
                    w[:swap] = repl + vocab  # disjoint namespace
                else:
                    w = words(i)
                out.append([f"w{int(x):09d}" for x in w])
            yield pd.DataFrame({"doc_id": ids, "grams": out})

    docs = run.materialize(
        run.spark.range(n, numPartitions=run.cores * 2).mapInPandas(
            gen, schema="doc_id long, grams array<string>"
        )
    )
    with run.phase("ssjoin"):
        edges, stats = ssjoin_jaccard(docs, threshold=0.8)
        found = (
            edges.withColumn(
                "planted",
                (((edges.dst - edges.src) == 1) & (edges.dst % 10 == 1)).cast(
                    "int"
                ),
            )
            .agg(
                F.count("*").alias("n_edges"), F.sum("planted").alias("n_planted")
            )
            .collect()[0]
        )
    n_edges, n_planted_found = found[0], int(found[1] or 0)
    release_census_caches()
    n_planted = len([i for i in range(n) if i % 10 == 1 and i > 0])
    recall = n_planted_found / n_planted
    assert recall == 1.0, f"planted recall {recall} != 1.0 (theorem broken)"
    assert n_edges == n_planted_found, (
        f"{n_edges - n_planted_found} non-planted edges on a sparse corpus"
    )
    return {
        "words_per_doc": n_words,
        "n_candidates": stats["n_candidates"],
        "planted_pairs": n_planted,
        "recall": recall,
        "edges": n_edges,
    }


@spec("selection")
def selection(run):
    """The data-selection stage on one JVM-generated corpus (40 tokens per
    doc), each operator its own phase with a planted assert:

    * ``dsir`` (operators/dsir.py): the target slice (doc_id % 20 == 0)
      and 10% planted pool docs draw from one 200-word vocab, the rest of
      the pool from a disjoint 50k vocab; asserts exact classification;
    * ``packing`` (operators/packing.py): asserts the layout tiles each
      shard without gaps, by aggregation, never collecting the layout;
    * ``split`` (operators/splits.py): over 3-doc groups, asserts one side
      per group and a val fraction in [0.15, 0.25] at val_frac=0.2.

    Each phase times the operator down to a tiny census; the planted
    checks run untimed afterwards."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from deduplication_framework_spark.operators.dsir import dsir_log_weights
    from deduplication_framework_spark.operators.lsh import (
        release_census_caches,
    )
    from deduplication_framework_spark.operators.packing import pack_sequences
    from deduplication_framework_spark.operators.splits import (
        leakage_safe_split,
    )

    n, cores, tokens = run.n, run.cores, 40
    target = "id % 20 = 0 OR id % 10 = 1"
    vocab = f"CASE WHEN {target} THEN 200 ELSE 50000 END"
    # disjoint domains: target vocab words are t<k>, pool words w<k>
    pref = f"CASE WHEN {target} THEN 't' ELSE 'w' END"
    docs = run.materialize(run.spark.range(n, numPartitions=cores * 2).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 20 == 0).alias("is_t"),
        F.expr(
            f"concat_ws(' ', transform(sequence(0, {tokens - 1}),"
            f" j -> concat({pref}, pmod(xxhash64(id, j), {vocab}))))"
        ).alias("text"),
    ))

    with run.phase("dsir"):
        w = dsir_log_weights(docs, target_col="is_t")
        w = w.withColumn(
            "kind",
            F.expr(
                "CASE WHEN doc_id % 20 = 0 THEN 'target' "
                "WHEN doc_id % 10 = 1 THEN 'planted' ELSE 'pool' END"
            ),
        )
        cls = w.groupBy("kind", "selected").count().collect()
    release_census_caches()
    by = {(r.kind, r.selected): r["count"] for r in cls}
    planted = sum(v for (k, s), v in by.items() if k == "planted")
    assert by.get(("planted", True), 0) == planted, by
    pool = sum(v for (k, s), v in by.items() if k == "pool")
    assert by.get(("pool", False), 0) == pool, by

    n_shards = max(cores * 4, 32)
    with run.phase("packing"):
        p = pack_sequences(docs, seq_len=2048, n_shards=n_shards).persist()
        # the sum REQUIRES the window cumsum, so Catalyst can't prune it
        mat = p.agg(
            F.sum("tok_end").alias("s"), F.count("*").alias("rows")
        ).collect()[0]
    assert mat.rows == n
    lagw = Window.partitionBy("shard").orderBy("pos")
    viol = p.withColumn(
        "prev_end", F.lag("tok_end").over(lagw)
    ).select(
        F.sum(
            (
                F.col("tok_start")
                != F.coalesce(F.col("prev_end"), F.lit(0))
            ).cast("long")
        ).alias("gaps"),
        F.count("*").alias("rows"),
    ).collect()[0]
    assert viol.gaps == 0 and viol.rows == n, viol
    p.unpersist()

    clusters = docs.select(
        "doc_id", (F.col("doc_id") - F.col("doc_id") % 3).alias("cluster_id")
    )
    with run.phase("split"):
        a = leakage_safe_split(docs, clusters, val_frac=0.2).persist()
        sides = {r.split: r["count"] for r in a.groupBy("split").count().collect()}
    assert sum(sides.values()) == n
    val_frac = sides.get("val", 0) / n
    assert 0.15 <= val_frac <= 0.25, val_frac
    maxk = (
        a.groupBy("group_id")
        .agg(F.countDistinct("split").alias("k"))
        .agg(F.max("k"))
        .collect()[0][0]
    )
    assert maxk == 1, "a group crossed the boundary"
    a.unpersist()
    return {
        "dsir": {"planted_recall": 1.0, "pool_false_pos": 0},
        "packing": {"n_shards": n_shards, "tiling_gaps": 0},
        "split": {"val_doc_frac": round(val_frac, 4)},
    }


def _cc_graph(kind, n, seed):
    """(src, dst) id arrays of a ``cc`` graph over the ids 0..n-1, which
    ``seed`` shuffles."""
    import numpy as np

    rs = np.random.RandomState(seed)
    ids = rs.permutation(n)
    if kind == "chains":
        chains = np.sort(ids[: n - n % 64].reshape(-1, 64), axis=1)
        return chains[:, :-1].ravel(), chains[:, 1:].ravel()
    if kind == "spath":
        return ids[:-1], ids[1:]
    if kind == "stree":
        # vertex i hangs off a uniform earlier vertex
        up = (rs.random_sample(n - 1) * np.arange(1, n)).astype(np.int64)
        return ids[1:], ids[up]
    cliques = ids[: n - n % 8].reshape(-1, 8)
    a, b = np.triu_indices(8, 1)
    return cliques[:, a].ravel(), cliques[:, b].ravel()


@spec("cc", graph=("chains", "spath", "stree", "cliques"), seed=1)
def cc(run):
    """The distributed CC loop (operators/connected_components.py) on an
    n-vertex graph with shuffled ids: ``chains`` (the benchmark's graph:
    chains of 64 whose ids rise along each chain), ``spath`` (one path,
    ids shuffled along it), ``stree`` (a random recursive tree) or
    ``cliques`` (of 8). Records the rounds and each round's wall (between
    its checkpoints), label-join strategy, hook and change count; the
    loop's jobs are its ``cc`` phase's. Asserts the labels equal the
    driver union-find's."""
    import pyarrow as pa

    from deduplication_framework_spark.operators.connected_components import (
        _stats_bounded_local_ckpt,
        connected_components,
    )
    from deduplication_framework_spark.oracle.numpy_oracle import UnionFind

    src, dst = _cc_graph(run.p["graph"], run.n, run.p["seed"])
    edges = run.parquet(
        "graph", run.spark.createDataFrame(pa.table({"src": src, "dst": dst}))
    )
    stamps, rlog = [], []

    def ckpt(df):
        """The loop's default checkpoint, stamping each call."""
        df = _stats_bounded_local_ckpt(df)
        stamps.append(time.time())
        return df

    with run.phase("cc"):
        labels, rounds = connected_components(
            edges, checkpoint=ckpt, round_stats=rlog
        )
    got = {r.doc_id: r.cluster_id for r in labels.collect()}
    uf = UnionFind()
    for a, b in zip(src.tolist(), dst.tolist()):
        uf.union(a, b)
    assert got == uf.labels(sorted(got)) and len(got) == len(uf.parent), \
        "CC labels differ from the union-find's"
    return {
        "vertices": len(got),
        "edges": len(src),
        "components": len(set(got.values())),
        "rounds": rounds,
        # stamps: the edge list's cut, the initial labels', then one a round
        "round_wall_s": [round(b - a, 2) for a, b in zip(stamps[1:], stamps[2:])],
        "join": [s["join"] for s in rlog],
        "hooked": [s["hooked"] for s in rlog],
        "n_changed": [s["n_changed"] for s in rlog],
    }


# ---------------------------------------------------------------- harness

USAGE = "usage: python tools/anchor.py <spec> <cores> <n> [runs_file] [key=value ...]"


def _fail(msg):
    keys = "; ".join(
        f"{s}: " + " ".join(
            f"{k}={'|'.join(v) if isinstance(v, tuple) else v}"
            for k, v in sp["keys"].items())
        for s, sp in SPECS.items() if sp["keys"])
    print(f"{msg}\n{USAGE}\nspecs: {', '.join(SPECS)}\nkeys: {keys}",
          file=sys.stderr)
    sys.exit(2)


def _value(default, raw):
    if isinstance(default, tuple):
        if raw not in default:
            raise ValueError
        return raw
    if isinstance(default, bool):
        return {"1": True, "true": True, "0": False, "false": False}[raw]
    return type(default)(raw)


def parse(argv):
    """(spec, cores, n, runs_file, params) from the command line; a bad
    one exits 2 naming the valid specs and keys."""
    pos = [a for a in argv if "=" not in a]
    if not pos or pos[0] not in SPECS:
        _fail(f"unknown spec {pos[0]!r}" if pos else "no spec given")
    name, keys = pos[0], SPECS[pos[0]]["keys"]
    if not 3 <= len(pos) <= 4:
        _fail(f"{name} needs <cores> <n> [runs_file]")
    try:
        cores, n = int(pos[1]), int(pos[2])
    except ValueError:
        _fail(f"<cores> and <n> must be integers, not {pos[1]!r} {pos[2]!r}")
    params = {k: v[0] if isinstance(v, tuple) else v for k, v in keys.items()}
    for a in argv:
        if "=" not in a:
            continue
        k, raw = a.split("=", 1)
        if k not in keys:
            _fail(f"unknown key {k!r} for spec {name}")
        try:
            params[k] = _value(keys[k], raw)
        except (KeyError, ValueError):
            _fail(f"bad value {raw!r} for {name} key {k}")
    out = pos[3] if len(pos) > 3 else os.path.join(
        tempfile.gettempdir(), f"anchor_{name}_runs.jsonl")
    return name, cores, n, out, params


def main(argv):
    name, cores, n, out, params = parse(argv)
    sp = SPECS[name]
    # before numpy or the JVM start: an unpinned BLAS pool would make a
    # local[2] leg secretly many-core
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(v, "1")

    import bench
    from dedup_bench.probes import EventLog, ProcTree, Tracer, drain_listener_bus
    from deduplication_framework_spark.session import get_spark

    supply = bench._effective_cores()
    tmp = tempfile.mkdtemp(prefix=f"anchor-{name}-")
    evdir = os.path.join(tmp, "events")
    os.makedirs(evdir)
    spark = get_spark(
        app_name=f"anchor-{name}-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=sp["partitions"](cores),
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{evdir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    try:
        sc = spark.sparkContext
        tracer = Tracer(sc, ProcTree())
        fields = sp["run"](Run(spark, tracer, cores, n, params, tmp))
        log = EventLog(glob.glob(os.path.join(evdir, "*"))[0])
        drain_listener_bus(sc, log)
        phases = tracer.layers(log)
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)

    head = [phases[p] for p in sp["headline"] or phases]

    def total(k):
        return sum(p.get(k, 0.0) for p in head)

    rec = {
        "spec": name, "cores": cores, "n": n, **params, **fields,
        "sec": round(total("wall_s"), 2),
        "busy_core_sec": round(total("exec_cpu_s"), 1),
        "task_run_sec": round(total("exec_run_s"), 1),
        "n_tasks": int(total("tasks")),
        "host_supply_cores": supply,
        "phases": {p: {k: round(v, 3) for k, v in m.items()}
                   for p, m in phases.items()},
        "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
    }
    line = json.dumps(rec)
    print(line)
    with open(out, "a") as fh:
        fh.write(line + "\n")


if __name__ == "__main__":
    main(sys.argv[1:])
