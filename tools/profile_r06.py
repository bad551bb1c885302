"""Round-6 per-stage profiling (guide §1: measure first, noop sink).

Usage: python tools/profile_r06.py <target> [...]
Targets: ssjoin, containment, cc, jvm, stream_parts

Each target isolates the expensive stages of one bench workload with
noop sinks + setJobDescription labels, so the cost attribution is per
stage, not per workload. Not part of the driver bench (bench.py is
frozen); numbers are cited in OPTIMIZATION_r06.md.
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from deduplication_framework_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def noop(df, label, spark):
    spark.sparkContext.setJobDescription(label)
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    sec = time.time() - t0
    spark.sparkContext.setJobDescription(None)
    print(f"  {label}: {sec:.2f}s", flush=True)
    return sec


def _pages(spark):
    import bench

    return bench.parquet_pages(spark, bench.N_PAGES, CPUS * 2)


def prof_ssjoin(spark):
    from deduplication_framework_spark.functions.text import word_bigram_sets
    from deduplication_framework_spark.operators.lsh import (
        _persist_tracked,
        release_census_caches,
    )
    from deduplication_framework_spark.operators.setjoin import ssjoin_jaccard
    from deduplication_framework_spark.operators.verify import _EPS

    pages = _pages(spark)
    docs = word_bigram_sets(pages, id_col="doc_order", lowercase=True)
    t = 0.8

    base = _persist_tracked(
        docs.select(
            F.col("doc_id").alias("_id"),
            F.array_distinct(F.col("grams")).alias("_set"),
        ).filter(F.size("_set") > 0)
    )
    spark.sparkContext.setJobDescription("base persist")
    t0 = time.time()
    n = base.count()
    print(f"  base persist+count ({n} docs): {time.time()-t0:.2f}s", flush=True)

    exploded = base.select("_id", F.explode("_set").alias("_el"))
    noop(exploded, "explode only", spark)
    dfreq = exploded.groupBy("_el").agg(F.count("*").alias("_df"))
    spark.sparkContext.setJobDescription("dfreq count")
    t0 = time.time()
    nel = dfreq.count()
    print(f"  dfreq distinct elements: {nel} in {time.time()-t0:.2f}s", flush=True)

    ranked = (
        exploded.join(dfreq, "_el")
        .groupBy("_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_df"), F.col("_el")))
            ).alias("_ranked")
        )
        .withColumn("_sz", F.size("_ranked"))
    )
    noop(ranked, "ranked (join+collect_list)", spark)

    p = F.col("_sz") - F.ceil(t * F.col("_sz") - _EPS).cast("int") + 1
    prefix = ranked.select(
        "_id", "_sz", F.posexplode(F.slice("_ranked", 1, p)).alias("_pos", "_w")
    )
    a = prefix.select(
        F.col("_id").alias("src"), F.col("_sz").alias("_sa"),
        F.col("_pos").alias("_pa"), "_w",
    )
    b = prefix.select(
        F.col("_id").alias("dst"), F.col("_sz").alias("_sb"),
        F.col("_pos").alias("_pb"), "_w",
    )
    joined = a.join(b, "_w").filter(
        (F.col("src") < F.col("dst"))
        & (F.col("_sb") >= t * F.col("_sa") - _EPS)
        & (F.col("_sa") >= t * F.col("_sb") - _EPS)
    )
    cands = joined.groupBy("src", "dst", "_sa", "_sb").agg(
        F.min(F.struct("_w", "_pa", "_pb")).alias("_m")
    )
    spark.sparkContext.setJobDescription("prefix join + cands")
    t0 = time.time()
    nc = cands.count()
    print(f"  prefix-join candidates: {nc} in {time.time()-t0:.2f}s", flush=True)
    release_census_caches()
    spark.catalog.clearCache()

    # full operator end to end for reference
    t0 = time.time()
    edges, stats = ssjoin_jaccard(docs, threshold=t)
    ne = edges.count()
    release_census_caches()
    print(
        f"  full ssjoin e2e: {time.time()-t0:.2f}s"
        f" (cands={stats['n_candidates']}, edges={ne})",
        flush=True,
    )


def prof_containment(spark):
    import __spark_entry__ as entry
    from deduplication_framework_spark.functions.text import word_bigram_sets
    from deduplication_framework_spark.operators.lsh import (
        _persist_tracked,
        release_census_caches,
    )
    from deduplication_framework_spark.operators.verify import _EPS

    docs = word_bigram_sets(entry._docs(spark, SF_DIR), lowercase=False)
    t = 0.8

    base = _persist_tracked(
        docs.select(
            F.col("doc_id").alias("_id"),
            F.array_distinct(F.col("grams")).alias("_set"),
        ).filter(F.size("_set") > 0)
    )
    t0 = time.time()
    n = base.count()
    print(f"  base persist+count ({n} docs): {time.time()-t0:.2f}s", flush=True)
    stats = base.agg(
        F.sum(F.size("_set")), F.max(F.size("_set")), F.avg(F.size("_set"))
    ).first()
    print(f"  total els {stats[0]}, max set {stats[1]}, avg {stats[2]:.1f}")

    exploded = base.select("_id", F.explode("_set").alias("_el"))
    dfreq = exploded.groupBy("_el").agg(F.count("*").alias("_df"))
    t0 = time.time()
    nel = dfreq.count()
    print(f"  distinct elements: {nel} in {time.time()-t0:.2f}s", flush=True)

    ranked = (
        exploded.join(dfreq, "_el")
        .groupBy("_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_df"), F.col("_el")))
            ).alias("_ranked")
        )
        .withColumn("_sz", F.size("_ranked"))
    )
    noop(ranked, "ranked (join+collect_list)", spark)

    p = F.col("_sz") - F.ceil(t * F.col("_sz") - _EPS).cast("int") + 1
    probe = ranked.select(
        "_id", "_sz", F.explode(F.slice("_ranked", 1, p)).alias("_w")
    ).select(
        F.col("_id").alias("src"), F.col("_sz").alias("_sa"),
        F.col("_w._el").alias("_el"),
    )
    index = base.select(
        F.col("_id").alias("dst"), F.size("_set").alias("_sb"),
        F.explode("_set").alias("_el"),
    )
    joined = probe.join(index, "_el").filter(
        (F.col("src") != F.col("dst"))
        & (F.col("_sb") >= t * F.col("_sa") - _EPS)
    )
    spark.sparkContext.setJobDescription("probe-index join raw row count")
    t0 = time.time()
    nj = joined.count()
    print(f"  probe-index join rows: {nj} in {time.time()-t0:.2f}s", flush=True)
    cands = joined.select("src", "dst").distinct()
    spark.sparkContext.setJobDescription("cands distinct")
    t0 = time.time()
    nc = cands.count()
    print(f"  distinct candidates: {nc} in {time.time()-t0:.2f}s", flush=True)
    release_census_caches()
    spark.catalog.clearCache()

    t0 = time.time()
    df = entry.queries()["containment_edges"](spark, SF_DIR)
    ne = df.count()
    print(f"  full q_containment_edges: {time.time()-t0:.2f}s ({ne} edges)",
          flush=True)


def prof_cc(spark):
    import bench

    run, stats = bench.bench_distributed_cc(spark)
    t0 = time.time()
    n = run()
    print(f"  cc chain e2e: {time.time()-t0:.2f}s rounds={stats['rounds']}"
          f" ncomp={n}", flush=True)


def prof_jvm(spark):
    from deduplication_framework_spark.config import PipelineConfig
    from deduplication_framework_spark.functions.jvm_minhash import (
        jvm_minhash_features,
    )

    cfg = PipelineConfig()
    pages = _pages(spark)
    docs = pages.selectExpr("doc_order AS doc_id", "text")
    print(f"  num_perm={cfg.dedup.num_perm}")

    # stage A: everything up to the feature-hash array (_hs)
    from deduplication_framework_spark.config import TextEmbeddingConfig
    from deduplication_framework_spark.functions.text import normalize_col

    emb = cfg.embedding
    n = 3
    d0 = docs.select(F.col("doc_id"), normalize_col(F.col("text"), emb).alias("_norm"))
    gram_expr = (
        "CASE WHEN length(_cleaned) = 0 THEN CAST(array() AS array<string>) "
        f"WHEN length(_cleaned) < {n} THEN array(_cleaned) "
        f"ELSE transform(sequence(1, length(_cleaned) - {n} + 1), "
        f"i -> substring(_cleaned, i, {n})) END"
    )
    d1 = d0.select(
        "doc_id",
        F.slice(
            F.filter(F.split(F.col("_norm"), r"(?U)\s+"), lambda w: w != ""),
            1, 200,
        ).alias("_words"),
        F.expr("replace(_norm, ' ', '')").alias("_cleaned"),
    )
    d2 = d1.select(
        "doc_id", F.slice(F.expr(gram_expr), 1, 200).alias("_grams"), "_words"
    )
    d3 = d2.select(
        "doc_id", F.array_distinct(F.concat("_words", "_grams")).alias("_feats")
    )
    noop(d3, "feats (normalize+grams+distinct)", spark)
    MERSENNE_31 = (1 << 31) - 1
    d4 = d3.select(
        "doc_id",
        F.expr(
            "transform(_feats, f -> CAST(conv(substring(md5(f), 25, 8),"
            f" 16, 10) AS BIGINT) % {MERSENNE_31})"
        ).alias("_hs"),
    )
    noop(d4, "md5 feature hashes (_hs)", spark)
    full = jvm_minhash_features(
        docs, num_perm=cfg.dedup.num_perm, include_words=True
    )
    noop(full, "full jvm features (sig+shingles)", spark)


def prof_stream_parts(spark):
    import bench

    pages = _pages(spark)
    src = bench._stream_batches_path(spark, pages, 4)
    stream = (
        spark.readStream.schema("doc_order long, text string")
        .option("maxFilesPerTrigger", 4)
        .parquet(os.path.join(src, "b*"))
    )
    import glob

    for d in sorted(glob.glob(os.path.join(src, "b*"))):
        files = glob.glob(os.path.join(d, "*.parquet"))
        szs = [os.path.getsize(f) for f in files]
        print(f"  {os.path.basename(d)}: {len(files)} files, {sum(szs)//1024}KB")
    # time one batch-equivalent featurization at 4-way vs 32-way parallelism
    from deduplication_framework_spark.config import PipelineConfig
    from deduplication_framework_spark.functions.text import (
        make_fused_features_udf,
    )

    cfg = PipelineConfig()
    mh = make_fused_features_udf(cfg.embedding, cfg.dedup, with_minhash=True)
    one = spark.read.parquet(os.path.join(src, "b0"))
    print(f"  b0 partitions as read: {one.rdd.getNumPartitions()}")
    sigs4 = one.coalesce(4).select("doc_order", mh("text")["sig"].alias("sig"))
    noop(sigs4, "featurize 5k docs @4 partitions", spark)
    sigs32 = one.repartition(CPUS).select(
        "doc_order", mh("text")["sig"].alias("sig")
    )
    noop(sigs32, "featurize 5k docs @32 partitions", spark)


def main():
    targets = sys.argv[1:] or ["ssjoin", "containment", "cc", "jvm"]
    spark = get_spark(
        app_name="profile_r06", master=f"local[{CPUS}]", shuffle_partitions=CPUS
    )
    for tgt in targets:
        print(f"== {tgt} ==", flush=True)
        t0 = time.time()
        globals()[f"prof_{tgt}"](spark)
        print(f"== {tgt} total {time.time()-t0:.2f}s ==", flush=True)
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
