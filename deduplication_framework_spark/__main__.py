"""CLI: the spark-submit entry point.

    spark-submit --py-files dist/deduplication_framework_spark.zip \\
        -m deduplication_framework_spark  # (or path to this file)

or locally:

    python -m deduplication_framework_spark \\
        --input /path/pages_parquet --output /path/out \\
        --detectors exact,minhash,simhash --config cfg.yaml \\
        --checkpoint-dir /path/ckpt

Replaces the reference's ``python -m pipelines --config cfg.yaml``
(/root/reference/pipelines/__main__.py:7-13) — one Spark app instead of an
orchestrator spawning conda-env subprocesses.

Preprocessing layers run before the pipeline in the fixed order of
``LAYERS``, whatever the argv order: --block-urls, --dedup-against,
--dedup-against-fuzzy, --quality-filter, --lm-filter,
--remove-repeated-substrings, --remove-frequent-spans, --span-dedup,
--decontaminate-against. Each enabled layer adds its fragment to the
run's ``input_tag`` ("|"-joined, in that order), and the tag is folded
into every stage's resume key. A rerun with the same layers and values
resumes from --checkpoint-dir; adding, dropping or re-valuing a layer
starts fresh. The tag strings are an on-disk contract: changing one
orphans existing checkpoint roots (pinned in tests/test_cli_layers.py).

Each enabled layer's output is materialized once, by a lineage-cutting
local checkpoint, so the next layer and the pipeline read its rows and
never re-plan the layers below it. The layer's counts are ``observe()``
aggregates filled by that same action (no job of their own); a per-reason
or per-bucket count that observes 0 is left out of the metrics. The
layer's tracked operator caches are released after its cut, and the cuts
themselves when main() returns.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from collections import ChainMap
from collections.abc import Mapping
from functools import cached_property
from typing import Callable, NamedTuple

from pyspark.sql import Observation
from pyspark.sql import functions as F

from deduplication_framework_spark.functions.quality import (
    apply_quality_filter,
)
from deduplication_framework_spark.operators import connected_components as cc
from deduplication_framework_spark.operators.lsh import release_census_caches


def _checked(cast, ok, msg):
    """argparse ``type``: ``cast`` the value, a usage error unless ``ok``."""
    def parse(s):
        v = cast(s)
        if not ok(v):
            raise argparse.ArgumentTypeError(msg)
        return v

    parse.__name__ = cast.__name__
    return parse


def _buckets(s):
    return sorted({b.strip() for b in s.split(",") if b.strip()})


def parse_args(argv=None):
    """(parser, validated args). Pure-argument validation runs here,
    BEFORE any Spark session or preprocessing layer: a bad flag must fail
    in milliseconds, not minutes into the layers' collect jobs."""
    p = argparse.ArgumentParser(prog="deduplication_framework_spark")
    p.add_argument("--config", default=None, help="YAML/JSON config (deep-merged over defaults)")
    p.add_argument("--input", default=None,
                   help="pages parquet path (or iceberg table with --catalog iceberg)")
    p.add_argument("--synthetic", type=int, default=None,
                   help="generate an N-doc synthetic pages corpus instead of --input")
    p.add_argument("--output", required=True, help="output directory (keepers/clusters/edges)")
    p.add_argument("--detectors", default="exact,minhash,simhash",
                   help="comma list from: exact,minhash,simhash,substring,suffix_array")
    p.add_argument("--checkpoint-dir", default=None,
                   help="table-store root for resumable stage commits")
    p.add_argument("--no-verify", action="store_true",
                   help="reference ours_lsh parity mode (band collision = duplicate)")
    p.add_argument("--span-dedup", nargs="?", const="\n", default=None,
                   metavar="SEP_REGEX",
                   help="Dolma/CCNet-style preprocessing: drop every exact "
                        "span (split on SEP_REGEX, default newline) whose "
                        "text occurred earlier in the corpus, then dedup the "
                        "reassembled docs; docs left empty are removed")
    p.add_argument("--span-dedup-fuzzy", action="store_true",
                   help="with --span-dedup: ALSO collapse near-duplicate "
                        "spans (MinHash/LSH + exact-Jaccard >= the config "
                        "threshold at span granularity; keeper = earliest "
                        "occurrence of each cluster)")
    p.add_argument("--remove-repeated-substrings", default=None,
                   type=_checked(int, lambda v: v >= 2, "must be >= 2"),
                   metavar="MIN_LEN",
                   help="ExactSubstr removal (Lee et al. 2022): delete "
                        "every character inside any UNALIGNED substring "
                        "of length >= MIN_LEN occurring twice anywhere in "
                        "the corpus (within-doc repeats included); docs "
                        "left empty are removed")
    p.add_argument("--remove-frequent-spans", default=None,
                   type=_checked(int, lambda v: v >= 1, "must be >= 1"),
                   metavar="MAX_COUNT",
                   help="C4/RefinedWeb-style boilerplate removal: drop "
                        "EVERY occurrence of any newline-separated span "
                        "occurring more than MAX_COUNT times corpus-wide "
                        "(keep-none, vs --span-dedup's keep-first), then "
                        "dedup the reassembled docs; docs left empty are "
                        "removed")
    p.add_argument("--dedup-against", default=None, metavar="PATH",
                   help="incremental recrawl mode: parquet of the "
                        "historical corpus (any frame with a text column); "
                        "batch docs whose md5(text) already occurs there "
                        "are dropped BEFORE the pipeline via a Bloom "
                        "prefilter + exact verify join (operators/bloom.py)")
    p.add_argument("--dedup-against-fuzzy", action="store_true",
                   help="with --dedup-against: ALSO drop batch docs with a "
                        "NEAR-duplicate in the historical corpus "
                        "(MinHash-LSH candidates + exact-Jaccard >= the "
                        "config threshold, bipartite; "
                        "operators/incremental_fuzzy.py). The exact Bloom "
                        "prefilter runs first, so only survivors are "
                        "featurized")
    p.add_argument("--fuzzy-index", default=None, metavar="DIR",
                   help="with --dedup-against-fuzzy: persist the history "
                        "feature/band/bloom index in DIR (ParquetTableStore "
                        "atomic commits). First run builds + commits it; "
                        "every later run — including after a process "
                        "restart — loads it and featurizes ZERO history "
                        "docs. A config change invalidates the index "
                        "(config-hash check) and it is rebuilt")
    p.add_argument("--fuzzy-index-admit", action="store_true",
                   help="with --fuzzy-index: after the pipeline, ADMIT the "
                        "run's keepers into the stored index (only "
                        "not-yet-indexed docs are featurized; idempotent "
                        "under replay) so the NEXT recrawl batch dedups "
                        "against them — the write half of the daily loop")
    p.add_argument("--decontaminate-against", default=None, metavar="PATH",
                   help="parquet eval/benchmark corpus (text column): REMOVE "
                        "every word span covered by a shared n-gram from the "
                        "input docs before the pipeline (span-level "
                        "decontamination); fully-covered docs are dropped")
    p.add_argument("--decontaminate-ngram", default=None,
                   type=_checked(int, lambda v: v >= 1, "must be >= 1"),
                   metavar="N",
                   help="word n-gram size for --decontaminate-against "
                        "(default 8)")
    p.add_argument("--block-urls", action="store_true",
                   help="RefinedWeb-style URL filter (functions/urls.py "
                        "host blocklist + milli-weighted word scoring): "
                        "drop pages whose url is blocked BEFORE anything "
                        "else touches them (the cheapest reject), with "
                        "per-reason drop counts in summary metrics; "
                        "requires a url column")
    p.add_argument("--quality-filter", action="store_true",
                   help="Gopher-rule quality gate (functions/quality.py "
                        "RULES at the canonical Table-A1 thresholds): drop "
                        "docs failing any rule BEFORE the pipeline, with "
                        "per-rule first-fail drop counts in summary "
                        "metrics. NOTE: synthetic word-soup corpora drop "
                        "almost entirely (stopwords_low)")
    p.add_argument("--quality-repetition", action="store_true",
                   help="with --quality-filter: ALSO apply the Table-A1 "
                        "repetition thresholds (top/duplicate n-gram "
                        "character fractions, functions/repetition.py)")
    p.add_argument("--lm-filter", default=None, metavar="BUCKETS",
                   type=_checked(
                       _buckets,
                       lambda v: v and set(v) <= {"head", "middle", "tail"},
                       "BUCKETS must be from head,middle,tail"),
                   help="CCNet-style perplexity gate (operators/lm.py): "
                        "score every page with the corpus-trained bigram "
                        "LM, bucket into head/middle/tail tertiles "
                        "(approx map-side cutoffs — the 100-TB path) and "
                        "keep only the comma-listed buckets (e.g. "
                        "'head,middle'); per-bucket counts in summary "
                        "metrics")
    p.add_argument("--soft-weights", action="store_true",
                   help="SoftDedup reweighting (operators/cluster.py::"
                        "soft_dedup_weights): per-doc sampling weight "
                        "1e6 div |cluster| over the pipeline's duplicate "
                        "clusters — the keep-everything alternative to "
                        "keeper selection; writes <output>/weights "
                        "parquet and soft_weights.* summary metrics")
    p.add_argument("--assign-splits", default=None, metavar="VAL_FRAC",
                   type=_checked(float, lambda v: 0.0 <= v <= 1.0,
                                 "VAL_FRAC must be in [0, 1]"),
                   help="leakage-safe train/val assignment over the "
                        "pipeline's duplicate clusters (operators/"
                        "splits.py): every doc follows its CLUSTER to "
                        "one side, so no (near-)dup pair crosses the "
                        "boundary; writes <output>/splits parquet and "
                        "split.n_train/n_val summary metrics")
    p.add_argument("--sweep", default=None,
                   help="comma list of thresholds: run the threshold sweep "
                        "(reference clean_batch_dataset analog) instead of a "
                        "single pipeline; writes <output>/sweep.json + one "
                        "keeper set per theta")
    p.add_argument("--sweep-eval", action="store_true",
                   help="with --sweep: add the downstream-probe metrics "
                        "(probe accuracy / vocab size / label shift) per theta")
    p.add_argument("--eval-recall", action="store_true",
                   help="append dup-pair recall vs the sequential numpy "
                        "oracle to summary metrics (collects texts to the "
                        "driver — validation-scale runs only)")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)
    if not args.input and not args.synthetic:
        p.error("one of --input / --synthetic is required")
    for flag, other in INCOMPATIBLE:
        if _given(args, flag) and _given(args, other):
            p.error(f"{flag} is not supported with {other}")
    for flag, base in REQUIRES:
        if _given(args, flag) and not _given(args, base):
            p.error(f"{flag} requires {base}")
    if args.decontaminate_ngram is None:
        args.decontaminate_ngram = 8
    return p, args


class Layer(NamedTuple):
    flag: str  # enables the layer; rejected under --sweep
    apply: Callable  # (run, pages) -> (pages, metrics)
    tag: Callable  # args -> the layer's input_tag fragment
    options: tuple = ()  # flags that only mean something with ``flag``


def _given(args, flag: str) -> bool:
    v = getattr(args, flag[2:].replace("-", "_"))
    return v is not None and v is not False


def input_tag(args) -> str:
    """The resume-key fragment of the enabled layers, in ``LAYERS`` order."""
    return "|".join(L.tag(args) for L in LAYERS if _given(args, L.flag))


def main(argv=None) -> int:
    p, args = parse_args(argv)

    from deduplication_framework_spark.config import load_pipeline_config
    from deduplication_framework_spark.plans.checkpoint import ParquetTableStore
    from deduplication_framework_spark.plans.pipeline import run_pipeline
    from deduplication_framework_spark.plans.report import render_report
    from deduplication_framework_spark.session import get_spark
    from deduplication_framework_spark.sources.pages import generate_pages

    cfg = load_pipeline_config(args.config)
    spark = get_spark(app_name="dedup-pipeline", master=args.master)

    if args.synthetic:
        pages = generate_pages(spark, args.synthetic)
    else:
        pages = spark.read.parquet(args.input)

    detectors = [d.strip() for d in args.detectors.split(",") if d.strip()]

    if args.sweep:
        from deduplication_framework_spark.plans.sweep import threshold_sweep

        thetas = [float(x) for x in args.sweep.split(",") if x.strip()]
        out = threshold_sweep(
            spark,
            pages,
            thresholds=thetas,
            detectors=detectors,
            base_cfg=cfg,
            store_root=args.checkpoint_dir,
            keepers_out=f"{args.output}/sweep_keepers",
            evaluate=args.sweep_eval,
            verify=not args.no_verify,
        )
        rows = [r.asDict() for r in out.collect()]
        os.makedirs(args.output, exist_ok=True)
        with open(f"{args.output}/sweep.json", "w") as fh:
            json.dump(rows, fh, indent=2)
        print(json.dumps({"sweep": rows}))
        return 0

    run = argparse.Namespace(
        args=args, spark=spark, cfg=cfg, error=p.error, fuzzy_src_ident=""
    )
    layer_metrics: dict = {}
    cuts: list = []
    try:
        for layer in LAYERS:
            if _given(args, layer.flag):
                pages, m = layer.apply(run, pages)
                # the cut: later layers and the pipeline read this layer's
                # rows, never its plan; its observed counts ride the action
                pages = cc._stats_bounded_local_ckpt(pages)
                cuts.append(pages)
                release_census_caches()
                layer_metrics.update(m)

        store = (
            ParquetTableStore(spark, args.checkpoint_dir)
            if args.checkpoint_dir
            else None
        )
        t0 = time.time()
        res = run_pipeline(
            spark,
            pages,
            cfg,
            detectors=detectors,
            verify=not args.no_verify,
            store=store,
            input_tag=input_tag(args),
        )
        res.metrics.update(layer_metrics)
        res.keepers.write.mode("overwrite").parquet(f"{args.output}/keepers")
        res.clusters.write.mode("overwrite").parquet(f"{args.output}/clusters")
        res.edges.write.mode("overwrite").parquet(f"{args.output}/edges")

        if args.soft_weights:
            from deduplication_framework_spark.operators.cluster import (
                soft_dedup_weights,
            )

            weights = soft_dedup_weights(
                res.clusters.select("doc_id", "cluster_id")
            )
            observed = _Observed(weights, {
                "soft_weights.n_docs": F.count("*"),
                "soft_weights.n_downweighted": F.sum(
                    (F.col("cluster_size") > 1).cast("int")
                ),
                # total mass / 1e6 ~ number of distinct content classes
                "soft_weights.mass": F.sum("weight_ppm") / 1_000_000.0,
            })
            observed.frame.write.mode("overwrite").parquet(
                f"{args.output}/weights"
            )
            res.metrics.update(observed)

        if args.assign_splits is not None:
            from deduplication_framework_spark.operators.splits import (
                leakage_safe_split,
                split_stats,
            )

            assigned = leakage_safe_split(
                res.docs, res.clusters, val_frac=args.assign_splits
            )
            assigned.write.mode("overwrite").parquet(f"{args.output}/splits")
            # both sides always reported — an empty side is 0.0, not a
            # missing key (consumers index these unconditionally)
            for side in ("train", "val"):
                res.metrics[f"split.n_{side}"] = 0.0
                res.metrics[f"split.n_groups_{side}"] = 0.0
            for r in split_stats(
                spark.read.parquet(f"{args.output}/splits")
            ).collect():
                res.metrics[f"split.n_{r.split}"] = float(r.n_docs)
                res.metrics[f"split.n_groups_{r.split}"] = float(r.n_groups)

        if args.fuzzy_index_admit:
            # the write half of the daily recrawl loop: admit this run's
            # keepers (md5-text identity, matching the history id scheme) so
            # the NEXT batch's --fuzzy-index load dedups against them
            from deduplication_framework_spark.operators.incremental_fuzzy import (
                append_fuzzy_index,
            )

            admitted = append_fuzzy_index(
                ParquetTableStore(spark, args.fuzzy_index),
                res.keepers.select(
                    F.md5("text").alias("doc_id"), "text"
                ).dropDuplicates(["doc_id"]),
                cfg,
                id_col="doc_id",
                src_ident=run.fuzzy_src_ident,
            )
            res.metrics["fuzzy_index.n_admitted"] = float(admitted["n_added"])
            res.metrics["fuzzy_index.n_total"] = float(admitted["n_total"])

        elapsed = round(time.time() - t0, 2)
        n_docs = res.docs.count()
        n_keep = res.keepers.count()
        if args.eval_recall and "minhash" in detectors:
            res.metrics.update(
                _recall_vs_oracle(res, cfg, verified=not args.no_verify)
            )
        summary = {
            "elapsed_sec": elapsed,
            "docs": n_docs,
            "keepers": n_keep,
            "cc_rounds": res.cc_rounds,
            "metrics": res.metrics,
            "config_hash": cfg.config_hash(),
        }
        print(json.dumps(summary))
        with open(f"{args.output}/summary.json", "w") as fh:
            json.dump(summary, fh, indent=2)

        report = render_report(
            res,
            detectors=detectors,
            elapsed_sec=elapsed,
            config_hash=cfg.config_hash(),
            store=store,
            n_docs=n_docs,
            n_keep=n_keep,
        )
        with open(f"{args.output}/report.md", "w") as fh:
            fh.write(report)
        return 0
    finally:
        for c in cuts:
            cc._free(c)


class _Observed(Mapping):
    """``stats`` (metric name → aggregate) observed on ``df``: ``frame``
    is ``df`` with the Observation attached, and the float metrics are
    read on first access, which must follow an action over ``frame`` (the
    layer cut, a write, a collect). Names in ``sparse`` are left out when
    0, as a census reports only the categories that occur."""

    def __init__(self, df, stats, sparse=()):
        self._obs, self._sparse = Observation(), sparse
        self.frame = df.observe(
            self._obs, *[c.alias(k) for k, c in stats.items()]
        )

    @cached_property
    def _values(self):
        row = cc._observed_row(self._obs, self.frame.sparkSession).asDict()
        return {
            k: float(v or 0) for k, v in row.items()
            if v or k not in self._sparse
        }

    def __getitem__(self, k):
        return self._values[k]

    def __iter__(self):
        return iter(self._values)

    def __len__(self):
        return len(self._values)


def _rejoin(docs, res, text, keep=None, stats=None, sparse=(), how="inner"):
    """The layers' shared tail: ``docs`` (``prepare_docs(pages)``, the
    pipeline's own doc identity; its text renamed ``_text_in``) joined to
    the per-doc layer result ``res`` on doc_id, filtered by ``keep`` (drops
    the docs the layer emptied), reshaped to the pages shape
    ``(doc_order, url, text, lang)``. Returns ``(pages, metrics)``:
    ``stats`` maps metric names to aggregates over the joined rows,
    observed below the ``keep`` filter (``sparse`` as in
    :class:`_Observed`)."""
    out = docs.withColumnRenamed("text", "_text_in").join(res, "doc_id", how)
    metrics = {}
    if stats:
        metrics = _Observed(out, stats, sparse)
        out = metrics.frame
    if keep is not None:
        out = out.filter(keep)
    return (
        out.select(
            F.col("doc_id").alias("doc_order"), "url", text.alias("text"),
            "lang",
        ),
        metrics,
    )


def _incremental_pages(run, pages):
    """pages → (pages minus docs whose md5(text) occurs in the historical
    corpus at --dedup-against, metrics). The resume key carries the PATH,
    not the content — re-point the flag (or clear the checkpoint) if the
    corpus at that path changes, the same contract --input itself has."""
    from deduplication_framework_spark.operators.bloom import (
        incremental_new_rows,
    )

    against_path = run.args.dedup_against
    old = run.spark.read.parquet(against_path)
    if "text" not in old.columns:
        raise ValueError(
            f"--dedup-against parquet at {against_path} has no text column "
            f"(columns: {old.columns})"
        )
    out, stats = incremental_new_rows(pages, old, key_col="text")
    return out, {
        "incremental.n_batch": float(stats["n_new_batch"]),
        "incremental.n_definite_new": float(stats["n_definite_new"]),
        "incremental.n_candidates": float(stats["n_candidates"]),
        # survivors of the verify join are counted by the pipeline itself
        # (summary "docs" = post-filter batch size)
    }


def _incremental_fuzzy_pages(run, pages):
    """pages → (pages minus docs with a NEAR-duplicate in the historical
    corpus, metrics). History rows get md5(text) ids, so identical history
    texts collapse to one representative. Records the history's identity
    on ``run.fuzzy_src_ident`` for --fuzzy-index-admit. The operator's
    tracked caches are released once main()'s layer cut holds the output."""
    from deduplication_framework_spark.operators.incremental_fuzzy import (
        incremental_near_new_rows,
    )
    from deduplication_framework_spark.plans.pipeline import prepare_docs

    old = (
        run.spark.read.parquet(run.args.dedup_against)
        .select(F.md5("text").alias("doc_id"), "text")
        .dropDuplicates(["doc_id"])
    )
    docs = prepare_docs(pages)
    index_kw, metrics = {}, {}
    if run.args.fuzzy_index is not None:
        # a config change OR a changed/replaced history corpus fails the
        # index's hash check and rebuilds it — over history UNION every
        # admitted text, so docs admitted via --fuzzy-index-admit survive
        # the rebuild (their features alone are not re-derivable)
        from deduplication_framework_spark.operators.incremental_fuzzy import (
            load_admitted_texts,
            load_fuzzy_index,
            save_fuzzy_index,
        )
        from deduplication_framework_spark.plans.checkpoint import (
            ParquetTableStore,
        )

        istore = ParquetTableStore(run.spark, run.args.fuzzy_index)
        # one aggregation over the (already md5-collapsed) history —
        # cheap next to the exact-Bloom layer's own history scan
        idr = old.agg(
            F.count("*").alias("n"),
            F.bit_xor(F.xxhash64("text")).alias("x"),
        ).first()
        src_ident = run.fuzzy_src_ident = f"{idr['n']}:{idr['x']}"
        idx = load_fuzzy_index(istore, run.cfg, src_ident=src_ident)
        metrics["fuzzy_index.resumed"] = float(idx is not None)
        if idx is None:
            adm = load_admitted_texts(istore)
            base = (
                old
                if adm is None
                else old.unionByName(
                    adm.select("doc_id", "text")
                ).dropDuplicates(["doc_id"])
            )
            save_fuzzy_index(
                istore, base, run.cfg, id_col="doc_id", src_ident=src_ident
            )
            idx = load_fuzzy_index(istore, run.cfg, src_ident=src_ident)
        index_kw = {k: idx[k] for k in ("old_features", "old_bands", "bloom")}
    kept, stats = incremental_near_new_rows(
        docs.select("doc_id", "text"), old, run.cfg, id_col="doc_id",
        **index_kw,
    )
    out, _ = _rejoin(docs, kept, F.col("text"))
    return out, {
        "incremental_fuzzy.n_batch": float(stats["n_new_batch"]),
        "incremental_fuzzy.n_definite_new": float(stats["n_definite_new"]),
        "incremental_fuzzy.n_candidate_pairs": float(
            stats.get("n_candidate_pairs", 0)
        ),
        "incremental_fuzzy.n_dup_docs": float(stats.get("n_dup_docs", 0)),
        **metrics,
    }


def _block_url_pages(run, pages):
    """pages → (pages whose url passes the block rules, metrics). Pure
    per-row expressions, their per-reason counts observed on the layer
    cut (functions/urls.py); the cheapest reject, so it runs first."""
    from deduplication_framework_spark.functions.urls import (
        url_block_exprs,
    )

    if "url" not in pages.columns:
        run.error("--block-urls requires a url column in the input")
    reason = F.col("_ub_reason")
    drops = {  # url_block_exprs' block reasons
        f"url_block.drop_{r}": F.count_if(reason == r)
        for r in ("host", "words")
    }
    metrics = _Observed(
        pages.withColumn("_ub_reason", url_block_exprs("url")["reason"]),
        {
            "url_block.n_in": F.count("*"),
            "url_block.n_kept": F.count_if(reason == "pass"),
            **drops,
        },
        sparse=drops,
    )
    return metrics.frame.filter(reason == "pass").drop("_ub_reason"), metrics


def _lm_filter_pages(run, pages):
    """pages → (pages whose perplexity tertile is in --lm-filter, metrics).
    Scores with the corpus-trained bigram LM and buckets via the approx
    map-side cutoffs (no global sort); empty/whitespace-only pages have
    no LM score and pass through unscored (the quality gate owns those;
    counted in ``lm_filter.n_unscored``). ``lm_filter.n_in`` counts ALL
    input pages, matching the other layers' accounting."""
    from deduplication_framework_spark.operators.lm import (
        bucket_lm_scores,
        lm_score_docs,
    )
    from deduplication_framework_spark.plans.pipeline import prepare_docs

    keep = run.args.lm_filter
    docs = prepare_docs(pages)
    scored = bucket_lm_scores(lm_score_docs(docs), approx=True)
    bucket = F.col("bucket")
    per_bucket = {  # bucket_lm_scores' tertile names
        f"lm_filter.n_{b}": F.count_if(bucket == b)
        for b in ("head", "middle", "tail")
    }
    out, observed = _rejoin(
        docs, scored.select("doc_id", "bucket"), F.col("_text_in"),
        keep=bucket.isNull() | bucket.isin(*keep),
        how="left",
        stats={
            "lm_filter.n_in": F.count("*"),
            "lm_filter.n_unscored": F.count_if(bucket.isNull()),
            **per_bucket,
        },
        sparse=per_bucket,
    )
    return out, ChainMap(
        {"lm_filter.kept_buckets": float(len(keep))}, observed
    )


def _repeated_substring_pages(pages, min_len: int):
    """pages → (pages with repeated substrings cut out, metrics), via
    ``remove_repeated_substrings`` (key_mode='hash'). Untouched docs keep
    their original text byte-identical, NULL included, although
    text_clean coalesces NULL to ''."""
    from deduplication_framework_spark.operators.spans import (
        remove_repeated_substrings,
    )
    from deduplication_framework_spark.plans.pipeline import prepare_docs

    docs = prepare_docs(pages)
    rs, stats = remove_repeated_substrings(
        docs, min_len=min_len, key_mode="hash"
    )
    out, observed = _rejoin(
        docs, rs,
        F.when(F.col("n_spans_removed") > 0, F.col("text_clean"))
        .otherwise(F.col("_text_in")),
        keep=(F.col("text_clean") != "") | (F.col("n_chars") == 0),
        stats={
            "repeated_substrings.n_removed_chars": F.sum("n_removed_chars"),
            "repeated_substrings.n_spans_removed": F.sum("n_spans_removed"),
            "repeated_substrings.n_docs_touched": F.sum(
                (F.col("n_spans_removed") > 0).cast("long")
            ),
            "repeated_substrings.n_docs_emptied": F.sum(
                ((F.col("n_chars") > 0) & (F.col("text_clean") == ""))
                .cast("long")
            ),
        },
    )
    return out, ChainMap(
        {"repeated_substrings.n_hot_grams": float(stats["n_hot_grams"])},
        observed,
    )


def _span_pages(run, pages, prefix: str):
    """pages → (pages with span surgery applied, metrics under ``prefix``):
    ``frequent_spans`` (keep-none) or ``span_dedup`` (keep-first). Docs
    whose every span was removed are DROPPED and counted in
    ``n_docs_emptied``; docs with no non-empty spans at all pass through
    unchanged — they were not deduped, and the non-span pipeline path
    keeps a representative for them too. Survivor spans re-join with a
    plain newline (the --span-dedup separator may be a regex)."""
    from deduplication_framework_spark.operators.spans import (
        dedup_spans,
        near_dedup_spans,
        remove_frequent_spans,
    )
    from deduplication_framework_spark.plans.pipeline import prepare_docs

    docs = prepare_docs(pages)
    extra = {}
    if prefix == "frequent_spans":
        sd, stats = remove_frequent_spans(
            docs, max_count=run.args.remove_frequent_spans
        )
        extra[f"{prefix}.n_hot_spans"] = float(stats["n_hot_spans"])
    elif run.args.span_dedup_fuzzy:
        sd, _info = near_dedup_spans(
            docs, sep=run.args.span_dedup, cfg=run.cfg
        )
    else:
        sd = dedup_spans(docs, sep=run.args.span_dedup)
    out, observed = _rejoin(
        docs, sd,
        F.when(F.col("n_spans") == 0, F.col("_text_in"))
        .otherwise(F.col("text_dedup")),
        keep=(F.col("n_kept") > 0) | (F.col("n_spans") == 0),
        stats={
            f"{prefix}.n_spans": F.sum("n_spans"),
            f"{prefix}.n_spans_kept": F.sum("n_kept"),
            f"{prefix}.n_docs_emptied": F.sum(
                ((F.col("n_spans") > 0) & (F.col("n_kept") == 0)).cast("long")
            ),
        },
    )
    return out, ChainMap(extra, observed)


def _decontaminate_pages(run, pages):
    """pages → (pages with eval-overlapping word spans removed, metrics).
    Docs whose every word is covered are DROPPED and counted in
    ``n_docs_emptied``. The operator's tracked caches are released once
    main()'s layer cut holds the output."""
    from deduplication_framework_spark.operators.decontaminate import (
        remove_contaminated_spans,
    )
    from deduplication_framework_spark.plans.pipeline import prepare_docs

    eval_path = run.args.decontaminate_against
    ev = run.spark.read.parquet(eval_path)
    if "text" not in ev.columns:
        raise ValueError(
            f"--decontaminate-against parquet at {eval_path} has no text "
            f"column (columns: {ev.columns})"
        )
    docs = prepare_docs(pages)
    res, stats = remove_contaminated_spans(
        docs.select("doc_id", "text"), ev, n=run.args.decontaminate_ngram
    )
    out, observed = _rejoin(
        docs, res, F.col("text_clean"),
        keep=F.col("n_removed") < F.col("n_words"),
        stats={
            "decontaminate.n_words_removed": F.sum("n_removed"),
            "decontaminate.n_docs_emptied": F.sum(
                ((F.col("n_removed") > 0)
                 & (F.col("n_removed") == F.col("n_words"))).cast("long")
            ),
        },
    )
    return out, ChainMap(
        {
            "decontaminate.n_eval_grams": float(stats["n_eval_grams"]),
            "decontaminate.n_docs_hit": float(stats["n_contaminated"]),
        },
        observed,
    )


def _recall_vs_oracle(res, cfg, verified: bool) -> dict:
    """Dup-pair recall of the pipeline's clusters vs the numpy oracle
    (BASELINE.json's >=0.99 criterion), surfaced into summary.json. Oracle
    choice and the honesty analysis live in
    ``oracle.numpy_oracle.minhash_recall_evidence`` (shared with bench.py
    so the two surfaced metrics cannot diverge)."""
    from deduplication_framework_spark.oracle import numpy_oracle as O

    rows = sorted(
        res.docs.select("doc_id", "text").collect(), key=lambda r: r.doc_id
    )
    txts = [r.text for r in rows]
    pos = {r.doc_id: i for i, r in enumerate(rows)}
    labels = {r.doc_id: r.cluster_id for r in res.clusters.collect()}
    our_pairs = {
        (min(pos[a], pos[b]), max(pos[a], pos[b]))
        for a, b in O.clusters_to_pairs(labels)
        if a in pos and b in pos
    }
    return O.minhash_recall_evidence(txts, our_pairs, cfg, verified)


# The preprocessing chain, in run order: cheapest rejects first, the
# recrawl filters on the text as crawled, span surgery after the doc-level
# gates, decontamination last so benchmark text never reaches the
# detectors. Changing a tag string orphans existing --checkpoint-dir roots.
LAYERS = (
    Layer("--block-urls", _block_url_pages, lambda a: "block_urls:1"),
    Layer("--dedup-against", _incremental_pages,
          lambda a: f"dedup_against:{a.dedup_against}",
          options=("--dedup-against-fuzzy",)),
    Layer("--dedup-against-fuzzy", _incremental_fuzzy_pages,
          lambda a: f"dedup_against_fuzzy:{a.dedup_against}",
          options=("--fuzzy-index",)),
    Layer("--quality-filter",
          lambda run, pages: apply_quality_filter(
              pages, repetition=run.args.quality_repetition),
          lambda a: f"quality:{int(a.quality_repetition)}",
          options=("--quality-repetition",)),
    Layer("--lm-filter", _lm_filter_pages,
          lambda a: f"lm_filter:{','.join(a.lm_filter)}"),
    Layer("--remove-repeated-substrings",
          lambda run, pages: _repeated_substring_pages(
              pages, run.args.remove_repeated_substrings),
          lambda a: f"repeated_substrings:{a.remove_repeated_substrings}"),
    Layer("--remove-frequent-spans",
          lambda run, pages: _span_pages(run, pages, "frequent_spans"),
          lambda a: f"frequent_spans:{a.remove_frequent_spans}"),
    Layer("--span-dedup",
          lambda run, pages: _span_pages(run, pages, "span_dedup"),
          lambda a: ("span_dedup_fuzzy" if a.span_dedup_fuzzy
                     else "span_dedup") + f":{a.span_dedup}",
          options=("--span-dedup-fuzzy",)),
    Layer("--decontaminate-against", _decontaminate_pages,
          lambda a: (f"decontaminate:{a.decontaminate_against}"
                     f":{a.decontaminate_ngram}"),
          options=("--decontaminate-ngram",)),
)

# (flag, the flag it needs): a usage error when given without it
REQUIRES = [(o, L.flag) for L in LAYERS for o in L.options] + [
    ("--fuzzy-index-admit", "--fuzzy-index"),
    ("--sweep-eval", "--sweep"),
]
# (flag, the mode it cannot join): the sweep runs bare pipelines only,
# with no preprocessing layer, post-pipeline step or recall report
INCOMPATIBLE = [
    (f, "--sweep")
    for f in [L.flag for L in LAYERS]
    + ["--assign-splits", "--soft-weights", "--eval-recall"]
]


if __name__ == "__main__":
    sys.exit(main())
