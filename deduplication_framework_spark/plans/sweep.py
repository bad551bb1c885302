"""Threshold-sweep harness (reference analog:
/root/reference/text/method/clean_batch_dataset.py:49-109 — dedup the corpus
at a grid of thresholds and persist each cleaned set; the reference then
judges each threshold by training a classifier per cleaned set and comparing
accuracy — text/method/classification_batch.py:15-111 and
classification_comparison.py:191-340).

Spark form: one pipeline run per θ (each θ gets its own store dir when a
store root is attached — the resume hash folds in the θ-dependent config,
so RE-runs of the same sweep resume per θ, but featurization is NOT shared
across θ within one sweep; sharing the θ-independent fused feature stage
across thresholds is a known round-3 optimization), with a
summary DataFrame of dedup rates per threshold (the reference's
`README.md:26-30` dedup-rate table shape). ``evaluate=True`` adds the
downstream-quality proxy per θ: a seeded MLlib logistic probe (hashed token
features → the corpus ``lang`` label) trained on that θ's keepers and scored
on a fixed held-out slice of the ORIGINAL corpus, plus distinct-vocabulary
size and the total-variation shift of the label distribution keepers-vs-
original — the sandbox stand-in for the reference's train-a-model-per-
cleaned-set loop."""

from __future__ import annotations

from dataclasses import replace
from typing import Dict, List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deduplication_framework_spark.config import PipelineConfig
from deduplication_framework_spark.operators import connected_components as cc
from deduplication_framework_spark.operators.lsh import _cut
from deduplication_framework_spark.plans.pipeline import run_pipeline
from deduplication_framework_spark.session import local_frame


def downstream_probe(
    train_docs: DataFrame,
    eval_docs: DataFrame,
    label_col: str = "lang",
    num_features: int = 4096,
) -> float:
    """Train a logistic probe (whitespace tokens → HashingTF → LR) on
    ``train_docs`` and return accuracy on the FULL ``eval_docs`` slice.

    Labels are indexed by a FIXED mapping over train ∪ eval (sorted label
    order), never a per-train StringIndexer with handleInvalid="skip": a
    threshold whose keepers lose a whole label class would otherwise have
    those eval rows silently dropped, making destructive thresholds score
    HIGHER — the exact comparison the sweep exists to make. An eval row
    whose label the probe never saw simply counts as wrong.

    Deterministic for fixed inputs; the metric is comparative across
    thresholds, not an absolute benchmark."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import HashingTF, Tokenizer

    spark = train_docs.sparkSession
    labels = sorted(
        {r[0] for r in train_docs.select(label_col).distinct().collect()}
        | {r[0] for r in eval_docs.select(label_col).distinct().collect()}
    )
    mapping = local_frame(
        spark,
        f"{label_col} string, label double",
        [(l, float(i)) for i, l in enumerate(labels)],
    )
    train = train_docs.select("text", label_col).join(mapping, label_col)
    evald = eval_docs.select("text", label_col).join(mapping, label_col)

    pipe = Pipeline(
        stages=[
            Tokenizer(inputCol="text", outputCol="_toks"),
            HashingTF(
                inputCol="_toks", outputCol="features", numFeatures=num_features
            ),
            LogisticRegression(maxIter=20, regParam=0.01),
        ]
    )
    model = pipe.fit(train)
    pred = model.transform(evald)
    n = pred.count()
    if not n:
        return 0.0
    hits = pred.filter(F.col("prediction") == F.col("label")).count()
    return hits / n


def _label_dist(df: DataFrame, label_col: str) -> Dict[str, float]:
    rows = df.groupBy(label_col).count().collect()
    tot = sum(r["count"] for r in rows) or 1
    return {r[0]: r["count"] / tot for r in rows}


def _vocab_size(df: DataFrame) -> int:
    return (
        df.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
        .count()
    )


def threshold_sweep(
    spark: SparkSession,
    pages: DataFrame,
    thresholds: Sequence[float] = (0.1, 0.3, 0.5, 0.7, 0.8, 0.9),
    detectors: List[str] = ("exact", "minhash"),
    base_cfg: Optional[PipelineConfig] = None,
    store_root: Optional[str] = None,
    keepers_out: Optional[str] = None,
    evaluate: bool = False,
    label_col: str = "lang",
    verify: bool = True,
) -> DataFrame:
    """→ DataFrame(threshold, n_docs, n_keepers, n_duplicates, dedup_rate
    [, probe_accuracy, vocab_size, label_tv_shift]).

    When ``keepers_out`` is set, each threshold's keeper set is persisted to
    ``<keepers_out>/theta=<t>`` (the reference writes one cleaned dataset
    per threshold for downstream training). ``evaluate=True`` adds the
    downstream proxy columns: probe accuracy on a fixed held-out slice
    (doc_id % 5 == 0, never trained on), keeper distinct-vocab size, and
    the TV distance between keeper and original label distributions."""
    base_cfg = base_cfg or PipelineConfig()
    rows = []
    n_docs = None
    eval_docs = None
    orig_dist = None
    for theta in thresholds:
        cfg = PipelineConfig(
            embedding=replace(base_cfg.embedding),
            dedup=replace(base_cfg.dedup, threshold=float(theta)),
            suffix=replace(base_cfg.suffix),
            spark=replace(base_cfg.spark),
        )
        store = None
        if store_root:
            from deduplication_framework_spark.plans.checkpoint import (
                ParquetTableStore,
            )

            store = ParquetTableStore(spark, f"{store_root}/theta_{theta}")
        res = run_pipeline(
            spark, pages, cfg, detectors=list(detectors), store=store,
            verify=verify, collect_stats=False,
        )
        if n_docs is None:
            n_docs = res.docs.count()
            if evaluate:
                # read at every threshold, across the release each later
                # run_pipeline makes: a cut freed here, not registered
                eval_docs = cc._stats_bounded_local_ckpt(
                    res.docs.filter(F.col("doc_id") % 5 == 0)
                )
                orig_dist = _label_dist(res.docs, label_col)
        # count + write + eval reuse one pass
        keep, n = _cut(res.keepers, n=F.count("*"))
        n_keep = n["n"]
        if keepers_out:
            keep.write.mode("overwrite").parquet(
                f"{keepers_out}/theta={theta}"
            )
        row = (
            float(theta),
            n_docs,
            n_keep,
            n_docs - n_keep,
            round((n_docs - n_keep) / n_docs, 6) if n_docs else 0.0,
        )
        if evaluate:
            train = keep.filter(F.col("doc_id") % 5 != 0)
            acc = downstream_probe(train, eval_docs, label_col=label_col)
            keep_dist = _label_dist(keep, label_col)
            tv = 0.5 * sum(
                abs(keep_dist.get(k, 0.0) - orig_dist.get(k, 0.0))
                for k in set(keep_dist) | set(orig_dist)
            )
            row = row + (round(acc, 6), _vocab_size(keep), round(tv, 6))
        cc._free(keep)
        rows.append(row)
    if eval_docs is not None:
        cc._free(eval_docs)
    schema = (
        "threshold double, n_docs long, n_keepers long, n_duplicates long, "
        "dedup_rate double"
    )
    if evaluate:
        schema += ", probe_accuracy double, vocab_size long, label_tv_shift double"
    return local_frame(spark, schema, rows)
