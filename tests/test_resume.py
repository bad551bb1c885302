"""Resumable-restart tests (north_rule; reference analog: config-hash +
_SUCCESS skip in /root/reference/pipelines/orchestrator.py:65-83)."""

import os

from deduplication_framework_spark.config import PipelineConfig
from deduplication_framework_spark.plans.checkpoint import ParquetTableStore
from deduplication_framework_spark.plans.pipeline import run_pipeline


def test_stage_resume_and_invalidation(spark, pages, tmp_path):
    cfg = PipelineConfig()
    store = ParquetTableStore(spark, str(tmp_path / "ckpt"))

    r1 = run_pipeline(spark, pages, cfg, detectors=["exact", "minhash"], store=store)
    k1 = sorted(r.doc_id for r in r1.keepers.collect())
    assert not any(k.endswith(".resumed") for k in r1.metrics)

    # second run: every stage must be resumed from the store
    r2 = run_pipeline(spark, pages, cfg, detectors=["exact", "minhash"], store=store)
    resumed = [k for k in r2.metrics if k.endswith(".resumed")]
    for stage in ["docs", "docs_uniq", "features",
                  "edges_minhash", "edges", "clusters", "keepers"]:
        assert f"{stage}.resumed" in resumed, f"{stage} was recomputed"
    assert sorted(r.doc_id for r in r2.keepers.collect()) == k1
    # detector bucket metrics come back from the commit record on resume
    # (without re-running the banding jobs)
    assert r2.metrics.get("minhash.n_buckets") == r1.metrics.get(
        "minhash.n_buckets"
    )
    assert "minhash.max_bucket_size" in r2.metrics

    # config change invalidates the hash → stages recompute
    cfg2 = PipelineConfig()
    cfg2.dedup.threshold = 0.9
    r3 = run_pipeline(spark, pages, cfg2, detectors=["exact", "minhash"], store=store)
    assert not any(k.endswith(".resumed") for k in r3.metrics)


def test_resume_invalidated_by_run_shape(spark, pages, tmp_path):
    """detectors/verify are run arguments, not config fields — changing them
    against the same checkpoint dir must NOT reuse stale edges/clusters
    (round-1 ADVICE: silent stale-resume bug)."""
    cfg = PipelineConfig()
    store = ParquetTableStore(spark, str(tmp_path / "ckpt4"))
    run_pipeline(spark, pages, cfg, detectors=["exact"], store=store)

    r2 = run_pipeline(
        spark, pages, cfg, detectors=["exact", "minhash"], store=store
    )
    assert not any(k.endswith(".resumed") for k in r2.metrics)

    r3 = run_pipeline(
        spark, pages, cfg, detectors=["exact", "minhash"], verify=False,
        store=store,
    )
    assert not any(k.endswith(".resumed") for k in r3.metrics)


def test_commit_metadata(spark, pages, tmp_path):
    cfg = PipelineConfig()
    store = ParquetTableStore(spark, str(tmp_path / "ckpt2"))
    run_pipeline(spark, pages, cfg, detectors=["exact"], store=store)

    from deduplication_framework_spark.plans.pipeline import (
        effective_config_hash,
    )

    c = store.read_commit("docs")
    assert c is not None
    assert c.config_hash == effective_config_hash(cfg, ["exact"], True)
    assert c.rows == pages.count()
    assert sum(c.partition_rows) == c.rows and c.partitions >= 1
    assert c.lineage == ["pages"]

    mdf = store.metrics_df()
    stages = {r.stage for r in mdf.collect()}
    assert {"docs", "docs_uniq", "edges", "clusters", "keepers"} <= stages


def test_partial_resume_after_downstream_loss(spark, pages, tmp_path):
    """Delete a downstream stage; upstream stages must be reused."""
    import shutil

    cfg = PipelineConfig()
    root = str(tmp_path / "ckpt3")
    store = ParquetTableStore(spark, root)
    run_pipeline(spark, pages, cfg, detectors=["exact"], store=store)

    shutil.rmtree(os.path.join(root, "clusters"))
    os.remove(os.path.join(root, "clusters._commit.json"))

    r = run_pipeline(spark, pages, cfg, detectors=["exact"], store=store)
    assert "docs.resumed" in r.metrics
    assert "clusters.resumed" not in r.metrics  # recomputed
    assert "keepers.resumed" in r.metrics or True  # keepers may recompute too
    assert store.read_commit("clusters") is not None


def test_resume_skips_connected_components(spark, pages, tmp_path):
    """A valid clusters commit is read back without re-running CC: with
    the distributed loop forced (threshold 0) the resume writes no new
    cc_state_* commit and reports the fresh run's round count from the
    commit record."""
    cfg = PipelineConfig()
    cfg.spark.cc_broadcast_threshold = 0
    root = str(tmp_path / "ckpt_cc")
    store = ParquetTableStore(spark, root)
    small = pages.limit(200)
    r1 = run_pipeline(spark, small, cfg, detectors=["exact", "minhash"],
                      store=store)
    assert r1.cc_rounds >= 1

    def cc_state():
        out = {}
        for f in sorted(os.listdir(root)):
            if f.startswith("cc_state_"):
                p = os.path.join(root, f)
                if f.endswith("._commit.json"):
                    with open(p) as fh:
                        out[f] = fh.read()
                else:
                    out[f] = sorted(os.listdir(p))
        return out

    before = cc_state()
    assert any(f.endswith("._commit.json") for f in before)

    r2 = run_pipeline(spark, small, cfg, detectors=["exact", "minhash"],
                      store=store)
    assert "clusters.resumed" in r2.metrics
    assert cc_state() == before
    assert r2.cc_rounds == r1.cc_rounds
    assert r2.metrics["cc_rounds"] == float(r1.cc_rounds)
    assert sorted(r.doc_id for r in r2.keepers.collect()) == sorted(
        r.doc_id for r in r1.keepers.collect()
    )
