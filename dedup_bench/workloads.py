"""The benchmark's workloads. Each one prepares its inputs from a seed,
runs one closed-loop operation at a time, checks the operation's output,
and has a traced variant that calls the program's public functions one
layer at a time under the tracer's spans."""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time
from typing import Dict, List

import numpy as np
import pandas as pd

from deduplication_framework_spark.config import PipelineConfig
from deduplication_framework_spark.functions import kernels as K
from deduplication_framework_spark.functions.text import make_fused_features_udf
from deduplication_framework_spark.operators.cluster import (
    clusters_from_edges,
    keepers as keepers_op,
)
from deduplication_framework_spark.operators.connected_components import (
    _stats_bounded_local_ckpt,
    connected_components,
)
from deduplication_framework_spark.operators.exact import exact_dedup
from deduplication_framework_spark.operators.lsh import (
    candidate_pairs,
    minhash_bands,
    release_census_caches,
)
from deduplication_framework_spark.operators.verify import verify_jaccard
from deduplication_framework_spark.oracle.numpy_oracle import UnionFind
from deduplication_framework_spark.plans.checkpoint import ParquetTableStore
from deduplication_framework_spark.plans.pipeline import prepare_docs, run_pipeline
from deduplication_framework_spark.sources.pages import generate_pages_pdf
from deduplication_framework_spark.streaming.stateful import stream_text_candidates

DEFAULT_SEED = 1


def _du_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 2**20


def _materialize(df):
    """Persist and count, so the work lands in the caller's span."""
    df = df.persist()
    return df, df.count()


def fingerprint(pairs) -> str:
    """sha256 over sorted (doc_id, cluster_id) pairs."""
    h = hashlib.sha256()
    for a, b in sorted(pairs):
        h.update(f"{a},{b};".encode())
    return h.hexdigest()


class TracedStore:
    """Delegates to a ParquetTableStore and records every write, read and
    is_valid call as a span of ``layer`` with the bytes a write left on
    disk."""

    def __init__(self, store: ParquetTableStore, tracer, layer: str = "checkpoint"):
        self.store, self.tracer, self.layer = store, tracer, layer

    def write(self, df, name, config_hash, lineage=None, metrics=None):
        with self.tracer.span(self.layer) as c:
            out = self.store.write(df, name, config_hash, lineage, metrics)
            c["writes"] = 1
            c["bytes_written_mb"] = _du_mb(self.store._path(name))
        return out

    def read(self, name):
        with self.tracer.span(self.layer) as c:
            c["reads"] = 1
            return self.store.read(name)

    def is_valid(self, name, config_hash):
        with self.tracer.span(self.layer):
            return self.store.is_valid(name, config_hash)

    def __getattr__(self, name):
        return getattr(self.store, name)


class Workload:
    """Shared shape: ``prepare()`` builds the inputs (timed as set-up),
    ``op(i, tracer)`` runs one operation and returns its result,
    ``check(res)`` returns the list of failed checks, ``traced(i, tracer)``
    runs the traced variant and returns (result, layer counters), and
    ``check_traced(untraced, traced)`` compares the two."""

    name = ""
    n_docs = 0

    def __init__(self, spark, work: str, seed: int, expected: dict):
        self.spark, self.work, self.seed = spark, work, seed
        # recorded values only hold for the seed they were recorded with
        self.expected = expected.get(self.name, {}) if seed == DEFAULT_SEED else {}
        self.nproc = spark.sparkContext.defaultParallelism

    def rows_per_op(self) -> int:
        return self.n_docs

    def counters(self, res) -> Dict[str, float]:
        """Layer counters known only after ``check`` read the output."""
        return {}

    def _pages(self):
        """The seeded synthetic corpus with its truth columns, generated on
        the driver (the same rows ``generate_pages`` makes per task)."""
        return generate_pages_pdf(self.n_docs, seed=self.seed)


class CheckpointResume(Workload):
    """run_pipeline with the exact and minhash detectors and the default
    sha1 family on a fresh table store, then a resume on the same store,
    then the distributed CC loop on a seeded chain graph.

    The pipeline's own edge graph is small enough for the driver
    union-find, and its diameter, so the CC loop's round count, swings
    with the seed; so does a random graph's (3 or 4 rounds). The CC loop
    therefore runs on near-duplicate chains: the seed shuffles the vertex
    ids into chains of ``chain_len`` whose ids rise along the chain, and
    since the loop only compares ids, every seed takes the same 3 rounds
    (any length from 32 to 128 does)."""

    name = "checkpoint_resume"
    n_docs = 400
    detectors = ("exact", "minhash")
    n_vertices = 1280
    chain_len = 64

    def prepare(self):
        pdf = self._pages()
        path = os.path.join(self.work, "pages")
        cols = ["url", "warc_ts", "html", "text", "lang", "doc_order"]
        self.spark.createDataFrame(pdf[cols]).repartition(self.nproc).write.mode(
            "overwrite").parquet(path)
        self.pages = self.spark.read.parquet(path)
        exact = pdf[pdf.dup_class == "exact"]
        self.exact_groups = [
            [int(d) for d in g] for g in exact.groupby("group_id").doc_order.apply(list)]
        self.cfg = PipelineConfig()

        ids = np.random.RandomState(self.seed).permutation(self.n_vertices)
        chains = np.sort(ids.reshape(-1, self.chain_len), axis=1)
        src, dst = chains[:, :-1].ravel(), chains[:, 1:].ravel()
        gpath = os.path.join(self.work, "graph")
        self.spark.createDataFrame(pd.DataFrame({"src": src, "dst": dst})).repartition(
            self.nproc).write.mode("overwrite").parquet(gpath)
        self.graph = self.spark.read.parquet(gpath)
        uf = UnionFind()
        for a, b in zip(src.tolist(), dst.tolist()):
            uf.union(a, b)
        self.graph_labels = uf.labels(sorted(set(src.tolist()) | set(dst.tolist())))

    def _root(self, i) -> str:
        return os.path.join(self.work, "stores", str(i))

    def _run(self, store):
        r = run_pipeline(self.spark, self.pages, self.cfg,
                         detectors=list(self.detectors), store=store)
        return r, {row.doc_id for row in r.keepers.select("doc_id").collect()}

    def op(self, i, tracer=None):
        root = self._root(i)
        t0 = time.time()
        fresh, keep = self._run(ParquetTableStore(self.spark, root))
        t1 = time.time()
        store = ParquetTableStore(self.spark, root)
        if tracer is not None:
            store = TracedStore(store, tracer, layer="checkpoint.resume")
        _, keep_resumed = self._run(store)
        t2 = time.time()
        labels, rounds = connected_components(self.graph)
        labels = {r.doc_id: r.cluster_id for r in labels.collect()}
        res = {"keepers": keep, "keepers_resumed": keep_resumed,
               "fresh_s": t1 - t0, "resume_s": t2 - t1,
               "cc_s": time.time() - t2, "rounds": rounds,
               "graph_labels": labels, "root": root}
        # read back for the checks outside the timed region
        res["clusters_fn"] = lambda: [(r.doc_id, r.cluster_id)
                                      for r in fresh.clusters.collect()]
        res["edges_fn"] = lambda: [(r.src, r.dst) for r in
                                   fresh.edges.select("src", "dst").collect()]
        return res

    def check(self, res) -> List[str]:
        bad = []
        keep = res["keepers"]
        clusters = res["clusters_fn"]()
        label = dict(clusters)
        for g in self.exact_groups:
            if len({label[d] for d in g}) != 1 or len(keep.intersection(g)) > 1:
                bad.append(f"exact group {sorted(g)} did not collapse")
                break
        if res["keepers_resumed"] != keep:
            bad.append("resumed keepers differ from the fresh run's")
        uf = UnionFind()
        for a, b in res["edges_fn"]():
            uf.union(int(a), int(b))
        oracle = uf.labels([d for d, _ in clusters])
        if label != oracle:
            bad.append("CC labels differ from the driver union-find")
        if len(set(oracle.values())) != len(keep):
            bad.append("keeper count differs from the component count")
        if res["graph_labels"] != self.graph_labels:
            bad.append("random-graph CC labels differ from the union-find")
        res["fingerprint"] = fingerprint(clusters)
        exp = self.expected.get("cluster_fingerprint")
        if exp and exp != res["fingerprint"]:
            bad.append("cluster fingerprint differs from the recorded one")
        shutil.rmtree(res["root"], ignore_errors=True)
        return bad

    def traced(self, i, tr):
        """run_pipeline's store path composed layer by layer: each layer's
        output is materialized inside its span, then committed inside a
        checkpoint span."""
        cfg, root = self.cfg, self._root(f"t{i}")
        store = TracedStore(ParquetTableStore(self.spark, root), tr)
        ch = "traced"
        out: Dict[str, float] = {}
        with tr.span("pipeline"):
            with tr.span("exact", rows_in=self.n_docs) as c:
                docs, _ = _materialize(prepare_docs(self.pages))
                docs = store.write(docs, "docs", ch)
                uniq, exact_edges = exact_dedup(docs, hash_fn="md5")
                uniq, n_uniq = _materialize(uniq)
                exact_edges, _ = _materialize(exact_edges)
                c["rows_out"] = n_uniq
                uniq = store.write(uniq, "docs_uniq", ch)
            with tr.span("featurize", rows_in=n_uniq) as c:
                udf = make_fused_features_udf(
                    cfg.embedding, cfg.dedup, with_minhash=True,
                    with_lsh_feats=True)
                feats, c["rows_out"] = _materialize(
                    uniq.select("doc_id", udf("text").alias("f"))
                    .select("doc_id", "f.*"))
            feats = store.write(feats, "features", ch)
            with tr.span("lsh", rows_in=n_uniq) as c:
                b, r = K.optimal_band_param(cfg.dedup.threshold, cfg.dedup.num_perm)
                pairs, mstats = candidate_pairs(
                    minhash_bands(feats.select("doc_id", "sig"), b, r),
                    bucket_cap=cfg.spark.bucket_cap)
                pairs, n_pairs = _materialize(pairs)
                stats = mstats.first()
                c["rows_out"] = n_pairs
                out["lsh.candidate_pairs"] = n_pairs
                out["lsh.max_bucket"] = float(stats.max_bucket_size or 0)
                out["lsh.capped_band_rows"] = float(stats.n_capped_band_rows or 0)
            with tr.span("verify", rows_in=n_pairs) as c:
                mh_edges, n_mh = _materialize(verify_jaccard(
                    pairs, feats.select("doc_id", "shingles"),
                    cfg.dedup.threshold))
                c["rows_out"] = n_mh
                out["verify.yield"] = n_mh / max(1, n_pairs)
            mh_edges = store.write(mh_edges, "edges_minhash", ch)
            with tr.span("cluster") as c:
                edges, c["rows_in"] = _materialize(
                    exact_edges.unionByName(mh_edges).select("src", "dst", "sim"))
                edges = store.write(edges, "edges", ch)
                clusters, _ = clusters_from_edges(
                    docs, edges.select("src", "dst"),
                    driver_threshold=cfg.spark.cc_broadcast_threshold)
                clusters, _ = _materialize(clusters)
                clusters = store.write(clusters, "clusters", ch)
                keep, c["rows_out"] = _materialize(keepers_op(docs, clusters))
            keep = store.write(keep, "keepers", ch)
            ids = {row.doc_id for row in keep.select("doc_id").collect()}
            stamps, round_stats = [], []

            def cc_ckpt(df):
                """The loop's default checkpoint, stamping each call."""
                df = _stats_bounded_local_ckpt(df)
                stamps.append(time.time())
                return df

            with tr.span("connected_components", rows_in=len(self.graph_labels)) as cc:
                labels, rounds = connected_components(
                    self.graph, checkpoint=cc_ckpt, round_stats=round_stats)
                labels = {r.doc_id: r.cluster_id for r in labels.collect()}
                cc["rows_out"] = len(labels)
            # the first two checkpoints hold the symmetric edge list and the
            # initial labels; one more follows each round
            out["connected_components.rounds"] = rounds
            out["connected_components.round_wall_s"] = statistics.median(
                b - a for a, b in zip(stamps[1:], stamps[2:]))
            out["connected_components.changed_labels"] = sum(
                s["n_changed"] for s in round_stats)
        release_census_caches()
        shutil.rmtree(root, ignore_errors=True)
        return {"keepers": ids, "graph_labels": labels}, out

    def check_traced(self, untraced, traced) -> List[str]:
        bad = []
        if untraced["keepers"] != traced["keepers"]:
            bad.append("traced keepers differ from run_pipeline's")
        if traced["graph_labels"] != self.graph_labels:
            bad.append("traced random-graph CC labels differ from the union-find")
        return bad


class StreamMicrobatch(Workload):
    """The corpus arrives as two parquet micro-batches, round-robin by
    doc order so near-duplicates span batches, into
    ``stream_text_candidates`` with a memory sink, once per detector."""

    name = "stream_microbatch"
    n_docs = 400
    n_batches = 2
    detectors = ("minhash", "simhash")

    def rows_per_op(self) -> int:
        return self.n_docs * len(self.detectors)

    def prepare(self):
        pdf = self._pages()[["doc_order", "text"]]
        self.src = os.path.join(self.work, "stream")
        for b in range(self.n_batches):
            (self.spark.createDataFrame(pdf[pdf.doc_order % self.n_batches == b])
             .coalesce(1).write.mode("overwrite")
             .parquet(os.path.join(self.src, f"b{b}")))
        self.ids = set(int(d) for d in pdf.doc_order)
        self.cfg = PipelineConfig()

    def _queries(self, tag: str) -> Dict[str, tuple]:
        """One streaming query per detector over the same source, one after
        the other; returns {detector: (sink view, recentProgress)}."""
        out = {}
        for det in self.detectors:
            name = f"edges_{det}_{tag}"
            stream = (self.spark.readStream.schema("doc_order long, text string")
                      .option("maxFilesPerTrigger", 1)
                      .parquet(os.path.join(self.src, "b*")))
            q = (stream_text_candidates(stream, cfg=self.cfg, detector=det)
                 .writeStream.format("memory").queryName(name)
                 .outputMode("append")
                 .option("checkpointLocation",
                         os.path.join(self.work, "stream_ckpt", name))
                 .start())
            try:
                q.processAllAvailable()
            finally:
                q.stop()
            out[det] = (name, q.recentProgress)
        return out

    def op(self, i, tracer=None):
        return {"queries": self._queries(str(i))}

    def check(self, res) -> List[str]:
        bad = []
        for det, (view, _) in res["queries"].items():
            extra = (", max(hamming) AS hmax" if det == "simhash"
                     else ", 0 AS hmax")
            s = self.spark.sql(
                f"SELECT count(DISTINCT struct(src, dst)) AS edges,"
                f" coalesce(max(n_state_evicted), 0) AS ev,"
                f" sum(CAST(src >= dst AS INT)) AS bad_order{extra}"
                f" FROM {view} WHERE src IS NOT NULL").first()
            ends = {r.v for r in self.spark.sql(
                f"SELECT src AS v FROM {view} WHERE src IS NOT NULL UNION"
                f" SELECT dst FROM {view} WHERE dst IS NOT NULL").collect()}
            res.setdefault("edges", {})[det] = s.edges
            if s.edges == 0:
                bad.append(f"{det}: no candidate edges")
            if s.ev:
                bad.append(f"{det}: {s.ev} state evictions")
            if s.bad_order:
                bad.append(f"{det}: edges with src >= dst")
            if (s.hmax or 0) > self.cfg.dedup.simhash_dist:
                bad.append(f"{det}: hamming {s.hmax} over the limit")
            if not ends <= self.ids:
                bad.append(f"{det}: edge endpoint outside the input")
            exp = self.expected.get(f"{det}_edges")
            if exp is not None and exp != s.edges:
                bad.append(f"{det}: {s.edges} edges, recorded {exp}")
            self.spark.catalog.dropTempView(view)
        shutil.rmtree(os.path.join(self.work, "stream_ckpt"), ignore_errors=True)
        return bad

    def traced(self, i, tr):
        out: Dict[str, float] = {}
        with tr.span("pipeline"):
            with tr.span("stateful"):
                queries = self._queries(f"t{i}")
        out["stateful.rows_in"] = sum(
            x["numInputRows"] for _, prog in queries.values() for x in prog)
        for det, (_, prog) in queries.items():
            last = prog[-1]["stateOperators"][0]
            p = f"stateful.{det}."
            out[p + "trigger_ms"] = statistics.median(
                x["durationMs"]["triggerExecution"] for x in prog)
            out[p + "state_rows"] = last["numRowsTotal"]
            out[p + "state_mem_mb"] = last["memoryUsedBytes"] / 2**20
        return {"queries": queries}, out

    def counters(self, res) -> Dict[str, float]:
        out = {f"stateful.{d}.edges": n for d, n in res["edges"].items()}
        out["stateful.rows_out"] = sum(res["edges"].values())
        return out

    def check_traced(self, untraced, traced) -> List[str]:
        bad = self.check(traced)
        if not bad and untraced["edges"] != traced["edges"]:
            bad.append("traced edge counts differ from the untraced run's")
        return bad


WORKLOADS = {w.name: w for w in (CheckpointResume, StreamMicrobatch)}
