"""LSH Ensemble — approximate containment search at scale (Zhu, Nargesian,
Pu & Miller, VLDB 2016 "LSH Ensemble: Internet-Scale Domain Search").

The exact containment join (operators/setjoin.py::ssjoin_containment) pays
a FULL index explosion — structurally necessary for exactness because the
contained side's shared elements can rank anywhere in the container. At
100 TB that term dominates. LSH Ensemble is the sublinear alternative the
literature uses: containment C(Q,X) = |Q∩X|/|Q| converts to Jaccard

    J(Q,X) = C·|Q| / (|Q| + |X| − C·|Q|)

which depends on the CONTAINER size |X| — one global banding cannot serve
both a near-equal-size container (J ≈ C) and a 10× container (J ≈ C/10).
The ensemble fix: partition the index by set size into contiguous ranges;
within partition p (size upper bound u_p), a query of size q seeking
containment ≥ t needs Jaccard ≥ J*(q, p) = t·q / (q + u_p − t·q), so each
(query-size-class, partition) cell gets its own (b, r) banding tuned for
that threshold (kernels.optimal_band_param — the same S-curve objective
datasketch's MinHashLSH uses).

Spark-first shape (no reference analog — the reference's datasketch usage
is plain MinHashLSH; this operator is the engine's containment scale
addition, the same role operators/srp.py plays for cosine):

* signatures via functions/jvm_minhash.jvm_minhash_signatures — one
  explode + one map-side-combined min aggregation, zero Python workers;
* the (class × partition) parameter table is computed DRIVER-side from a
  tiny size census (|distinct sizes| rows) and baked into the plan as
  literal band-struct arrays — no per-row optimization;
* query classes REUSE the partition boundaries; each cell uses the class
  LOWER bound l_c, which is recall-conservative: J*(q) is increasing in
  q, so banding tuned at J*(l_c) ≤ J*(q) only ever catches MORE;
* probe docs skip cells that cannot contain them (u_p < t·l_c whole-class,
  plus the per-row u_p ≥ t·q − eps filter after the explode);
* candidates join on (partition, r, band_idx, key) and are verified with
  the exact sorted-merge containment UDF — precision is exact, recall is
  the banded S-curve (observable: stats carries per-side band-row counts
  and the parameter table);
* the S-curve objective is FN-weighted 0.9 by default: with an exact
  verify downstream, a false positive costs one candidate row while a
  false negative is an unrecoverable miss — at the low converted
  thresholds containment produces (J* ≈ 0.06 for a 15-element quote in a
  200-element container) the equal-weight optimum collides at only
  P ≈ 0.37-0.8 AT the threshold, measured 0.8 recall; fnw=0.9 picks the
  flat r=1/r=2 bandings with P(J*) ≈ 0.95-0.99.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deduplication_framework_spark.functions import kernels as K
from deduplication_framework_spark.functions.jvm_minhash import (
    jvm_minhash_signatures,
)
from deduplication_framework_spark.operators.lsh import _cut
from deduplication_framework_spark.operators.verify import (
    _EPS,
    verify_containment,
)
from deduplication_framework_spark.session import local_frame


def _size_partitions(size_counts, num_partitions):
    """Equi-depth contiguous ranges [(lo, hi), ...] over the observed set
    sizes. ``size_counts`` = [(size, n_docs), ...]; ranges cover every
    observed size; fewer ranges come back when there are fewer distinct
    sizes than requested."""
    sizes = sorted(size_counts)
    total = sum(n for _, n in sizes)
    bounds = []
    target = total / num_partitions
    acc, lo = 0, sizes[0][0]
    for i, (sz, n) in enumerate(sizes):
        acc += n
        last = i == len(sizes) - 1
        if (acc >= target * (len(bounds) + 1) and not last
                and len(bounds) < num_partitions - 1):
            bounds.append((lo, sz))
            lo = sizes[i + 1][0]
        elif last:
            bounds.append((lo, sz))
    return bounds


@lru_cache(maxsize=4096)
def _band_param_cached(jstar, num_perm, false_negative_weight):
    """optimal_band_param is ~27 ms of serial numeric integration per
    call; cells repeat across legs/invocations (review finding) and the
    jstar rounding (1e-9) is far below any (b, r) decision boundary the
    2000-point trapezoid grid can resolve."""
    return K.optimal_band_param(
        jstar, num_perm,
        false_positive_weight=1.0 - false_negative_weight,
        false_negative_weight=false_negative_weight,
    )


def ensemble_band_table(classes, partitions, threshold, num_perm,
                        false_negative_weight=0.9):
    """(class c, partition p) → (b, r) at the converted Jaccard threshold
    J* = t·l_c / (l_c + u_p − t·l_c); the class LOWER bound keeps every
    cell recall-conservative for any query size inside the class. Cells
    where no index set is large enough for the class (u_p < t·l_c) are
    absent. Shared by the operator and the generated DuckDB oracle —
    the two sides cannot drift."""
    t = float(threshold)
    table = {}
    for c, (lc, _hc) in enumerate(classes):
        for p, (_lp, up) in enumerate(partitions):
            if up < t * lc - _EPS:
                continue
            jstar = t * lc / (lc + up - t * lc)
            table[(c, p)] = _band_param_cached(
                round(jstar, 9), num_perm, false_negative_weight
            )
    return table


def _set_base(df, id_col, set_col, **aggs):
    """→ ``(base, observed)``: the ``_cut`` ``(_id, _set)`` frame of
    ``df``'s non-empty distinct element sets; ``observed`` holds its row
    count ``n`` and ``aggs`` over it, observed during the same action."""
    return _cut(
        df.select(
            F.col(id_col).alias("_id"),
            F.array_distinct(F.col(set_col).cast("array<string>")).alias(
                "_set"
            ),
        ).filter(F.size("_set") > 0),
        n=F.count("*"),
        **aggs,
    )


def _lex(base):
    """(_id, _lex): a set base's sorted element arrays, the verify input."""
    return base.select("_id", F.array_sort("_set").alias("_lex"))


def _empty_edges(spark, src_type, dst_type):
    """The edge frame ``(src, dst, containment)`` with no rows. ``dst``
    takes the index side's id type, so an empty batch unions cleanly with
    non-empty ones (whose dst type verify propagates from the index)."""
    return local_frame(spark, T.StructType([
        T.StructField("src", src_type),
        T.StructField("dst", dst_type),
        T.StructField("containment", T.DoubleType()),
    ]))


def _ensemble_sigs(base, num_perm):
    """(_id, s00.., _sz) signature frame over a (_id, _set) base — one
    explode + one map-side-combined min aggregation, zero Python."""
    grams = base.select("_id", F.explode("_set").alias("_el"))
    return jvm_minhash_signatures(
        grams, num_perm=num_perm, id_col="_id", gram_col="_el"
    ).join(base.select("_id", F.size("_set").alias("_sz")), "_id")


def _band_key_sql(i, r):
    """SQL text for band i's key over r signature columns. The band
    frames are built as ONE parsed expression string per branch (r6):
    the previous Column-API construction created tens of thousands of
    py4j-backed Column objects (a concat_ws + casts per band × up to
    num_perm bands × partitions × classes), which cost ~33s of pure
    DRIVER time per call before any job ran — expression construction,
    not execution, dominated the operator at every input size."""
    cols = ", ".join(f"CAST(s{i * r + j:02d} AS STRING)" for j in range(r))
    return f"concat_ws('-', {cols})"


def _in_range(col, lo, hi):
    return (col >= lo) & (col <= hi)


def _union_by_name(parts):
    out = parts[0]
    for q in parts[1:]:
        out = out.unionByName(q, allowMissingColumns=False)
    return out


def _index_band_frame(index_sigs, partitions, table):
    """(dst, _sb, p, r, band, key) rows: per partition, one band set per
    distinct r any class requests of it (band_idx up to the max b)."""
    parts = []
    for p, (lp, up) in enumerate(partitions):
        by_r = {}
        for (c, pp), (b, r) in table.items():
            if pp == p:
                by_r[r] = max(by_r.get(r, 0), b)
        if not by_r:
            continue
        structs = ", ".join(
            f"named_struct('p', {p}, 'r', {r}, 'band', {i},"
            f" 'key', {_band_key_sql(i, r)})"
            for r, bmax in sorted(by_r.items())
            for i in range(bmax)
        )
        parts.append(
            index_sigs.filter(_in_range(F.col("_sz"), lp, up)).select(
                F.col("_id").alias("dst"),
                F.col("_sz").alias("_sb"),
                F.explode(F.expr(f"array({structs})")).alias("bk"),
            )
        )
    return _union_by_name(parts).select(
        "dst", "_sb", "bk.p", "bk.r", "bk.band", "bk.key"
    )


def _probe_band_frame(probe_sigs, classes, partitions, table, t):
    """(src, _sa, p, r, band, key) rows: per class, its own (b, r) per
    surviving cell, with the per-row u_p >= t*q - eps partition prune."""
    parts = []
    for c, (lc, hc) in enumerate(classes):
        struct_list = [
            f"named_struct('p', {p}, 'r', {r}, 'band', {i},"
            f" 'key', {_band_key_sql(i, r)},"
            # BIGINT cast: the open tail range's upper bound exceeds
            # int32, and mixed INT/BIGINT struct fields across union
            # branches would fail analysis
            f" 'up', CAST({int(partitions[p][1])} AS BIGINT))"
            for p in range(len(partitions))
            for (b, r) in [table.get((c, p), (0, 0))]
            if b
            for i in range(b)
        ]
        if not struct_list:
            continue
        structs = ", ".join(struct_list)
        parts.append(
            probe_sigs.filter(_in_range(F.col("_sz"), lc, hc))
            .select(
                F.col("_id").alias("src"),
                F.col("_sz").alias("_sa"),
                F.explode(F.expr(f"array({structs})")).alias("bk"),
            )
            # per-row prune: partitions whose largest member is still too
            # small to t-contain THIS query (class bound was the floor);
            # bk.up is simply never selected downstream
            .filter(F.col("bk.up") >= t * F.col("_sa") - _EPS)
        )
    return _union_by_name(parts).select(
        "src", "_sa", "bk.p", "bk.r", "bk.band", "bk.key"
    )


def lshensemble_containment(
    docs: DataFrame,
    *,
    threshold: float,
    # 128 = datasketch LSHEnsemble's default, and what the low-J regime
    # needs: at J≈0.13 (a 20-el quote vs a 150-el container) 64 perms
    # measured 0.988 planted recall, 128 restores >= 0.99
    num_perm: int = 128,
    num_partitions: int = 8,
    id_col: str = "doc_id",
    set_col: str = "grams",
    index_docs: DataFrame | None = None,
    false_negative_weight: float = 0.9,
    partitions: list | None = None,
    classes: list | None = None,
    collect_stats: bool = True,
) -> tuple:
    """→ ``(edges, stats)``: every ORDERED candidate pair (src contained
    side, src != dst) that collides in the ensemble AND passes the exact
    containment verify ``|set(src) ∩ set(dst)| / |set(src)| >= threshold``.

    Self-join by default; pass ``index_docs`` for the bipartite form
    (e.g. eval-benchmark queries vs a training corpus) — bipartite ids
    must be unique ACROSS the two frames (the verify step attaches
    features by id; a shared id with different content is a caller bug,
    guarded only by dropDuplicates). Precision is
    exact (verified); recall follows the per-cell S-curves — the
    candidate generator is strictly bucketed (band-key equi-joins), no
    all-pairs surface anywhere. ``stats``: n_candidates, n_probe_band_rows,
    n_index_band_rows, partitions, and the (class, partition) → (b, r)
    table for observability.

    ``collect_stats=False`` skips the band/candidate cuts (their counts
    come back None) — the counts exist for observability, and each cut is
    an extra Spark job that dominates at small inputs (the bands/cands
    frames each have exactly ONE downstream consumer, so skipping the cut
    is safe, not a recompute).

    ``partitions``/``classes`` override the data-derived equi-depth size
    ranges with explicit ``[(lo, hi), ...]`` lists — required when the
    banding must be stable across batches (a stored index) or replayable
    by an external oracle; sets whose size falls outside every given
    range are silently excluded from banding (cover the full size domain
    or accept the exclusion)."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    t = float(threshold)
    bipartite = index_docs is not None

    def _empty_result(reason):
        # an empty side / empty band table means ZERO possible edges at t
        # -- return the empty edge frame, never crash (review finding:
        # the size census and the band unions both indexed parts[0])
        edges = _empty_edges(
            docs.sparkSession,
            docs.schema[id_col].dataType,
            (index_docs if bipartite else docs).schema[id_col].dataType,
        )
        return edges, {
            "n_candidates": 0, "n_probe_band_rows": 0,
            "n_index_band_rows": 0, "partitions": partitions or [],
            "band_table": {}, "empty_reason": reason,
        }

    probe_base, observed = _set_base(docs, id_col, set_col)
    n_probe_docs = observed["n"]
    if bipartite:
        index_base, observed = _set_base(index_docs, id_col, set_col)
        n_index_docs = observed["n"]
    else:
        index_base, n_index_docs = probe_base, n_probe_docs
    if n_probe_docs == 0 or n_index_docs == 0:
        return _empty_result("empty_input")

    # ---- driver-side parameter table from a tiny size census (or the
    # caller's explicit stable ranges) ----
    def size_ranges(base):
        sizes = base.groupBy(F.size("_set").alias("_sz")).count().collect()
        return _size_partitions([tuple(r) for r in sizes], num_partitions)

    if partitions is None:
        partitions = size_ranges(index_base)
    if classes is None:
        classes = size_ranges(probe_base) if bipartite else partitions
    table = ensemble_band_table(
        classes, partitions, t, num_perm, false_negative_weight
    )
    if not table:
        # every index partition is too small to t-contain every probe
        # class -- mathematically zero edges, not a crash
        return _empty_result("no_feasible_cells")

    # ---- signatures (JVM-only: one explode + min aggregation) ----
    probe_sigs, _ = _cut(_ensemble_sigs(probe_base, num_perm))
    index_sigs = (
        _cut(_ensemble_sigs(index_base, num_perm))[0]
        if bipartite else probe_sigs
    )

    probe_bands = _probe_band_frame(
        probe_sigs, classes, partitions, table, t
    )
    index_bands = _index_band_frame(index_sigs, partitions, table)
    if collect_stats:
        # cut, the counts observed on the cut's action, so the candidate
        # join reads the cut instead of re-running the explode (the
        # candidate_pairs census pattern)
        probe_bands, n = _cut(probe_bands, n=F.count("*"))
        n_probe_rows = n["n"]
        index_bands, n = _cut(index_bands, n=F.count("*"))
        n_index_rows = n["n"]
    else:
        n_probe_rows = n_index_rows = None

    joined = probe_bands.join(index_bands, ["p", "r", "band", "key"]).filter(
        (F.col("_sb") >= t * F.col("_sa") - _EPS)
        & ((F.col("src") != F.col("dst")) if not bipartite else F.lit(True))
    )
    cands = joined.select("src", "dst").distinct()
    if collect_stats:
        cands, n = _cut(cands, n=F.count("*"))
        n_candidates = n["n"]
    else:
        n_candidates = None

    feats = _lex(probe_base)
    if bipartite:
        feats = feats.unionByName(_lex(index_base)).dropDuplicates(["_id"])
    edges = verify_containment(cands, feats, t, id_col="_id", feat_col="_lex")
    stats = {
        "n_candidates": n_candidates,
        "n_probe_band_rows": n_probe_rows,
        "n_index_band_rows": n_index_rows,
        "partitions": partitions,
        "band_table": {f"c{c}p{p}": br for (c, p), br in sorted(table.items())},
    }
    return edges, stats


def lshensemble_oracle_sql(
    sets_sql: str,
    *,
    threshold: float,
    num_perm: int,
    partitions: list,
    classes: list,
    false_negative_weight: float = 0.9,
) -> str:
    """DuckDB twin of :func:`lshensemble_containment` under EXPLICIT
    ``partitions``/``classes`` — the whole lossy construction (signatures
    → per-cell banding → bucket join → exact verify) replayed value by
    value, so the gate compares the ensemble AS SPECIFIED rather than
    pinning a recall precondition (the minhash_band_candidates
    philosophy: banding is exactly as lossy as the S-curve says, and the
    oracle IS the same construction).

    ``sets_sql`` must be CTE text (without WITH) ending in a relation
    ``s(doc_id, grams, n)`` with n = len(grams) > 0. The signature
    family, band table, size-range assignment, per-row partition prune,
    and verify epsilon all come from the same Python constants the Spark
    side uses."""
    from deduplication_framework_spark.functions.jvm_minhash import (
        MERSENNE_31,
        hex8_to_int_sql,
        minhash_signature_sql_aggs,
    )

    t = float(threshold)
    table = ensemble_band_table(
        classes, partitions, t, num_perm, false_negative_weight
    )

    def key_sql(i, r):
        return " || '-' || ".join(
            f"s{i * r + j:02d}::VARCHAR" for j in range(r)
        )

    ib_parts = []
    for p, (lp, up) in enumerate(partitions):
        by_r = {}
        for (c, pp), (b, r) in table.items():
            if pp == p:
                by_r[r] = max(by_r.get(r, 0), b)
        if not by_r:
            continue
        structs = ", ".join(
            f"{{'p': {p}, 'r': {r}, 'band': {i}, 'key': {key_sql(i, r)}}}"
            for r, bmax in sorted(by_r.items())
            for i in range(bmax)
        )
        ib_parts.append(
            f"SELECT doc_id AS dst, n AS sb,\n"
            f"       unnest([{structs}], recursive := true)\n"
            f"FROM ss WHERE n BETWEEN {lp} AND {up}"
        )
    pb_parts = []
    for c, (lc, hc) in enumerate(classes):
        structs = ", ".join(
            f"{{'p': {p}, 'r': {r}, 'band': {i}, 'key': {key_sql(i, r)},"
            f" 'up': {partitions[p][1]}}}"
            for p in range(len(partitions))
            for (b, r) in [table.get((c, p), (0, 0))]
            if b
            for i in range(b)
        )
        if not structs:
            continue
        pb_parts.append(
            f"SELECT doc_id AS src, n AS sa,\n"
            f"       unnest([{structs}], recursive := true)\n"
            f"FROM ss WHERE n BETWEEN {lc} AND {hc}"
        )
    ib_sql = "\n  UNION ALL\n".join(ib_parts)
    pb_sql = "\n  UNION ALL\n".join(pb_parts)
    return f"""
        WITH {sets_sql},
        el AS (SELECT doc_id, unnest(grams) AS gram FROM s),
        hx AS (SELECT doc_id, substring(md5(gram), 25, 8) AS hx FROM el),
        h AS (SELECT doc_id, {hex8_to_int_sql("hx")} % {MERSENNE_31} AS h
              FROM hx),
        sig AS MATERIALIZED (
            SELECT doc_id, {minhash_signature_sql_aggs(num_perm)}
            FROM h GROUP BY doc_id
        ),
        ss AS MATERIALIZED (
            SELECT sig.*, s.n FROM sig JOIN s USING (doc_id)
        ),
        ib AS MATERIALIZED (
        {ib_sql}
        ),
        pb AS MATERIALIZED (
        {pb_sql}
        ),
        cand AS (
            SELECT DISTINCT x.src, y.dst
            FROM (SELECT * FROM pb WHERE up >= {t!r} * sa - {_EPS!r}) x
            JOIN ib y USING (p, r, band, key)
            WHERE x.src <> y.dst AND y.sb >= {t!r} * x.sa - {_EPS!r}
        ),
        v AS (
            SELECT c.src, c.dst,
                   len(list_intersect(a.grams, b.grams)) AS i, a.n
            FROM cand c
            JOIN s a ON a.doc_id = c.src
            JOIN s b ON b.doc_id = c.dst
        )
        SELECT src, dst, round(i::DOUBLE / n, 6) AS containment
        FROM v WHERE i::DOUBLE / n >= {t!r}
    """


# ---------------------------------------------------------------------------
# stored ensemble index — build once, query per batch (the datasketch
# LSHEnsemble contract: an INDEX you probe, not a join you re-run)
# ---------------------------------------------------------------------------


def build_ensemble_index(
    index_docs: DataFrame,
    *,
    threshold: float,
    num_perm: int = 128,
    partitions: list,
    classes: list,
    false_negative_weight: float = 0.9,
    id_col: str = "doc_id",
    set_col: str = "grams",
) -> dict:
    """→ ``{"bands", "feats", "meta"}``: the reusable half of the
    ensemble. ``partitions`` AND ``classes`` are REQUIRED explicit
    ranges — the index materializes exactly the r-values the class table
    requests, so the probe classes are part of the index's identity
    (a probe size outside ``classes`` cannot be served; cover the
    expected probe-size domain at build time). ``feats`` carries the
    sorted element sets the exact verify needs — the index is
    self-contained, query batches never touch the original corpus."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    t = float(threshold)
    table = ensemble_band_table(
        classes, partitions, t, num_perm, false_negative_weight
    )
    base, observed = _set_base(index_docs, id_col, set_col)
    n_docs = observed["n"]
    sigs = _ensemble_sigs(base, num_perm)
    bands = (
        _index_band_frame(sigs, partitions, table)
        if table
        else None
    )
    feats = _lex(base)
    meta = {
        "threshold": t,
        "num_perm": int(num_perm),
        "partitions": [list(pr) for pr in partitions],
        "classes": [list(c) for c in classes],
        "false_negative_weight": float(false_negative_weight),
        "band_table": {f"c{c}p{p}": list(br)
                       for (c, p), br in sorted(table.items())},
        "n_docs": int(n_docs),
    }
    return {"bands": bands, "feats": feats, "meta": meta}


def save_ensemble_index(index: dict, path: str) -> None:
    """bands + feats as parquet under ``path``, meta as JSON. The meta
    file is the COMMIT MARKER: any stale one is removed before the
    tables are overwritten and the new one lands (atomic rename) only
    after both writes — a crash mid-save leaves no marker and load
    refuses, never a loadable mixed-generation index (a stale meta with
    a different num_perm would make probe keys silently never match —
    zero edges, no error; the fuzzy-index |gen= protocol lesson)."""
    import json as _json
    import os as _os

    if index["bands"] is None:
        raise ValueError(
            "cannot save an index with no feasible band cells (every"
            " partition too small for every class at this threshold)"
        )
    _meta_path = _os.path.join(path, "meta.json")
    if _os.path.exists(_meta_path):
        _os.remove(_meta_path)
    index["feats"].write.mode("overwrite").parquet(
        _os.path.join(path, "feats")
    )
    index["bands"].write.mode("overwrite").parquet(
        _os.path.join(path, "bands")
    )
    tmp = _os.path.join(path, "meta.json.tmp")
    with open(tmp, "w") as fh:
        _json.dump(index["meta"], fh, indent=2)
    _os.replace(tmp, _os.path.join(path, "meta.json"))


def load_ensemble_index(spark, path: str) -> dict:
    """Round-trip of :func:`save_ensemble_index`; refuses a directory
    without the meta commit marker."""
    import json as _json
    import os as _os

    meta_path = _os.path.join(path, "meta.json")
    if not _os.path.exists(meta_path):
        raise FileNotFoundError(
            f"no committed ensemble index at {path} (meta.json missing)"
        )
    with open(meta_path) as fh:
        meta = _json.load(fh)
    meta["partitions"] = [tuple(pr) for pr in meta["partitions"]]
    meta["classes"] = [tuple(c) for c in meta["classes"]]
    return {
        "bands": spark.read.parquet(_os.path.join(path, "bands")),
        "feats": spark.read.parquet(_os.path.join(path, "feats")),
        "meta": meta,
    }


def query_ensemble_index(
    probe_docs: DataFrame,
    index: dict,
    *,
    id_col: str = "doc_id",
    set_col: str = "grams",
    collect_stats: bool = True,
) -> tuple:
    """Probe a built/loaded index: → ``(edges, stats)`` with edges
    (src = probe id, dst = index id, containment >= meta threshold).
    Only the PROBE batch is featurized — the index side is two parquet
    scans (bands for candidates, feats for the exact verify). Probe ids
    must not collide with index ids (same contract as the bipartite
    join). Probes whose set size falls outside the index's ``classes``
    are excluded (counted in stats when ``collect_stats``)."""
    meta = index["meta"]
    t = float(meta["threshold"])
    partitions, classes = meta["partitions"], meta["classes"]
    table = ensemble_band_table(
        classes, partitions, t, meta["num_perm"],
        meta["false_negative_weight"],
    )
    in_class = F.lit(False)
    for lc, hc in classes:
        in_class = in_class | _in_range(F.size("_set"), lc, hc)
    probe_base, observed = _set_base(
        probe_docs, id_col, set_col, in_class=F.count_if(in_class)
    )
    n_probe = observed["n"]
    if n_probe == 0 or not table or index["bands"] is None:
        edges = _empty_edges(
            probe_docs.sparkSession,
            probe_docs.schema[id_col].dataType,
            index["feats"].schema["_id"].dataType,
        )
        return edges, {
            "n_candidates": 0, "n_probe_band_rows": 0,
            "n_probe_docs": n_probe, "n_probe_out_of_class": 0,
        }
    probe_sigs, _ = _cut(_ensemble_sigs(probe_base, meta["num_perm"]))
    probe_bands = _probe_band_frame(probe_sigs, classes, partitions, table, t)
    if collect_stats:
        probe_bands, n = _cut(probe_bands, n=F.count("*"))
        n_probe_rows = n["n"]
        n_out = n_probe - observed["in_class"]
    else:
        n_probe_rows = n_out = None

    joined = probe_bands.join(
        index["bands"], ["p", "r", "band", "key"]
    ).filter(F.col("_sb") >= t * F.col("_sa") - _EPS)
    cands = joined.select("src", "dst").distinct()
    if collect_stats:
        cands, n = _cut(cands, n=F.count("*"))
        n_candidates = n["n"]
    else:
        n_candidates = None
    feats = _lex(probe_base).unionByName(
        index["feats"].select("_id", "_lex")
    ).dropDuplicates(["_id"])
    edges = verify_containment(cands, feats, t, id_col="_id", feat_col="_lex")
    return edges, {
        "n_candidates": n_candidates,
        "n_probe_band_rows": n_probe_rows,
        "n_probe_docs": n_probe,
        "n_probe_out_of_class": n_out,
    }
