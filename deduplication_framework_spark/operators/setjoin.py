"""Exact set-similarity join via prefix filtering (AllPairs / PPJoin).

MinHash-LSH (operators/lsh.py) finds near-dup pairs *probabilistically*;
this operator finds EVERY pair with exact Jaccard >= t — recall 1.0 by
theorem, not by tuning — at far below all-pairs cost. It is the scale
path for the exact-edge surfaces (``ngram_jaccard_edges`` /
``jaccard_cluster_keepers`` compute the same edge set with a banded
all-pairs ``array_intersect``, which is the transparent-oracle path but
quadratic within bands), and the right tool when exactness is
contractual (benchmark decontamination audits, license dedup).

Algorithm (Bayardo et al. "Scaling Up All Pairs Similarity Search",
WWW'07; Xiao et al. PPJoin, WWW'08 — public-literature rebuild):

1. Canonical order: every element ranked by (global document frequency
   ASC, element ASC) — rarest first.
2. Prefix: for threshold t, a set x keeps its first
   ``p = |x| - ceil(t*|x|) + 1`` ranked elements. *Lemma (prefix
   filter)*: J(x,y) >= t implies overlap >= ceil(t*max(|x|,|y|)); if w
   is the rank-smallest shared element, every element before w in x is
   non-shared, and x has at most |x| - ceil(t*|x|) < p non-shared
   elements, so w sits inside BOTH prefixes. Joining prefixes on the
   element therefore finds every qualifying pair.
3. Length filter (exact): J >= t implies t*|x| <= |y| <= |x|/t.
4. Positional filter (PPJoin, exact): all shared elements sit at or
   after w in both rankings, so overlap <= min(|x|-pos_x(w),
   |y|-pos_y(w)); require that bound >= alpha = ceil(t/(1+t)*(|x|+|y|))
   (the overlap J >= t forces).
5. Exact verify of the surviving candidates (sorted-merge Arrow
   Jaccard, operators/verify.py — measured ~30x cheaper than
   ``array_intersect``).

Float guard: every ``ceil(t * n)`` prefilter bound subtracts 1e-9 first,
so binary-float wobble can only make a prefix LONGER or a bound LOOSER —
prefilters stay conservative and the final verify is exact regardless.

Scale posture (100 TB):

* The document-frequency pass is one (element, count) aggregation —
  full map-side combine, same shuffle class as LSH banding.
* Ranked arrays are built with one per-doc ``collect_list`` +
  ``array_sort`` (per-doc state only, no cross-doc memory).
* Only prefixes are exploded into the join: ~(1-t)*|x|+1 elements per
  doc (20% + 1 at t=0.8).
* Join buckets are keyed by rarest-first elements, so bucket sizes are
  bounded by each element's document frequency and the hottest corpus
  elements (stopword grams) never enter a prefix unless a set is nearly
  all-hot; candidate count ~ true-pair count on real corpora. A
  pathological corpus (many docs of the same few rare elements) makes
  those pairs TRUE candidates — cost tracks answer size, the honest
  lower bound. ``stats['n_candidates']`` makes the blow-up observable.
* Featurize with a SPARSE element universe (word shingles / n-grams —
  what near-dup pipelines use anyway). A dense small universe (e.g.
  char-3-grams of kB-size docs: ~20k possible elements, corpus-wide
  document frequencies all high) leaves no rare elements for prefixes
  to key on and degrades toward banded all-pairs — measured on the
  bench pages corpus, which is why bench.py's ssjoin surfaces shingle
  on word bigrams.
* Candidate dedup + positional filter ride the same (src, dst)
  aggregation; verify joins are plain equi-joins on doc id.
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deduplication_framework_spark.operators.connected_components import _data_bytes
from deduplication_framework_spark.operators.lsh import _cut, _track
from deduplication_framework_spark.operators.verify import verify_jaccard
from deduplication_framework_spark.session import local_frame

__all__ = ["ssjoin_jaccard", "ssjoin_containment"]

# conservative-ceil guard for float threshold arithmetic — ONE definition
# shared with the verify-side prefilters (defined in verify.py because
# this module already imports from it)
from deduplication_framework_spark.operators.verify import _EPS  # noqa: E402

# Dense-universe fast path budgets (r6): when the element universe is
# TINY (the degenerate regime the module docstring warns about — e.g. the
# sf documents tables' word-bigram vocabulary is <1k elements), the
# prefix filter is structurally useless: candidates approach all-pairs
# (measured 6.7M candidates for 5k docs = 27% of all ordered pairs at
# sf0.1) and the candidate shuffle + per-pair string verify dominate. In
# that regime every doc's set fits a <=DENSE_MAX_ELS-bit bitmap, so the
# EXACT intersection sizes of every pair come from popcount(AND) against
# a broadcast bitmap matrix — no candidate generation, no pair shuffle,
# no string comparisons. Output is the identical exact predicate set
# (same float64 division, same >= threshold compare as verify.py); the
# lemma-based prefix path remains the sparse-universe production shape.
# The driver collects the sets only under all three caps below, each read
# from counts observed while the set base is cut.
DENSE_MAX_ELS = 2048  # bitmap width cap (bits); <=32 uint64 lanes
DENSE_MAX_DOCS = 20_000  # all-pairs compute cap: n^2 * lanes popcounts
DENSE_MAX_BYTES = 64 << 20  # element bytes the driver may collect
_DENSE_SAMPLE_DOCS = 256  # cheap pre-check sample (sparse corpora bail here)


def _set_base(docs: DataFrame, id_col: str, set_col: str):
    """→ ``(base, stats)``: the ``_cut`` ``(_id, _set)`` of ``docs``'
    non-empty distinct sets, observing ``n_docs``, the largest set
    (``max_els``) and the total element bytes (``el_bytes``)."""
    sets = docs.select(
        F.col(id_col).alias("_id"), F.array_distinct(set_col).alias("_set")
    ).filter(F.size("_set") > 0)
    base, stats = _cut(
        sets,
        n_docs=F.count("*"),
        max_els=F.max(F.size("_set")),
        el_bytes=F.sum(_data_bytes(sets["_set"], sets.schema["_set"].dataType)),
    )
    return base, {k: v or 0 for k, v in stats.items()}


def _dense_allpairs_edges(
    base: DataFrame, stats: dict, threshold: float, mode: str
) -> Optional[DataFrame]:
    """Exact all-pairs edges over a TINY element universe via bitmap
    popcount blocks, or None when the universe/corpus exceeds the dense
    budgets (the prefix-filter path then applies). ``base`` and ``stats``
    are :func:`_set_base`'s; ``_id`` must be integral. ``mode``:
    'jaccard' (src < dst, sim) or 'containment' (ordered src != dst,
    containment).

    Detection cost on the sparse path is one _DENSE_SAMPLE_DOCS-doc
    sample census (~tens of ms): any 256 docs of a sparse corpus exceed
    DENSE_MAX_ELS distinct elements, so real featurizations never reach
    the full-universe check. What the driver collects is bounded by the
    base's observed counts, all checked before any collect: at most
    DENSE_MAX_DOCS sets of at most DENSE_MAX_ELS elements, together at
    most DENSE_MAX_BYTES element bytes (held as pandas objects, a small
    multiple of that); the broadcast matrix is <= 20k * 256B = 5MB.

    Exactness: the bitmap code is a DENSE rank over the exact distinct
    elements (no hashing — no collision caveat); intersection sizes are
    popcounts of ANDed exact membership vectors, and the emitted value is
    the same float64 division + >= threshold compare as verify.py, so
    the edge set and values are bit-identical to the prefix+verify path
    (which is itself exact by the prefix lemma)."""
    t = float(threshold)
    spark = base.sparkSession
    if not isinstance(
        base.schema["_id"].dataType, (T.LongType, T.IntegerType, T.ShortType)
    ):
        return None
    n_docs = stats["n_docs"]
    if (
        n_docs == 0
        or n_docs > DENSE_MAX_DOCS
        or stats["max_els"] > DENSE_MAX_ELS
        or stats["el_bytes"] > DENSE_MAX_BYTES
    ):
        return None
    sample_distinct = (
        base.limit(_DENSE_SAMPLE_DOCS)
        .select(F.explode("_set").alias("_el"))
        .agg(F.countDistinct("_el").alias("n"))
        .first()["n"]
    )
    if sample_distinct > DENSE_MAX_ELS:
        return None
    # one Arrow transfer of the (bounded) corpus; universe + bitmaps are
    # then built locally in vectorized pandas/numpy — this replaced a
    # distinct+collect job, a py4j row collect and a per-doc Python loop
    # (r6: build phase was ~half the dense wall)
    pdf = base.select("_id", "_set").toPandas()
    sets = [np.asarray(s) for s in pdf["_set"]]
    lens = np.fromiter((len(s) for s in sets), dtype=np.int64, count=len(sets))
    codes, uniq = pd.factorize(np.concatenate(sets))
    if len(uniq) > DENSE_MAX_ELS:
        return None  # sample was unlucky; prefix path handles it
    ids = pdf["_id"].to_numpy(dtype=np.int64)
    n_lanes = max(1, (len(uniq) + 63) // 64)
    mat = np.zeros((len(sets), n_lanes), dtype=np.uint64)
    row_idx = np.repeat(np.arange(len(sets), dtype=np.int64), lens)
    np.bitwise_or.at(
        mat,
        (row_idx, codes >> 6),
        np.uint64(1) << (codes & 63).astype(np.uint64),
    )
    # tracked: release_census_caches() unpersists it (executor copies
    # only; a later recompute of the edges re-sends it from the driver)
    bc = _track(spark.sparkContext.broadcast((ids, lens, mat, int(len(uniq)))))

    out_col = "sim" if mode == "jaccard" else "containment"
    schema = T.StructType(
        [
            T.StructField("src", T.LongType()),
            T.StructField("dst", T.LongType()),
            T.StructField(out_col, T.DoubleType()),
        ]
    )
    jaccard = mode == "jaccard"

    def block(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        g_ids, g_sizes, g_mat, g_bits = bc.value
        # unpack the bitmaps once per task into a float32 0/1 matrix and
        # compute intersection sizes as a BLAS sgemm (P @ M.T): counts
        # <= DENSE_MAX_ELS << 2^24 are exact in float32, and sgemm beats
        # any numpy popcount emulation by an order of magnitude on
        # numpy<2.0 (no bitwise_count)
        dense01 = np.unpackbits(
            g_mat.view(np.uint8), axis=1, bitorder="little"
        )[:, :g_bits].astype(np.float32)
        order = np.argsort(g_ids, kind="stable")
        g_sizes_f = g_sizes.astype(np.float64)
        # bound the per-chunk gemm output to ~64MB float32
        chunk = max(1, (16 << 20) // max(1, len(g_ids)))
        for pdf in batches:
            if not len(pdf):
                continue
            # map this partition's rows back to matrix rows by id
            pos = order[
                np.searchsorted(g_ids, pdf["_id"].to_numpy(), sorter=order)
            ]
            for s in range(0, len(pos), chunk):
                cpos = pos[s : s + chunk]
                nx = g_sizes_f[cpos]
                inter = (dense01[cpos] @ dense01.T).astype(np.float64)
                my_ids = g_ids[cpos]
                if jaccard:
                    union = nx[:, None] + g_sizes_f[None, :] - inter
                    val = inter / np.where(union > 0, union, 1.0)
                    mask = (val >= t) & (my_ids[:, None] < g_ids[None, :])
                else:
                    val = inter / nx[:, None]
                    mask = (val >= t) & (my_ids[:, None] != g_ids[None, :])
                ii, jj = np.nonzero(mask)
                if not ii.size:
                    continue
                yield pd.DataFrame(
                    {
                        "src": my_ids[ii],
                        "dst": g_ids[jj],
                        out_col: val[ii, jj],
                    }
                )

    # the probe ids come from the driver's copy, so the edges read the
    # broadcast and never the base cut
    probe = local_frame(spark, "_id long", [(int(i),) for i in ids]).repartition(
        spark.sparkContext.defaultParallelism
    )
    return probe.mapInPandas(block, schema)


def _dense_path(base, stats, t, mode, dense):
    """Both joins' dense dispatch: ``(edges, stats)`` from
    :func:`_dense_allpairs_edges` when ``dense`` allows it and the budgets
    hold, else None; ``dense=True`` over the budgets raises. In that
    tiny-universe regime prefix candidates approach all pairs (measured
    6.7M of 25M ordered pairs at sf0.1), so the bitmap all-pairs IS the
    candidate set."""
    if dense not in ("auto", True):
        return None
    edges = _dense_allpairs_edges(base, stats, t, mode)
    if edges is not None:
        n = stats["n_docs"]
        pairs = n * (n - 1) // (2 if mode == "jaccard" else 1)
        return edges, {"n_candidates": pairs, "path": "dense"}
    if dense is True:
        raise ValueError(
            "dense=True but the corpus exceeds the dense budgets (els<="
            f"{DENSE_MAX_ELS}, docs<={DENSE_MAX_DOCS}, bytes<={DENSE_MAX_BYTES})"
        )
    return None


def _ranked(base: DataFrame) -> DataFrame:
    """``(_id, _ranked, _sz)``: each set as ``(document frequency,
    element)`` structs in the canonical rarest-first order, one per-doc
    aggregation. The dfreq side is one row per element — SHUFFLE_HASH
    builds the per-partition hash table instead of sorting both 10^6-row
    sides (guide §3.1)."""
    exploded = base.select("_id", F.explode("_set").alias("_el"))
    dfreq = exploded.groupBy("_el").agg(F.count("*").alias("_df"))
    return (
        exploded.join(dfreq.hint("shuffle_hash"), "_el")
        .groupBy("_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_df"), F.col("_el")))
            ).alias("_ranked")
        )
        .withColumn("_sz", F.size("_ranked"))
    )


def ssjoin_jaccard(
    docs: DataFrame,
    *,
    threshold: float,
    id_col: str = "doc_id",
    set_col: str = "grams",
    positional: bool = True,
    dense: bool | str = "auto",
) -> tuple:
    """Exact Jaccard-similarity self-join: every pair (src < dst) with
    ``J(set(src), set(dst)) >= threshold``.

    ``docs`` — one row per doc with an array column ``set_col`` (treated
    as a set: deduplicated here; empty/NULL sets emit no edges).
    Returns ``(edges, stats)``: edges ``(src, dst, sim)`` lazy, and
    stats ``{"n_candidates": int}``. The deduplicated input projection,
    the prefixes and the candidate pairs are each held once as an
    ``lsh._cut`` (freed by ``lsh.release_census_caches()``), whose one
    action also observes their counts: the dfreq map stage and the
    prefix-join exchange read the base cut instead of racing to
    recompute the input lineage (the CLAUDE.md concurrent-stage
    pitfall), and the verify fan-out reads the ``cands`` cut, so the
    prefix join runs once and the blow-up metric is observable.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    t = float(threshold)

    base, base_stats = _set_base(docs, id_col, set_col)

    dense_out = _dense_path(base, base_stats, t, "jaccard", dense)
    if dense_out is not None:
        return dense_out
    ranked = _ranked(base)

    # prefix length p = sz - ceil(t*sz) + 1 (conservative ceil)
    p = F.col("_sz") - F.ceil(t * F.col("_sz") - _EPS).cast("int") + 1
    # df=1 elements can never produce a CROSS-doc prefix match (their only
    # occurrence is this doc), and rare elements rank FIRST, so they fill
    # most prefix slots — dropping them before the self-join is exact and
    # shrinks the join input severalfold (r6; they still occupy prefix
    # positions for the positional filter, hence filter AFTER posexplode).
    # The prefix is cut so the self-join reads one compute of the ranked
    # subtree instead of evaluating it twice (no ReusedExchange fires
    # across the differently-aliased sides — r6 plan audit).
    prefix, _ = _cut(
        ranked.select(
            "_id",
            "_sz",
            F.posexplode(F.slice("_ranked", 1, p)).alias("_pos", "_w"),
        ).filter(F.col("_w._df") >= 2)
    )

    a = prefix.select(
        F.col("_id").alias("src"),
        F.col("_sz").alias("_sa"),
        F.col("_pos").alias("_pa"),
        "_w",
    )
    b = prefix.select(
        F.col("_id").alias("dst"),
        F.col("_sz").alias("_sb"),
        F.col("_pos").alias("_pb"),
        "_w",
    )
    joined = a.join(b.hint("shuffle_hash"), "_w").filter(
        (F.col("src") < F.col("dst"))
        # exact length filter: t*|x| <= |y| <= |x|/t, both directions
        & (F.col("_sb") >= t * F.col("_sa") - _EPS)
        & (F.col("_sa") >= t * F.col("_sb") - _EPS)
    )
    # one row per pair, carrying the rank-SMALLEST shared prefix element's
    # positions (min over the (df, el) struct order = min over rank)
    cands = joined.groupBy("src", "dst", "_sa", "_sb").agg(
        F.min(F.struct("_w", "_pa", "_pb")).alias("_m")
    )
    if positional:
        # overlap <= min(remaining-from-w) on both sides; require >= alpha
        alpha = F.ceil(
            t / (1.0 + t) * (F.col("_sa") + F.col("_sb")) - _EPS
        ).cast("int")
        ub = F.least(
            F.col("_sa") - F.col("_m._pa"), F.col("_sb") - F.col("_m._pb")
        )
        cands = cands.filter(ub >= alpha)
    cands, n = _cut(cands.select("src", "dst"), n=F.count("*"))
    n_candidates = n["n"]

    feats = base.select("_id", F.array_sort("_set").alias("_lex"))
    edges = verify_jaccard(
        cands, feats, t, id_col="_id", feat_col="_lex", size_prefilter=False
    )
    return edges, {"n_candidates": n_candidates}


def ssjoin_containment(
    docs: DataFrame,
    *,
    threshold: float,
    id_col: str = "doc_id",
    set_col: str = "grams",
    dense: bool | str = "auto",
) -> tuple:
    """Exact containment self-join: every ORDERED pair (src != dst) with
    ``|set(src) ∩ set(dst)| / |set(src)| >= threshold`` — src is the
    CONTAINED side. The quote/partial-copy detector: a doc whose content
    is mostly inside another (Jaccard misses these when the container is
    much larger — J <= |A|/|B|, but containment is size-ratio-free).

    Prefix lemma (containment form): C(A,B) >= t implies
    ``overlap >= ceil(t*|A|)``, so A has at most |A| - ceil(t*|A|)
    elements outside B and at least one of A's first
    ``p = |A| - ceil(t*|A|) + 1`` rarest-ranked elements is shared. The
    probe side therefore explodes only A-prefixes; the INDEX side has no
    prefix (B's shared elements can rank anywhere in B), so it explodes
    fully — the structural cost of asymmetry, bounded by keying on A's
    rarest elements (hot elements still never enter probes). Exact
    filter: ``|B| >= t*|A|`` (length). NOTE: no positional filter —
    with prefix length exactly ``p``, every positional/count bound one
    can derive from prefix-only matches is vacuous (any candidate has
    >= 1 prefix match and ``min_pos <= p-1``, which already implies the
    ``|A| - min_pos >= ceil(t*|A|)`` bound), so pruning beyond the
    length filter is the verify step's job. Conservative-ceil 1e-9
    guards as in :func:`ssjoin_jaccard`; final verify is an exact
    sorted-merge count.

    Returns ``(edges, stats)``: edges ``(src, dst, containment)`` lazy,
    stats ``{"n_candidates": int}``. Same cut/observed-count contract
    as :func:`ssjoin_jaccard`."""
    from deduplication_framework_spark.operators.verify import (
        verify_containment,
    )

    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    t = float(threshold)

    base, base_stats = _set_base(docs, id_col, set_col)

    dense_out = _dense_path(base, base_stats, t, "containment", dense)
    if dense_out is not None:
        return dense_out
    ranked = _ranked(base)

    p = F.col("_sz") - F.ceil(t * F.col("_sz") - _EPS).cast("int") + 1
    # df=1 probe elements occur in no other doc — their index matches are
    # all src == dst rows; dropping them pre-join is exact (r6, mirrors
    # ssjoin_jaccard)
    probe = ranked.select(
        "_id",
        "_sz",
        F.explode(F.slice("_ranked", 1, p)).alias("_w"),
    ).filter(F.col("_w._df") >= 2).select(
        F.col("_id").alias("src"),
        F.col("_sz").alias("_sa"),
        F.col("_w._el").alias("_el"),
    )
    # |B| rides the explode projection — no join over the element table
    index = base.select(
        F.col("_id").alias("dst"),
        F.size("_set").alias("_sb"),
        F.explode("_set").alias("_el"),
    )

    joined = probe.hint("shuffle_hash").join(index, "_el").filter(
        (F.col("src") != F.col("dst"))
        & (F.col("_sb") >= t * F.col("_sa") - _EPS)
    )
    cands, n = _cut(joined.select("src", "dst").distinct(), n=F.count("*"))
    n_candidates = n["n"]

    feats = base.select("_id", F.array_sort("_set").alias("_lex"))
    edges = verify_containment(
        cands, feats, t, id_col="_id", feat_col="_lex"
    )
    return edges, {"n_candidates": n_candidates}
