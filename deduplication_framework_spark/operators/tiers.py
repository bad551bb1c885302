"""Tiered (cascade) dedup with per-tier attribution.

Production web-corpus dedup is a CASCADE: cheap exact passes first, then
progressively more expensive fuzzy ones, each running only over the
documents that survived everything before it (the reference runs its
exact-hash prefilter before the MinHash loop for exactly this reason —
``new_algorithm/pipeline_api.py`` stage 1 feeds stage 2's survivors; the
CommonCrawl/RefinedWeb-style reports additionally attribute every removed
page to the FIRST stage that caught it, which is what this operator adds
on top of the pipeline's chained detectors).

Semantics
---------
Each tier is an assignment function over the current survivor set: it
groups the survivors however it likes and names ONE keeper per group.
Non-keepers are removed and attributed to that tier; keepers flow into
the next tier. A doc matching several tiers' criteria is counted ONCE,
by the first tier — so tier counts are marginal ("what did the URL pass
remove that the exact pass had not already caught?"), the number a
dedup-rate report actually wants.

Note ``keeper_id`` is the keeper of the doc's group *within the tier
that removed it*; that keeper may itself be removed by a LATER tier
(e.g. a URL-group keeper later caught by the near-dup pass). Attribution
is within-tier by design — follow the chain through the attribution
frame when a final-survivor mapping is needed.

Scale posture
-------------
* Each tier's assignment frame (one row per current survivor) is held
  once as a lineage cut (``lsh._cut``) before its two consumers
  (removed branch, survivor filter) fan out, its row and removed counts
  observed during the cut's one action — otherwise the concurrent-stage
  race would recompute the tier (CLAUDE.md lesson);
  ``lsh.release_census_caches()`` frees the cuts.
* The cascade ORDER is the cost model: every doc an early cheap tier
  removes never reaches the expensive ones, so at web scale the
  exact-hash tier in front of the near-dup tier is what keeps the
  candidate-pair stage small. Tier counts are small constants (2-5);
  the loop builds a linear plan, not a combinatorial one.
"""

from __future__ import annotations

from typing import Callable, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deduplication_framework_spark.operators.lsh import _cut

__all__ = ["tiered_dedup", "keeper_assign"]

TierFn = Callable[[DataFrame], DataFrame]


def keeper_assign(
    df: DataFrame, key, id_col: str = "doc_id"
) -> DataFrame:
    """Standard tier body: group ``df`` by the ``key`` expression and
    keep the min-id member. Returns ``(id_col, keeper_id)``, one row per
    input row — a groupBy + equi-join (map-side partial min, no window),
    so a mega-group cannot straggle one task. The join is NULL-SAFE:
    groupBy puts all NULL-key rows in one group, so the join back must
    use ``<=>`` or those rows would silently vanish from the tier
    (violating tiered_dedup's one-row-per-input contract)."""
    rows = df.select(F.col(id_col), key.alias("_tk"))
    keepers = (
        rows.groupBy("_tk")
        .agg(F.min(id_col).alias("keeper_id"))
        .select(F.col("_tk").alias("_tk_k"), "keeper_id")
    )
    return (
        rows.join(keepers, F.col("_tk").eqNullSafe(F.col("_tk_k")))
        .select(id_col, "keeper_id")
    )


def tiered_dedup(
    df: DataFrame,
    tiers: Sequence[Tuple[str, TierFn]],
    *,
    id_col: str = "doc_id",
) -> Tuple[DataFrame, dict]:
    """Run dedup tiers in order, each over the previous tiers' survivors.

    ``tiers`` — ``[(name, assign_fn), ...]``; ``assign_fn(survivors)``
    must return EXACTLY one row per input row with columns
    ``(id_col, keeper_id)``; ``keeper_id == id`` marks the row kept by
    that tier (groups of one assign themselves).

    Returns ``(attribution, stats)``. ``attribution`` has one row per
    input row: ``(id_col, tier, keeper_id)`` — ``tier`` is the first
    tier that removed the doc, or ``'kept'`` (with ``keeper_id`` = the
    doc itself). ``stats`` maps each tier name to its (marginal)
    removed count, plus ``'kept'``.
    """
    names = [n for n, _ in tiers]
    if len(set(names)) != len(names) or "kept" in names:
        raise ValueError(f"tier names must be unique and not 'kept': {names}")

    surv = df
    # one extra scan of the input, but it makes the one-row-per-input
    # contract checkable for the FIRST tier too (a dropping tier 1 must
    # raise, not silently lose docs from the attribution)
    n_surv = df.count()
    removed_parts = []
    stats: dict = {}
    for name, fn in tiers:
        assign, n = _cut(
            fn(surv).select(id_col, "keeper_id"),
            rows=F.count("*"),
            removed=F.count_if(F.col(id_col) != F.col("keeper_id")),
        )
        if n["rows"] != n_surv:
            raise ValueError(
                f"tier {name!r} returned {n['rows']} rows for "
                f"{n_surv} survivors"
            )
        removed = assign.filter(F.col(id_col) != F.col("keeper_id"))
        removed_parts.append(
            removed.select(id_col, F.lit(name).alias("tier"), "keeper_id")
        )
        stats[name] = n["removed"]
        n_surv -= n["removed"]
        surv = surv.join(
            assign.filter(F.col(id_col) == F.col("keeper_id")).select(id_col),
            id_col,
            "left_semi",
        )
    stats["kept"] = n_surv

    kept = surv.select(
        F.col(id_col),
        F.lit("kept").alias("tier"),
        F.col(id_col).alias("keeper_id"),
    )
    attribution = kept
    for part in removed_parts:
        attribution = attribution.unionByName(part)
    return attribution, stats
