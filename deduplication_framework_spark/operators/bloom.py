"""Bloom-prefiltered incremental exact dedup (new batch vs existing corpus).

Beyond-reference addition from the public training-data playbook: a web
pipeline re-crawls daily, and each new batch must be deduplicated against
the full historical corpus (10^12 docs) — not just against itself. The
reference deduplicates a single static snapshot (``clean_the_dataset.py``,
``text/method/pipeline_api.py``); at recrawl scale a plain anti-join
would shuffle the entire historical key set every day.

Spark form, scale posture:

* the historical corpus is scanned ONCE to build a Bloom filter over its
  ``md5(text)`` keys — a map-side explode of k bit positions plus one tiny
  shuffle of (word_index, or-mask) rows (≤ m/64 rows total, independent of
  corpus row count), never a shuffle of corpus rows;
* the new batch is filtered MAP-SIDE against the broadcast bit array:
  rows whose key misses any bit are *definitely new* (Bloom filters have
  no false negatives) and skip the join entirely;
* only the possible-dup survivors (true dups + ~fpp false positives) are
  verified with an exact key join, so the final answer is EXACT — the
  Bloom filter only routes rows, it never decides them. Under
  ``candidate_broadcast_threshold`` the verify step broadcasts the
  candidate keys and semi-joins the historical side map-side (the big
  corpus is never shuffled at all); above it, it falls back to a plain
  hash-partitioned anti-join of candidates vs corpus keys.

Driver-side memory: the collected bit array is ``m_bits/8`` bytes
(~1.2 MB per million corpus docs at fpp=1e-3). ``max_bits`` fail-fasts
past the single-array budget (mirroring the brute-force ANN guard); past
that, shard the key space by ``pmod(xxhash64(key), n_shards)`` and build
one filter per shard with the batch repartitioned the same way — the
build below is already per-word distributed, so sharding only changes
the driver-side collect.

Hashing: k bit positions are derived from two independent JVM-side
``xxhash64`` values via Kirsch–Mitzenmacher double hashing
(pos_i = (h1 + i*h2) mod m), so Python never hashes — the membership UDF
is a pure vectorized numpy bit-gather over Arrow batches.
"""

from __future__ import annotations

import math
import weakref
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .lsh import _cut

__all__ = [
    "BloomFilter",
    "bloom_build",
    "bloom_might_contain",
    "bloom_tag",
    "incremental_new_rows",
    "release_bloom_broadcasts",
]

# Second-hash salt column: xxhash64(key, lit(_H2_SALT)) is independent of
# xxhash64(key) because the extra hashed column changes the input stream.
_H2_SALT = "dedup-bloom-h2"
_MAX_K = 32


@dataclass(frozen=True, eq=False)  # eq=False: identity hash (ndarray field;
# also lets the broadcast cache weak-key on the instance)
class BloomFilter:
    """Driver-side model: ``words[i]`` holds bits [64*i, 64*i+64)."""

    words: np.ndarray  # int64, JVM-sign-compatible; view as uint64 to test
    m_bits: int
    k: int
    n_items: int  # expected_items the sizing was computed for
    # descriptor of the key expression the bits were built from ("" =
    # unchecked, for hand-constructed filters); incremental_new_rows
    # refuses a prebuilt filter whose descriptor names a DIFFERENT key —
    # probing md5 keys against raw-text bits would silently leak dups
    key_desc: str = ""

    @property
    def n_bytes(self) -> int:
        return int(self.words.nbytes)


def _key_desc(key: Column) -> str:
    return str(key)


# one broadcast per BloomFilter instance for the session's lifetime
# (weak keys: a dropped filter lets its entry go; the JVM-side broadcast
# itself is freed by release_bloom_broadcasts)
_BC_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def release_bloom_broadcasts() -> int:
    """Destroy every cached bit-array broadcast (driver + executors).
    Call between batches in a long-lived session once the filters are no
    longer needed — mirrors ``lsh.release_census_caches``."""
    n = 0
    for bc in list(_BC_CACHE.values()):
        bc.destroy()
        n += 1
    _BC_CACHE.clear()
    return n


def bloom_params(expected_items: int, fpp: float) -> tuple[int, int]:
    """Standard sizing: m = -n·ln p / ln²2 bits (rounded up to a word),
    k = (m/n)·ln 2 hashes, clamped to [1, 32]."""
    n = max(int(expected_items), 1)
    if not (0.0 < fpp < 1.0):
        raise ValueError(f"fpp must be in (0,1), got {fpp}")
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = max(64, ((m + 63) // 64) * 64)
    k = max(1, min(_MAX_K, round(m / n * math.log(2))))
    return m, k


def _positions(key: Column, k: int, m_bits: int) -> Column:
    """array<long> of the k bit positions for ``key`` as ONE expression.

    ANSI-safe: both hashes are reduced mod m BEFORE the i*h2 multiply, so
    with m ≤ 2^31 and k ≤ 32 every intermediate stays under 2^37 — no
    64-bit overflow for Spark's ANSI mode to reject.

    ONLY for cheap ``key`` columns (a plain attribute): the h1/h2
    subexpressions repeat k times here, and an expensive key repeats
    2k times — fine under whole-stage codegen's subexpression
    elimination, but measured at ~10× task CPU when codegen evaluation
    intermittently degrades at 10^7-row scale. Hot paths use
    ``_attach_positions``, whose chained projections make
    once-per-row evaluation STRUCTURAL rather than CSE-dependent."""
    m = F.lit(m_bits)
    h1 = F.pmod(F.xxhash64(key), m)
    h2 = F.pmod(F.xxhash64(key, F.lit(_H2_SALT)), m)
    return F.array(*[F.pmod(h1 + F.lit(i) * h2, m) for i in range(k)])


_POS_COLS = ("_bloom_k", "_bloom_h1", "_bloom_h2")


def _attach_positions(
    df: DataFrame, key: Column, k: int, m_bits: int, pos_col: str
) -> DataFrame:
    """df + ``pos_col`` (array<long> of the k bit positions), via CHAINED
    projections: key → (h1, h2) → positions. Each intermediate is a
    non-cheap expression referenced more than once by the next
    projection, so Catalyst's CollapseProject keeps the barriers and
    every hash is evaluated exactly once per row — independent of
    codegen subexpression elimination (see ``_positions``)."""
    clash = set(_POS_COLS + (pos_col,)) & set(df.columns)
    if clash:
        raise ValueError(f"columns collide with bloom internals: {sorted(clash)}")
    m = F.lit(m_bits)
    out = df.columns
    keyed = df.withColumn("_bloom_k", key)
    hashed = keyed.select(
        *out,
        F.pmod(F.xxhash64("_bloom_k"), m).alias("_bloom_h1"),
        F.pmod(F.xxhash64("_bloom_k", F.lit(_H2_SALT)), m).alias("_bloom_h2"),
    )
    return hashed.select(
        *out,
        F.array(
            *[
                F.pmod(
                    F.col("_bloom_h1") + F.lit(i) * F.col("_bloom_h2"), m
                )
                for i in range(k)
            ]
        ).alias(pos_col),
    )


def bloom_build(
    df: DataFrame,
    key: Column,
    *,
    expected_items: int | None = None,
    fpp: float = 1e-3,
    max_bits: int = 1 << 31,
    m_bits: int | None = None,
    k: int | None = None,
) -> BloomFilter:
    """Distributed build over ``key`` evaluated on ``df``.

    Two jobs: an optional count (when ``expected_items`` is not given) and
    the build itself — explode k positions per row, or-combine masks per
    64-bit word (map-side partial aggregation collapses hot words before
    the shuffle), collect ≤ m/64 (word, mask) rows.

    ``m_bits``/``k`` (both or neither) force the geometry instead of
    sizing from ``expected_items`` — required to OR a part-filter into an
    EXISTING filter (Bloom union is only defined at identical (m, k):
    the fuzzy-index append path). ``n_items`` then records
    ``expected_items`` if given, else the build count.
    """
    if (m_bits is None) != (k is None):
        raise ValueError("m_bits and k must be given together")
    if m_bits is None:
        if expected_items is None:
            expected_items = df.count()
        m_bits, k = bloom_params(expected_items, fpp)
    elif expected_items is None:
        expected_items = df.count()
    if m_bits > max_bits:
        raise ValueError(
            f"bloom of {expected_items} items at fpp={fpp} needs {m_bits} bits "
            f"> max_bits={max_bits} (~{max_bits >> 23} MB driver/broadcast); "
            "shard the key space by pmod(xxhash64(key), n_shards) and build "
            "one filter per shard, or raise max_bits explicitly"
        )
    rows = (
        # pre-project the key to one column, then chained-projection
        # hashing: an expensive key (md5 of a web page) and both xxhash64
        # values are each evaluated exactly once per row STRUCTURALLY —
        # the inline _positions form costs 2k key evaluations per row
        # whenever codegen subexpression elimination degrades (measured
        # ~10× build task CPU at 16M docs, BENCH/scale_bloom_runs.jsonl)
        _attach_positions(
            df.select(key.alias("_bloom_key")),
            F.col("_bloom_key"),
            k,
            m_bits,
            "_bloom_pos",
        )
        # explode_OUTER, deliberately: positions are never null/empty
        # (k >= 1, xxhash64 is total), so it's row-identical to explode —
        # but plain explode triggers InferFiltersFromGenerate, whose
        # size(..)>0 filter gets pushed below the projections and
        # re-inlines the whole 2k-hash expression per row
        .select(F.explode_outer("_bloom_pos").alias("pos"))
        .select(
            F.shiftright(F.col("pos"), 6).alias("word"),
            # pyspark's shiftleft() wrapper only takes a literal shift;
            # the SQL form accepts a column
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias(
                "mask"
            ),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
        # Arrow transfer: a dense filter returns up to m/64 rows, and
        # collect()'s per-Row Python objects (~100 B each) would dwarf
        # the numpy array the max_bits guard budgets for
        .toPandas()
    )
    words = np.zeros(m_bits // 64, dtype=np.int64)
    if len(rows):
        words[rows["word"].to_numpy(dtype=np.int64)] = rows["bits"].to_numpy(
            dtype=np.int64
        )
    return BloomFilter(
        words=words,
        m_bits=m_bits,
        k=k,
        n_items=int(expected_items),
        key_desc=_key_desc(key),
    )


def _contains_udf(spark: SparkSession, bloom: BloomFilter):
    """Vectorized membership UDF over a positions array column. The bit
    array ships once per executor as a Spark broadcast (cached per filter
    instance — repeated calls in a long session reuse it; see
    ``release_bloom_broadcasts``); pure uint64 gather — no Python hashing,
    no per-row work."""
    bc = _BC_CACHE.get(bloom)
    if bc is None:
        bc = spark.sparkContext.broadcast(bloom.words)
        _BC_CACHE[bloom] = bc
    k = bloom.k

    @pandas_udf("boolean")
    def _contains(pos: pd.Series) -> pd.Series:
        if len(pos) == 0:
            return pd.Series(np.empty(0, dtype=bool))
        words = bc.value.view(np.uint64)
        mat = np.asarray(pos.tolist(), dtype=np.int64).reshape(len(pos), k)
        bit = (mat & 63).astype(np.uint64)
        hit = (words[mat >> 6] >> bit) & np.uint64(1)
        return pd.Series(hit.all(axis=1))

    return _contains


def bloom_might_contain(
    spark: SparkSession, bloom: BloomFilter, key: Column
) -> Column:
    """boolean Column: False ⇒ key is DEFINITELY absent from the build set;
    True ⇒ present or a false positive (rate ≈ fpp at the sized n).

    Column-API convenience — ONLY for cheap ``key`` columns (see
    ``_positions``); hot paths with computed keys use ``bloom_tag``.
    """
    return _contains_udf(spark, bloom)(_positions(key, bloom.k, bloom.m_bits))


def bloom_tag(df: DataFrame, bloom: BloomFilter, key: Column, flag_col: str) -> DataFrame:
    """df + boolean ``flag_col`` (False ⇒ key definitely absent) — the
    hot-path form of ``bloom_might_contain``: the key and both xxhash64
    values are evaluated exactly once per row via ``_attach_positions``'s
    chained projections, independent of codegen subexpression elimination
    (the Column form degrades to 2k key evaluations per row when CSE
    does — measured ~10× task CPU at 10^7-row scale)."""
    if flag_col in df.columns:
        raise ValueError(f"flag_col {flag_col!r} already exists in df")
    tagged = _attach_positions(df, key, bloom.k, bloom.m_bits, "_bloom_pos")
    contains = _contains_udf(df.sparkSession, bloom)
    return tagged.withColumn(
        flag_col, F.coalesce(contains(F.col("_bloom_pos")), F.lit(False))
    ).drop("_bloom_pos")


def incremental_new_rows(
    new_df: DataFrame,
    old_df: DataFrame,
    *,
    key_col: str = "text",
    hash_fn: str = "md5",
    fpp: float = 1e-3,
    candidate_broadcast_threshold: int = 2_000_000,
    bloom: BloomFilter | None = None,
    out_hash_col: str | None = None,
) -> tuple[DataFrame, dict]:
    """Rows of ``new_df`` whose hashed ``key_col`` never occurs in
    ``old_df`` — EXACT anti-join semantics, Bloom-accelerated.

    Within-batch duplicates are preserved (run ``exact_dedup`` on the
    batch separately if wanted); NULL keys hash to NULL and are treated
    as new (never joinable), matching SQL NOT EXISTS.

    Returns ``(result_df, stats)`` with stats =
    {n_new_batch, n_definite_new, n_candidates, n_dup_keys, m_bits, k,
    verify_path}. Runs the filter build, then cuts the prefiltered batch
    (and, on the broadcast path, the true-dup keys) with ``lsh._cut``,
    whose one action each also counts them; the cuts are freed by
    ``lsh.release_census_caches()`` / pipeline end.
    """
    if hash_fn == "md5":
        hexpr = lambda c: F.md5(F.col(c))  # noqa: E731
    elif hash_fn == "sha1":
        hexpr = lambda c: F.sha1(F.col(c))  # noqa: E731
    else:
        raise ValueError(f"hash_fn must be md5|sha1, got {hash_fn!r}")
    reserved = {"_k", "_maybe"}
    clash = reserved & set(new_df.columns)
    if clash or (out_hash_col and out_hash_col in new_df.columns):
        raise ValueError(
            f"new_df columns collide with internal/output names: "
            f"{sorted(clash) or [out_hash_col]}"
        )

    if bloom is None:
        bloom = bloom_build(old_df, hexpr(key_col), fpp=fpp)
    elif bloom.key_desc and bloom.key_desc != _key_desc(hexpr(key_col)):
        raise ValueError(
            f"prebuilt bloom was built over key {bloom.key_desc} but this "
            f"call probes {_key_desc(hexpr(key_col))} — a key mismatch "
            "would silently leak duplicates past the filter"
        )
    # hash once into _k, then bloom_tag probes the _k ATTRIBUTE — the
    # md5 and both xxhash64 calls each run once per row structurally
    tagged, n = _cut(
        bloom_tag(
            new_df.withColumn("_k", hexpr(key_col)),
            bloom,
            F.col("_k"),
            "_maybe",
        ),
        batch=F.count("*"),
        cands=F.count_if("_maybe"),
    )
    n_cands = n["cands"]
    stats = {
        "n_new_batch": n["batch"],
        "n_definite_new": n["batch"] - n_cands,
        "n_candidates": n_cands,
        "n_dup_keys": 0,
        "m_bits": bloom.m_bits,
        "k": bloom.k,
        "verify_path": "none",
    }

    out_cols = list(new_df.columns)
    if out_hash_col is not None:
        out_cols.append(out_hash_col)
        tagged = tagged.withColumn(out_hash_col, F.col("_k"))
    definite = tagged.filter(~F.col("_maybe")).select(*out_cols)
    if n_cands == 0:
        return definite, stats

    cands = tagged.filter("_maybe")
    old_keys = old_df.select(hexpr(key_col).alias("_k")).filter(
        F.col("_k").isNotNull()
    )
    if n_cands <= candidate_broadcast_threshold:
        # Historical corpus is never shuffled: candidate keys broadcast
        # into a map-side semi-join over old, then the (small) true-dup
        # key set broadcasts back into the anti-join.
        cand_keys = cands.select("_k").distinct()
        dup_keys, n = _cut(
            old_keys.join(F.broadcast(cand_keys), "_k", "left_semi").distinct(),
            n=F.count("*"),
        )
        stats.update(n_dup_keys=n["n"], verify_path="broadcast")
        survivors = cands.join(F.broadcast(dup_keys), "_k", "left_anti")
    else:
        # not separately counted on the shuffle path
        stats.update(n_dup_keys=-1, verify_path="shuffle")
        survivors = cands.join(old_keys, "_k", "left_anti")
    return definite.unionByName(survivors.select(*out_cols)), stats
