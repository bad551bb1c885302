"""Benchmark decontamination: exact word-n-gram overlap vs an eval set.

The standard LLM training-data hygiene pass (GPT-3 appendix C, Llama 2
A.6: flag or drop training documents that share any exact word n-gram
with an evaluation benchmark). The reference's exact-hash prefilter
(``new_algorithm/pipeline_api.py`` stage 1) is the within-corpus cousin;
this is the bipartite variant against a second, much smaller corpus.

Scale posture (100 TB train side, MB-GB eval side):

* Eval grams are exploded + ``distinct`` — the shuffle touches only the
  eval side (tiny by construction).
* Train grams are generated JVM-side (``split`` + ``transform`` over
  ``sequence``; no Python, no per-row UDF) and joined to the eval gram
  set ADAPTIVELY: a broadcast hash join when the eval-gram census fits
  (the normal case — 1e6..1e7 grams), shuffle join above it. On the
  broadcast path the exploded train rows NEVER shuffle; only per-doc
  partial hit counts move (map-side combine before the doc-keyed
  exchange).
* Hit counts join back onto the train docs the same way: at most one
  row per contaminated doc, broadcast under a census threshold.
* The train corpus is scanned twice (hit pass + flag pass) and never
  persisted — at target scale the exploded gram stream cannot be
  cached, and a re-scan of a columnar source beats materializing it.
* ``gram_key="hash"`` (the default) joins on a 128-bit hash of each
  gram (two independently-seeded ``xxhash64``) instead of the raw gram
  string. An 8-gram of real web text is ~50-300 bytes; hashing shrinks
  the broadcast eval set to 16 B/gram (measured 430 MB -> 26 MB at
  1.6e7 grams of 40-word docs) and turns the join probe into a long
  comparison. A false hit needs a train gram and a DIFFERENT eval gram
  to collide on both hashes: ~2^-128 per cross-pair, ~2^-65 even at
  10^12 x 10^7 grams — the same negligible-collision budget as the
  suffix-array 128-bit bucket keys (2^-93, operators/suffix_array.py).
  ``gram_key="raw"`` keeps the string join as the spec; parity is
  pinned in tests/test_decontaminate.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from deduplication_framework_spark.operators.lsh import _cut

__all__ = [
    "word_ngram_expr",
    "ngram_overlap_flags",
    "remove_contaminated_spans",
]


_GRAM_KEY_SEED2 = "dk#2"


def _gram_key_cols(g: Column) -> list[Column]:
    """128-bit gram join key: two independently-seeded xxhash64 of the
    gram string (the second prefixes a constant salt into the hash
    stream). See the module docstring for the collision budget."""
    return [
        F.xxhash64(g).alias("_k1"),
        F.xxhash64(F.lit(_GRAM_KEY_SEED2), g).alias("_k2"),
    ]


def _keyed(df: DataFrame, gram_key: str, *front: str) -> DataFrame:
    """Project exploded gram rows (``_g``) onto the join key columns."""
    if gram_key == "hash":
        return df.select(*front, *_gram_key_cols(F.col("_g")))
    return df.select(*front, "_g")


def _cut_side(df: DataFrame, threshold: int) -> tuple:
    """→ ``(join side, rows, path)``: ``df`` held once as an ``lsh._cut``
    whose action counts its rows; the side is hinted broadcast while the
    rows fit ``threshold``."""
    cut, n = _cut(df, rows=F.count("*"))
    if n["rows"] <= threshold:
        return F.broadcast(cut), n["rows"], "broadcast"
    return cut, n["rows"], "shuffle"


def _check_gram_key(gram_key: str) -> list[str]:
    if gram_key not in ("hash", "raw"):
        raise ValueError(f"gram_key must be 'hash' or 'raw', got {gram_key!r}")
    return ["_k1", "_k2"] if gram_key == "hash" else ["_g"]


def word_ngram_expr(words_col: str, n: int) -> Column:
    """``array<string>`` of the whitespace-token n-grams of a
    pre-split words column (``split(trim(text), '\\s+')``); empty when
    the doc has fewer than ``n`` tokens. Pure JVM expression."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    return F.expr(
        f"CASE WHEN size({words_col}) >= {n} THEN "
        f"transform(sequence(0, size({words_col}) - {n}), "
        f"i -> concat_ws(' ', slice({words_col}, i + 1, {n}))) "
        f"ELSE array() END"
    )


def ngram_overlap_flags(
    train_df: DataFrame,
    eval_df: DataFrame,
    *,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    lowercase: bool = True,
    gram_key: str = "hash",
    eval_broadcast_threshold: int = 5_000_000,
    hits_broadcast_threshold: int = 2_000_000,
) -> tuple[DataFrame, dict]:
    """Per-train-doc contamination flags vs the eval corpus.

    Returns ``(flags_df, stats)`` where ``flags_df`` has one row per
    ``train_df`` row: ``(id_col, n_grams, n_hit_grams,
    is_contaminated)`` — ``n_grams`` distinct word n-grams in the doc,
    ``n_hit_grams`` of them occurring anywhere in ``eval_df``, and the
    0/1 flag. Duplicate grams within a doc count once (set semantics,
    both sides). ``stats`` = ``{n_eval_grams, n_contaminated,
    eval_join_path, flags_join_path}``.

    Cuts the eval gram set and the per-doc hit counts with ``lsh._cut``,
    whose one action each also counts them, to pick the join
    strategies; the cuts are freed by ``lsh.release_census_caches()`` /
    pipeline end.

    ``gram_key="hash"`` (default) joins on the 128-bit gram hash —
    identical answers up to the module-docstring collision budget,
    16 B/gram broadcast instead of the raw strings; ``"raw"`` is the
    string-join spec path.
    """
    key_cols = _check_gram_key(gram_key)
    reserved = {"_w", "_grams", "_g", "_k1", "_k2", "n_hit", "n_grams"}
    clash = reserved & set(train_df.columns)
    if clash:
        raise ValueError(
            f"train_df columns collide with internal names: {sorted(clash)}"
        )

    def grams_of(df: DataFrame) -> DataFrame:
        txt = F.col(text_col)
        if lowercase:
            txt = F.lower(txt)
        return df.withColumn(
            "_w", F.split(F.trim(txt), r"\s+")
        ).withColumn("_grams", F.array_distinct(word_ngram_expr("_w", n)))

    eval_side, n_eval_grams, eval_join_path = _cut_side(
        _keyed(
            grams_of(eval_df).select(F.explode("_grams").alias("_g")), gram_key
        ).distinct(),
        eval_broadcast_threshold,
    )
    train_grams = grams_of(train_df)
    hits_side, n_contaminated, flags_join_path = _cut_side(
        _keyed(
            train_grams.select(id_col, F.explode("_grams").alias("_g")),
            gram_key,
            id_col,
        )
        .join(eval_side, key_cols)
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hit")),
        hits_broadcast_threshold,
    )

    out = (
        train_grams.select(id_col, F.size("_grams").alias("n_grams"))
        .join(hits_side, id_col, "left")
        .select(
            id_col,
            "n_grams",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit_grams"),
            (F.coalesce("n_hit", F.lit(0)) > 0).cast("int").alias(
                "is_contaminated"
            ),
        )
    )
    stats = {
        "n_eval_grams": n_eval_grams,
        "n_contaminated": n_contaminated,
        "eval_join_path": eval_join_path,
        "flags_join_path": flags_join_path,
        "gram_key": gram_key,
    }
    return out, stats


def remove_contaminated_spans(
    train_df: DataFrame,
    eval_df: DataFrame,
    *,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    lowercase: bool = True,
    gram_key: str = "hash",
    eval_broadcast_threshold: int = 5_000_000,
    cov_broadcast_threshold: int = 2_000_000,
) -> tuple[DataFrame, dict]:
    """Surgical decontamination: instead of dropping a flagged doc, remove
    every WORD POSITION covered by any eval-overlapping n-gram and
    reassemble the survivor text (the Dolma/'span removal' variant of the
    doc-level pass — operators/spans.py does the same for within-corpus
    duplicate spans).

    A hit n-gram starting at word index ``i`` covers indices
    ``[i, i+n)``; overlapping hits merge naturally through the covered-
    index set. Matching is on ``lowercase`` grams; reassembly preserves
    the ORIGINAL tokens. Whitespace runs collapse to single spaces (the
    doc is reassembled from its tokens).

    Returns ``(df, stats)`` with one row per train row:
    ``(id_col, n_words, n_removed, text_clean)`` — original token count,
    removed-token count, surviving text ('' when fully covered). Stats =
    ``{n_eval_grams, n_contaminated, eval_join_path, cov_join_path}``.

    Scale posture matches :func:`ngram_overlap_flags`: eval grams
    broadcast after the cut that counts them (as 128-bit hash keys under the
    default ``gram_key="hash"`` — 16 B/gram; ``"raw"`` is the string
    spec path), the exploded train grams never shuffle on that path,
    the covered-index sets (one row per contaminated doc) broadcast
    back for the map-side reassembly."""
    key_cols = _check_gram_key(gram_key)
    reserved = {"_w", "_lw", "_grams", "_g", "_k1", "_k2", "_i", "_wi", "_cov"}
    clash = reserved & set(train_df.columns)
    if clash:
        raise ValueError(
            f"train_df columns collide with internal names: {sorted(clash)}"
        )

    def with_words(df: DataFrame) -> DataFrame:
        out = df.withColumn("_w", F.split(F.trim(F.col(text_col)), r"\s+"))
        lw = F.transform(F.col("_w"), F.lower) if lowercase else F.col("_w")
        return out.withColumn("_lw", lw)

    eval_side, n_eval_grams, eval_join_path = _cut_side(
        _keyed(
            with_words(eval_df).select(
                F.explode(word_ngram_expr("_lw", n)).alias("_g")
            ),
            gram_key,
        ).distinct(),
        eval_broadcast_threshold,
    )

    train = with_words(train_df)
    # hit grams with their start index -> covered word indices, one set
    # row per contaminated doc
    cov_side, n_contaminated, cov_join_path = _cut_side(
        _keyed(
            train.select(
                id_col,
                F.posexplode(word_ngram_expr("_lw", n)).alias("_i", "_g"),
            ),
            gram_key,
            id_col,
            "_i",
        )
        .join(eval_side, key_cols)
        .select(
            id_col,
            F.explode(F.sequence(F.col("_i"), F.col("_i") + (n - 1))).alias(
                "_wi"
            ),
        )
        .groupBy(id_col)
        .agg(F.collect_set("_wi").alias("_cov")),
        cov_broadcast_threshold,
    )

    covered = F.coalesce(F.col("_cov"), F.array().cast("array<int>"))
    survivors = F.filter(
        F.col("_w"), lambda _x, i: ~F.array_contains(covered, i)
    )
    out = (
        train.join(cov_side, id_col, "left")
        .select(
            id_col,
            F.size("_w").alias("n_words"),
            F.size(covered).alias("n_removed"),
            F.concat_ws(" ", survivors).alias("text_clean"),
        )
    )
    stats = {
        "n_eval_grams": n_eval_grams,
        "n_contaminated": n_contaminated,
        "eval_join_path": eval_join_path,
        "cov_join_path": cov_join_path,
        "gram_key": gram_key,
    }
    return out, stats
