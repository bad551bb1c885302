"""Exact duplicate removal (SURVEY.md P7/P8/S14).

Reference semantics:
* md5-of-normalized-text first-seen-wins — ``pipeline_api.py:340-370``;
* hash-of-raw-bytes first-seen keeper — ``pipelines/modalities/common.py:88-175``
  (sha1 of file bytes);
* hash prefilter before near-dup — ``clean_the_dataset.py:107-109``.

Spark form: hash → one window over a narrow ``(id, order, hash)``
projection ranks each hash group; the rows ranked after the first are the
duplicates, and the keepers are the docs left-anti-joined against the
duplicate ids. Only ~40 bytes per doc (id + md5, compressed) move through
the window's shuffle — never the text — and the anti-join broadcasts the
duplicate-id set when the planner's estimate fits
``autoBroadcastJoinThreshold``; above it, a sort-merge anti-join shuffles
the docs once by id. ``xxhash64`` is the fast 64-bit
prefilter option; at 10^10+ distinct docs its birthday-collision
expectation becomes real (a collision silently welds two unrelated texts),
so the pipeline's stage-1 dedup uses ``md5`` (128-bit, also byte-parity
with the reference's reported hashes).
"""

from __future__ import annotations

from typing import Tuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def exact_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    order_col: str = None,
    hash_fn: str = "xxhash64",
) -> Tuple[DataFrame, DataFrame]:
    """→ (keepers_df, exact_edges). ``id_col`` must be unique.

    keepers_df: input rows minus exact duplicates (keeper = min order per
    hash group), with the input's columns in their order. exact_edges(src,
    dst, sim=1.0): keeper → each dropped copy, so exact groups merge into the
    same final clusters as near-dup edges. NULL texts form one group.
    """
    order_col = order_col or id_col
    if hash_fn == "md5":
        h = F.md5(F.col(text_col))
    elif hash_fn == "sha1":
        h = F.sha1(F.col(text_col))
    else:
        h = F.xxhash64(F.col(text_col))

    narrow = docs.select(*dict.fromkeys([id_col, order_col]), h.alias("_h"))
    w = Window.partitionBy("_h").orderBy(F.col(order_col))
    dups = (
        narrow.withColumn("_rn", F.row_number().over(w))
        .withColumn("_keep_id", F.first(id_col).over(w))
        .filter(F.col("_rn") > 1)
    )
    edges = dups.select(
        F.col("_keep_id").alias("src"),
        F.col(id_col).alias("dst"),
        F.lit(1.0).alias("sim"),
    )
    keepers = docs.join(
        dups.select(F.col(id_col).alias("_dup")),
        F.col(id_col) == F.col("_dup"),
        "left_anti",
    )
    return keepers, edges
