"""Deterministic synthetic `pages` corpus + html→text extraction.

Schema mandated by BASELINE.json input_hint:
    (url:string, warc_ts:timestamp, html:binary, text:string, lang:string)

Generation (FIXTURES.md F1): every row is a pure function of
(row_index, n_docs, seed) so the corpus can be generated *distributed* —
``spark.range(n).mapInPandas`` — with zero driver-side materialization and
byte-identical output at any parallelism. Duplicate classes planted:

    unique 50% | exact 10% | near-minhash 15% | near-simhash 10% |
    substring 10% | boilerplate hot-bucket 5%

Hidden ground-truth (class/group/variant) is returned in separate columns and
stripped before the pipeline sees the table — tests/oracle only.

The reference ingests a filesystem swamp (``sorter.py:15-39``); identity here
is `url`, per the north rule's Iceberg-table input model.
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timedelta, timezone
from functools import lru_cache
from typing import Iterator, List, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
    ]
)

TRUTH_FIELDS = [
    T.StructField("doc_order", T.LongType(), False),
    T.StructField("dup_class", T.StringType(), False),
    T.StructField("group_id", T.LongType(), False),
    T.StructField("variant", T.IntegerType(), False),
]

PAGES_TRUTH_SCHEMA = T.StructType(list(PAGES_SCHEMA.fields) + TRUTH_FIELDS)

_CLASS_FRACTIONS = [
    ("unique", 0.50),
    ("exact", 0.10),
    ("near_minhash", 0.15),
    ("near_simhash", 0.10),
    ("substring", 0.10),
    ("boilerplate", 0.05),
]

_BASE_TS = datetime(2025, 1, 1, tzinfo=timezone.utc)


@lru_cache(maxsize=4)
def _vocab(seed: int) -> Tuple[List[str], List[str]]:
    """Seeded pseudo-word vocab (latin) + CJK char pool for zh rows."""
    rng = np.random.RandomState(seed)
    consonants = list("bcdfghjklmnpqrstvwz")
    vowels = list("aeiou")
    words = []
    for _ in range(4000):
        n_syll = rng.randint(1, 4)
        w = "".join(
            consonants[rng.randint(len(consonants))] + vowels[rng.randint(len(vowels))]
            for _ in range(n_syll)
        )
        words.append(w)
    words = sorted(set(words))
    cjk = [chr(c) for c in range(0x4E00, 0x4E00 + 2048)]
    return words, cjk


def _stable_key(dup_class: str, group_id: int) -> int:
    """Process-independent group key (Python's hash() is randomized)."""
    h = hashlib.sha256(f"{dup_class}|{group_id}".encode()).digest()
    return int.from_bytes(h[:4], "big") & 0x7FFFFFFF


def _rng_for(seed: int, *keys: int) -> np.random.RandomState:
    h = hashlib.sha256(("|".join(str(k) for k in keys) + f"|{seed}").encode()).digest()
    return np.random.RandomState(np.frombuffer(h[:4], dtype=np.uint32)[0])


def _base_text(seed: int, group_key: int, lang: str) -> List[str]:
    """Base token sequence for a duplicate group (or a unique doc)."""
    words, cjk = _vocab(seed)
    rng = _rng_for(seed, 1001, group_key)
    n = rng.randint(50, 401)
    if lang == "zh":
        return [
            "".join(cjk[j] for j in rng.randint(0, len(cjk), rng.randint(1, 4)))
            for _ in range(n)
        ]
    return [words[j] for j in rng.randint(0, len(words), n)]


def _class_of(i: int, n_docs: int) -> Tuple[str, int, int]:
    """(dup_class, group_id, variant) for row i — pure arithmetic layout.

    Rows are laid out in class-contiguous blocks; group structure is derived
    from the offset within the block so any row is computable independently.
    """
    pos = i / max(1, n_docs)
    acc = 0.0
    for name, frac in _CLASS_FRACTIONS:
        if pos < acc + frac or name == _CLASS_FRACTIONS[-1][0]:
            off = i - int(acc * n_docs)
            if name == "unique":
                return name, i, 0
            if name == "exact":
                g, v = divmod(off, 3)  # groups of 3 byte-identical copies
                return name, g, v
            if name in ("near_minhash", "near_simhash"):
                g, v = divmod(off, 3)  # base + 2 perturbed variants
                return name, g, v
            if name == "substring":
                g, v = divmod(off, 2)  # host doc + embedding doc
                return name, g, v
            # boilerplate: one big template group per 600 docs
            g, v = divmod(off, 600)
            return name, g, v
        acc += frac
    raise AssertionError("unreachable")


def _lang_of(seed: int, dup_class: str, group_id: int) -> str:
    rng = _rng_for(seed, 2002, _stable_key(dup_class, group_id))
    r = rng.rand()
    if r < 0.90:
        return "en"
    return ["zh", "de", "fr"][rng.randint(3)]


def _make_text(i: int, n_docs: int, seed: int) -> Tuple[str, str, str, int, int]:
    """(text, lang, dup_class, group_id, variant) for row i."""
    dup_class, group_id, variant = _class_of(i, n_docs)
    gkey = _stable_key(dup_class, group_id)
    lang = _lang_of(seed, dup_class, group_id)

    if dup_class == "unique":
        toks = _base_text(seed, gkey, lang)
        return " ".join(toks), lang, dup_class, group_id, variant

    base = _base_text(seed, gkey, lang)

    if dup_class == "exact":
        return " ".join(base), lang, dup_class, group_id, variant

    if dup_class == "near_minhash":
        if variant == 0:
            return " ".join(base), lang, dup_class, group_id, variant
        # substitute a fraction of tokens; fractions straddle theta=0.8
        frac = [0.02, 0.05, 0.10, 0.16][(group_id + variant) % 4]
        rng = _rng_for(seed, 3003, gkey, variant)
        toks = list(base)
        k = max(1, int(len(toks) * frac))
        idxs = rng.choice(len(toks), size=min(k, len(toks)), replace=False)
        words, _ = _vocab(seed)
        for j in idxs:
            toks[j] = words[rng.randint(len(words))]
        return " ".join(toks), lang, dup_class, group_id, variant

    if dup_class == "near_simhash":
        if variant == 0:
            return " ".join(base), lang, dup_class, group_id, variant
        # tiny edits: substitute 1-4 tokens → Hamming distance near the
        # simhash_dist=10 decision edge
        rng = _rng_for(seed, 4004, gkey, variant)
        toks = list(base)
        k = rng.randint(1, 5)
        words, _ = _vocab(seed)
        for j in rng.choice(len(toks), size=min(k, len(toks)), replace=False):
            toks[j] = words[rng.randint(len(words))]
        return " ".join(toks), lang, dup_class, group_id, variant

    if dup_class == "substring":
        # the class contract is a GUARANTEED >=200-char shared contiguous
        # span; short bases (e.g. 50-token zh docs ≈ 150 chars) could not
        # hold one, so extend the group's base deterministically first —
        # variant 0 is " ".join(base), so host and base stay consistent
        chars = sum(len(t) + 1 for t in base)
        if chars < 400:
            ext = _rng_for(seed, 5050, gkey)
            words, cjk = _vocab(seed)
            while chars < 400:
                if lang == "zh":
                    t = "".join(
                        cjk[j]
                        for j in ext.randint(0, len(cjk), ext.randint(1, 4))
                    )
                else:
                    t = words[ext.randint(len(words))]
                base.append(t)
                chars += len(t) + 1
        rng = _rng_for(seed, 5005, gkey, variant)
        if variant == 0:
            return " ".join(base), lang, dup_class, group_id, variant
        # host doc embeds a >=260-char contiguous span of the base doc;
        # start is drawn only from positions whose suffix still holds >=270
        # chars so the span never runs out of base
        tail = 0
        max_start = 0
        for s in range(len(base) - 1, -1, -1):
            tail += len(base[s]) + 1
            if tail >= 270:
                max_start = s
                break
        start = rng.randint(0, max_start + 1)
        span_toks = []
        span_len = 0
        for t in base[start:]:
            span_toks.append(t)
            span_len += len(t) + 1
            if span_len >= 260:
                break
        host = _base_text(seed, gkey + 7_777_777, lang)
        cut = rng.randint(0, len(host))
        toks = host[:cut] + span_toks + host[cut:]
        return " ".join(toks), lang, dup_class, group_id, variant

    # boilerplate: shared template header/footer (~70% of tokens), unique middle
    rng = _rng_for(seed, 6006, gkey, variant)
    header = _base_text(seed, gkey ^ 0x5EED, lang)[:140]
    footer = _base_text(seed, gkey ^ 0x0F00, lang)[:140]
    words, _ = _vocab(seed)
    middle = [words[j] for j in rng.randint(0, len(words), 120)]
    return " ".join(header + middle + footer), lang, dup_class, group_id, variant


def _html_wrap(text: str, i: int) -> bytes:
    return (
        f"<html><head><title>doc-{i}</title></head><body><p>{text}</p></body></html>"
    ).encode("utf-8")


def make_page_row(i: int, n_docs: int, seed: int = 42) -> dict:
    text, lang, dup_class, group_id, variant = _make_text(i, n_docs, seed)
    path_hash = hashlib.sha1(f"{seed}|{i}".encode()).hexdigest()[:16]
    return {
        "url": f"https://site{i % 97}.example/{path_hash}",
        "warc_ts": _BASE_TS + timedelta(seconds=int(i) * 7),
        "html": _html_wrap(text, i),
        "text": text,
        "lang": lang,
        "doc_order": i,
        "dup_class": dup_class,
        "group_id": _stable_key(dup_class, group_id),
        "variant": variant,
    }


def generate_pages_pdf(n_docs: int, seed: int = 42) -> pd.DataFrame:
    """Driver-side generation (tests, n <= ~20k)."""
    return pd.DataFrame([make_page_row(i, n_docs, seed) for i in range(n_docs)])


def generate_pages(
    spark: SparkSession,
    n_docs: int,
    seed: int = 42,
    with_truth: bool = False,
    num_partitions: int = 32,
) -> DataFrame:
    """Distributed generation: spark.range(n) → mapInPandas. Each task derives
    its rows purely from the row index — no driver materialization, identical
    bytes at any partitioning (the scale path for bench corpora)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [make_page_row(int(i), n_docs, seed) for i in pdf["id"]]
            yield pd.DataFrame(rows)

    schema = PAGES_TRUTH_SCHEMA
    df = (
        spark.range(0, n_docs, numPartitions=num_partitions)
        .mapInPandas(gen, schema=schema)
    )
    if not with_truth:
        df = df.select("url", "warc_ts", "html", "text", "lang", "doc_order")
    return df


# ---------------------------------------------------------------------------
# html → text extraction (P10): byte-identical per url
# ---------------------------------------------------------------------------


def make_extract_text_udf():
    """Arrow UDF: html binary → extracted text. For the synthetic corpus the
    payload is the <p>…</p> body; a production deployment swaps the body of
    this function for a real extractor (trafilatura etc. — not in this image).
    The invariant under test: output is byte-identical to the `text` column."""

    @pandas_udf(T.StringType())
    def extract_text(html: pd.Series) -> pd.Series:
        out = []
        for raw in html:
            if raw is None:
                out.append(None)
                continue
            s = bytes(raw).decode("utf-8", errors="ignore")
            start = s.find("<p>")
            end = s.rfind("</p>")
            out.append(s[start + 3 : end] if (start != -1 and end > start) else "")
        return pd.Series(out)

    return extract_text


def extract_text_col(html_col) -> "F.Column":
    """JVM-side equivalent (regexp_extract with DOTALL) — stays inside
    whole-stage codegen; preferred when the extraction rule is regular."""
    return F.regexp_extract(F.decode(html_col, "UTF-8"), r"(?s)<p>(.*)</p>", 1)


# ---------------------------------------------------------------------------
# driver testdata loaders
# ---------------------------------------------------------------------------

TESTDATA_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
