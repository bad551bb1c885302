"""Span-level keep-first dedup (operators/spans.py) vs a sequential oracle."""

import random

import pytest

from deduplication_framework_spark.operators.spans import (
    dedup_spans,
    dedup_spans_df,
    explode_spans,
)


def _oracle(docs, sep="\n"):
    """Sequential keep-first: walk docs in id order, spans in position
    order; a span survives iff its exact text was never seen before."""
    seen = set()
    out = {}
    for doc_id, text in docs:
        spans = [s for s in text.split(sep) if s.strip() != ""]
        kept = []
        for s in spans:
            if s not in seen:
                seen.add(s)
                kept.append(s)
        out[doc_id] = (len(spans), len(kept), sep.join(kept))
    return out


HEADER = "all rights reserved"
FOOTER = "powered by the same cms"


def _corpus():
    rng = random.Random(7)
    docs = []
    for i in range(40):
        body = [
            f"unique paragraph {i}-{j} " + " ".join(
                rng.choice("alpha beta gamma delta".split()) for _ in range(5)
            )
            for j in range(rng.randint(1, 4))
        ]
        lines = [HEADER] + body + [FOOTER]
        if i % 7 == 0 and body:
            lines.append(body[0])  # within-doc repeat
        if i % 11 == 3:
            lines = [HEADER, FOOTER]  # pure-boilerplate doc
        if i % 5 == 0:
            lines.insert(1, "   ")  # blank-ish span: dropped on both sides
        docs.append((i, "\n".join(lines)))
    return docs


def test_dedup_spans_matches_sequential_oracle(spark):
    docs = _corpus()
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r.doc_id: (r.n_spans, r.n_kept, r.text_dedup)
        for r in dedup_spans(df).collect()
    }
    want = _oracle(docs)
    assert got == want
    # boilerplate-only docs past the first occurrences re-emit empty
    assert any(k == 0 for (_, k, _) in got.values())


def test_dedup_spans_keeps_first_occurrence_only(spark):
    df = spark.createDataFrame(
        [(1, "a\nb"), (2, "b\nc\nb"), (3, "c\na")], ["doc_id", "text"]
    )
    out = {r.doc_id: r.text_dedup for r in dedup_spans(df).collect()}
    assert out == {1: "a\nb", 2: "c", 3: ""}


def test_explode_spans_positions_and_blank_filter(spark):
    df = spark.createDataFrame([(9, "x\n\n  \ny")], ["doc_id", "text"])
    rows = sorted(
        explode_spans(df).select("pos", "span").collect(),
        key=lambda r: r.pos,
    )
    assert [(r.pos, r.span) for r in rows] == [(0, "x"), (3, "y")]


def test_cli_span_dedup_preprocessing(spark, tmp_path):
    """--span-dedup end to end: boilerplate spans vanish from later docs,
    fully-boilerplate docs are dropped and counted, and the resume key
    distinguishes the preprocessed run."""
    import json

    from deduplication_framework_spark.__main__ import main

    inp = str(tmp_path / "pages")
    spark.createDataFrame(
        [
            (0, "u0", "intro zero\nshared boilerplate\nbody zero", "en"),
            (1, "u1", "intro one\nshared boilerplate\nbody one", "en"),
            (2, "u2", "shared boilerplate", "en"),
            (3, "u3", "  ", "en"),  # span-less: passes through, not "emptied"
        ],
        ["doc_order", "url", "text", "lang"],
    ).write.parquet(inp)
    out = str(tmp_path / "out")
    assert main([
        "--input", inp, "--output", out,
        "--detectors", "exact", "--span-dedup",
    ]) == 0

    summary = json.loads((tmp_path / "out" / "summary.json").read_text())
    assert summary["metrics"]["span_dedup.n_spans"] == 7.0
    assert summary["metrics"]["span_dedup.n_spans_kept"] == 5.0
    assert summary["metrics"]["span_dedup.n_docs_emptied"] == 1.0
    keepers = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{out}/keepers").collect()
    }
    assert keepers == {
        0: "intro zero\nshared boilerplate\nbody zero",
        1: "intro one\nbody one",
        3: "  ",
    }


def test_input_tag_changes_resume_key():
    from deduplication_framework_spark.config import PipelineConfig
    from deduplication_framework_spark.plans.pipeline import (
        effective_config_hash,
    )

    cfg = PipelineConfig()
    base = effective_config_hash(cfg, ["exact"], True)
    assert base == effective_config_hash(cfg, ["exact"], True, input_tag="")
    assert base != effective_config_hash(
        cfg, ["exact"], True, input_tag="span_dedup:\n"
    )


def test_dedup_spans_df_order_col(spark):
    """Keeper follows order_col, not id: the later-id doc with the earlier
    order owns the shared span."""
    spans = spark.createDataFrame(
        [(10, 5, 0, "dup"), (20, 1, 0, "dup")],
        ["doc_id", "doc_order", "pos", "span"],
    )
    kept = dedup_spans_df(spans, order_col="doc_order").collect()
    assert [(r.doc_id, r.span) for r in kept] == [(20, "dup")]


class TestNearDedupSpans:
    """near_dedup_spans vs a sequential exact-Jaccard oracle computed
    from the SAME spec kernels (normalize + multigranularity grams) the
    verify UDF uses — clusters are CC over all-pairs J >= threshold on
    distinct span texts, keeper = earliest (doc, pos) occurrence.
    Planted near-dups sit at J >= 0.9, far above the 0.8 threshold, so
    LSH band capture is deterministic-complete at this scale."""

    SEP = "\n"

    def _corpus(self):
        rng = random.Random(13)
        base = ("this boilerplate footer sentence repeats across many "
                "pages with only tiny edits over time word " * 2).strip()
        variants = [
            base,
            base.replace("tiny", "small"),
            base.replace("time", "months"),
            base + " extra",
        ]
        docs = []
        for i in range(30):
            paras = [
                f"unique paragraph {i}-{j} " + " ".join(
                    rng.choice("red green blue cyan violet".split())
                    for _ in range(8)
                )
                for j in range(2)
            ]
            if i % 3 == 0:
                paras.insert(1, variants[(i // 3) % len(variants)])
            docs.append((i, self.SEP.join(paras)))
        return docs

    def _oracle_fuzzy(self, docs, threshold):
        from deduplication_framework_spark.config import PipelineConfig
        from deduplication_framework_spark.functions import kernels as K

        emb = PipelineConfig().embedding
        first = {}  # span text -> (doc, pos)
        order = []
        for doc_id, text in docs:
            for pos, s in enumerate(text.split(self.SEP)):
                if s.strip() == "":
                    continue
                if s not in first:
                    first[s] = (doc_id, pos)
                    order.append(s)
        feats = {
            s: set(
                K.multigranularity_ngrams(
                    K.normalize_text(
                        s, emb.lowercase, emb.strip_non_alnum,
                        emb.collapse_whitespace, emb.strip_mode,
                    ),
                    emb.ngram_size,
                )
            )
            for s in order
        }
        parent = {s: s for s in order}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for i, a in enumerate(order):
            for b in order[i + 1:]:
                fa, fb = feats[a], feats[b]
                if not fa and not fb:
                    continue
                j = len(fa & fb) / len(fa | fb)
                if j >= threshold:
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        parent[rb] = ra
        keeper = {}
        for s in order:
            r = find(s)
            if r not in keeper or first[s] < first[keeper[r]]:
                keeper[r] = s
        survivors = {keeper[find(s)] for s in order}
        out = {}
        for doc_id, text in docs:
            spans = [s for s in text.split(self.SEP) if s.strip() != ""]
            kept = [
                s for pos, s in enumerate(spans)
                if s in survivors and first[s] == (doc_id, pos)
            ]
            out[doc_id] = (len(spans), len(kept), self.SEP.join(kept))
        return out

    def test_matches_sequential_fuzzy_oracle(self, spark):
        from deduplication_framework_spark.operators.lsh import (
            release_census_caches,
        )
        from deduplication_framework_spark.operators.spans import (
            near_dedup_spans,
        )

        docs = self._corpus()
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        out, info = near_dedup_spans(df, sep=self.SEP)
        got = {
            r.doc_id: (r.n_spans, r.n_kept, r.text_dedup)
            for r in out.collect()
        }
        assert got == self._oracle_fuzzy(docs, 0.8)
        # the 4 boilerplate variants collapsed into ONE surviving span
        # (0-1,0-2,0-3 verify >= 0.8; 1-2 at 0.72 joins transitively)
        n_docs_with = sum(
            1 for v in got.values() if "boilerplate footer" in v[2]
        )
        assert n_docs_with == 1
        assert info["n_exact_reps"] > 0 and info["cc_rounds"] >= 0
        release_census_caches()

    def test_threshold_above_one_degenerates_to_exact(self, spark):
        from deduplication_framework_spark.config import PipelineConfig
        from deduplication_framework_spark.operators.lsh import (
            release_census_caches,
        )
        from deduplication_framework_spark.operators.spans import (
            near_dedup_spans,
        )

        docs = self._corpus()
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        cfg = PipelineConfig()
        cfg.dedup.threshold = 1.5  # no edge can verify -> exact semantics
        out, _ = near_dedup_spans(df, sep=self.SEP, cfg=cfg)
        exact = dedup_spans(df, sep=self.SEP)
        got = {r.doc_id: (r.n_spans, r.n_kept, r.text_dedup)
               for r in out.collect()}
        want = {r.doc_id: (r.n_spans, r.n_kept, r.text_dedup)
                for r in exact.collect()}
        assert got == want
        release_census_caches()


def test_near_dedup_spans_explicit_order_col(spark):
    """order_col != id_col: keep-first ranks by the explicit order (the
    regression where explode_spans dropped the order column)."""
    from deduplication_framework_spark.operators.lsh import (
        release_census_caches,
    )
    from deduplication_framework_spark.operators.spans import near_dedup_spans

    rows = [  # doc 10 comes FIRST by doc_order despite the larger id
        (10, 0, "shared span text here\nother a"),
        (3, 1, "shared span text here\nother b"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "doc_order", "text"])
    out, _ = near_dedup_spans(df, order_col="doc_order")
    got = {r.doc_id: r.text_dedup for r in out.collect()}
    assert got[10] == "shared span text here\nother a"
    assert got[3] == "other b"
    release_census_caches()


def test_cli_span_dedup_fuzzy(spark, tmp_path):
    """--span-dedup --span-dedup-fuzzy: a lightly-edited boilerplate span
    in a later doc collapses onto the first occurrence (exact mode would
    keep both); flag without --span-dedup is an argparse error."""
    import json

    import pytest

    from deduplication_framework_spark.__main__ import main

    base = ("long boilerplate footer text repeated across pages with "
            "only a tiny edit over time here " * 2).strip()
    # J = 0.952 vs base -> 5 of 9 bands collide at (b=9, r=13): capture
    # is deterministic-robust (a 0.83-J single-word edit can miss LSH
    # banding legitimately — near-threshold misses are the S-curve, not
    # a bug)
    edited = base + " extra"
    inp = str(tmp_path / "pages_f")
    spark.createDataFrame(
        [
            (0, "u0", f"intro zero\n{base}\nbody zero", "en"),
            (1, "u1", f"intro one\n{edited}\nbody one", "en"),
        ],
        ["doc_order", "url", "text", "lang"],
    ).write.parquet(inp)
    out = str(tmp_path / "out_f")
    assert main([
        "--input", inp, "--output", out,
        "--detectors", "exact", "--span-dedup", "--span-dedup-fuzzy",
    ]) == 0
    summary = json.loads((tmp_path / "out_f" / "summary.json").read_text())
    assert summary["metrics"]["span_dedup.n_spans"] == 6.0
    assert summary["metrics"]["span_dedup.n_spans_kept"] == 5.0
    keepers = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{out}/keepers").collect()
    }
    assert keepers[0] == f"intro zero\n{base}\nbody zero"
    assert keepers[1] == "intro one\nbody one"

    with pytest.raises(SystemExit):
        main([
            "--input", inp, "--output", str(tmp_path / "o_err"),
            "--span-dedup-fuzzy",
        ])


class TestRepeatedSubstrings:
    """ExactSubstr removal (operators/spans.py::remove_repeated_substrings):
    raw and hash key modes against an independent brute-force gram oracle."""

    def _oracle(self, texts, L, min_count=2):
        from collections import Counter

        counts = Counter()
        for t in texts.values():
            for i in range(len(t) - L + 1):
                counts[t[i : i + L]] += 1
        out = {}
        for did, t in texts.items():
            cov = sorted(
                i for i in range(len(t) - L + 1)
                if counts[t[i : i + L]] >= min_count
            )
            spans = []
            for p in cov:
                if spans and p <= spans[-1][1]:
                    spans[-1][1] = max(spans[-1][1], p + L)
                else:
                    spans.append([p, p + L])
            clean, last = [], 0
            for a, b in spans:
                clean.append(t[last:a])
                last = b
            clean.append(t[last:])
            out[did] = (
                len(t),
                sum(b - a for a, b in spans),
                len(spans),
                "".join(clean),
            )
        return out

    @pytest.mark.parametrize("key_mode", ["raw", "hash"])
    def test_matches_bruteforce_oracle(self, spark, key_mode):
        from deduplication_framework_spark.operators.spans import (
            remove_repeated_substrings,
        )

        q = "the long boilerplate quote shared verbatim"
        texts = {
            0: "alpha prefix " + q + " alpha suffix",
            1: "a completely different beginning then " + q + " tail",
            2: "no repeated content here at all just original words",
            3: "self " + q + " mid " + q,      # within-doc repeat
            4: q,                               # whole doc = the quote
            5: "",                              # empty
            6: "short",                         # shorter than min_len
        }
        out, stats = remove_repeated_substrings(
            spark.createDataFrame(
                list(texts.items()), ["doc_id", "text"]
            ),
            min_len=12,
            key_mode=key_mode,
        )
        got = {
            r.doc_id: (
                r.n_chars,
                r.n_removed_chars,
                r.n_spans_removed,
                r.text_clean,
            )
            for r in out.collect()
        }
        assert got == self._oracle(texts, 12)
        # the quote really was cut from every copy, incl. the whole-doc one
        assert got[4][3] == "" and got[3][2] >= 1
        assert stats["n_hot_grams"] > 0
        assert stats["hot_join_path"] == "broadcast"

    def test_adjacent_intervals_fuse_into_one_removed_span(self, spark):
        from deduplication_framework_spark.operators.spans import (
            remove_repeated_substrings,
        )

        # two hot 8-grams meeting end-to-start inside one doc: positions
        # p and p+8 cover [p, p+16) contiguously -> ONE removed span
        a8, b8 = "AAAAAAAA", "BBBBBBBB"
        texts = {
            0: "xx" + a8 + b8 + "yy",
            1: "zz " + a8 + " qq " + b8 + " ww",
        }
        out, _ = remove_repeated_substrings(
            spark.createDataFrame(
                list(texts.items()), ["doc_id", "text"]
            ),
            min_len=8,
            key_mode="raw",
        )
        got = {r.doc_id: r for r in out.collect()}
        assert got[0].n_spans_removed == 1
        assert got[0].text_clean == "xxyy"
        assert self._oracle(texts, 8)[0] == (
            got[0].n_chars,
            got[0].n_removed_chars,
            got[0].n_spans_removed,
            got[0].text_clean,
        )

    def test_validation(self, spark):
        from deduplication_framework_spark.operators.spans import (
            remove_repeated_substrings,
        )

        df = spark.createDataFrame([(0, "x")], ["doc_id", "text"])
        with pytest.raises(ValueError, match="key_mode"):
            remove_repeated_substrings(df, key_mode="bogus")
        with pytest.raises(ValueError, match="min_len"):
            remove_repeated_substrings(df, min_len=1)
        with pytest.raises(ValueError, match="min_count"):
            remove_repeated_substrings(df, min_count=1)


def test_cli_repeated_substring_preprocessing(spark, tmp_path):
    """--remove-repeated-substrings end to end: the unaligned quote is cut
    from every doc, the all-quote doc is dropped and counted, untouched
    docs keep byte-identical text, and --sweep rejects the flag."""
    import json

    from deduplication_framework_spark.__main__ import main

    q = "shared verbatim boilerplate quote here"
    inp = str(tmp_path / "pages_rss")
    spark.createDataFrame(
        [
            (0, "u0", "intro zero " + q + " body zero", "en"),
            (1, "u1", "different intro then " + q + " and a tail", "en"),
            (2, "u2", q, "en"),
            (3, "u3", "untouched original document text", "en"),
        ],
        ["doc_order", "url", "text", "lang"],
    ).write.parquet(inp)
    out = str(tmp_path / "out_rss")
    assert main([
        "--input", inp, "--output", out,
        "--detectors", "exact", "--remove-repeated-substrings", "12",
    ]) == 0
    summary = json.loads((tmp_path / "out_rss" / "summary.json").read_text())
    m = summary["metrics"]
    assert m["repeated_substrings.n_docs_touched"] == 3.0
    assert m["repeated_substrings.n_docs_emptied"] == 1.0
    assert m["repeated_substrings.n_removed_chars"] >= 3 * len(q)
    keepers = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{out}/keepers").collect()
    }
    assert 2 not in keepers
    assert keepers[3] == "untouched original document text"
    assert q not in keepers[0] and q not in keepers[1]
    with pytest.raises(SystemExit):
        main([
            "--synthetic", "20", "--output", str(tmp_path / "o_swp"),
            "--sweep", "--remove-repeated-substrings", "12",
        ])
    with pytest.raises(SystemExit):
        main([
            "--synthetic", "20", "--output", str(tmp_path / "o_bad"),
            "--remove-repeated-substrings", "1",
        ])


def test_repeated_substring_layer_passes_null_text_through(spark):
    """Review-finding regression: untouched docs keep their ORIGINAL text
    byte-identical through the CLI layer — including NULL (the operator
    coalesces internally; the layer must not launder NULL into '')."""
    from pyspark.sql import types as T

    from deduplication_framework_spark.__main__ import (
        _repeated_substring_pages,
    )

    q = "a shared quote long enough to trip the gram census"
    schema = T.StructType(
        [
            T.StructField("doc_order", T.LongType()),
            T.StructField("url", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    pages = spark.createDataFrame(
        [
            (0, "u0", "first " + q + " tail zero", "en"),
            (1, "u1", "second " + q + " tail one", "en"),
            (2, "u2", None, "en"),
            (3, "u3", "plain untouched text", "en"),
        ],
        schema,
    )
    out, metrics = _repeated_substring_pages(pages, min_len=12)
    got = {r.doc_order: r.text for r in out.collect()}
    assert got[2] is None
    assert got[3] == "plain untouched text"
    assert q not in got[0] and q not in got[1]
    assert metrics["repeated_substrings.n_docs_touched"] == 2.0


def test_repeated_substrings_property_small_alphabet(spark):
    """Hypothesis-style adversarial corpus (deterministic seeds, tiny
    'ab '-alphabet, L=3): maximal overlap between hot grams stresses the
    interval-union path far harder than prose. Both key modes must match
    the brute-force oracle on every corpus."""
    import random

    from deduplication_framework_spark.operators.spans import (
        remove_repeated_substrings,
    )

    def oracle(texts, L, min_count=2):
        from collections import Counter

        counts = Counter()
        for t in texts.values():
            for i in range(len(t) - L + 1):
                counts[t[i : i + L]] += 1
        out = {}
        for did, t in texts.items():
            cov = [
                i
                for i in range(len(t) - L + 1)
                if counts[t[i : i + L]] >= min_count
            ]
            spans = []
            for p in cov:
                if spans and p <= spans[-1][1]:
                    spans[-1][1] = max(spans[-1][1], p + L)
                else:
                    spans.append([p, p + L])
            clean, last = [], 0
            for a, b in spans:
                clean.append(t[last:a])
                last = b
            clean.append(t[last:])
            out[did] = (
                len(t),
                sum(b - a for a, b in spans),
                len(spans),
                "".join(clean),
            )
        return out

    for seed in range(4):
        rng = random.Random(seed)
        texts = {
            i: "".join(rng.choice("ab ") for _ in range(rng.randint(0, 14)))
            for i in range(24)
        }
        df = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
        want = oracle(texts, 3)
        for mode in ("raw", "hash"):
            got = {
                r.doc_id: (
                    r.n_chars,
                    r.n_removed_chars,
                    r.n_spans_removed,
                    r.text_clean,
                )
                for r in remove_repeated_substrings(
                    df, min_len=3, key_mode=mode
                )[0].collect()
            }
            assert got == want, (seed, mode)
