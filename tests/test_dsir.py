"""DSIR importance weighting (operators/dsir.py): hand-computed spec
check of the hashed-unigram log-likelihood ratio, DuckDB oracle parity,
planted vocab-shift discrimination, and edge conventions (empty docs,
all-target / no-target degenerate slices)."""

import hashlib
import math
from collections import Counter

import duckdb
import pytest

from deduplication_framework_spark.operators.dsir import (
    DEFAULT_BUCKETS,
    dsir_log_weights,
    dsir_oracle_sql,
)
from deduplication_framework_spark.operators.lsh import (
    release_census_caches,
)

# target-looking docs draw from one vocab, raw-looking from another,
# with a bridge token shared by both; one empty doc must vanish
TEXTS = [
    (0, "good clean prose text", True),
    (1, "good prose shared words", True),
    (2, "spammy junk tokens shared", False),
    (3, "junk junk spammy noise", False),
    (4, "   ", False),  # whitespace-only: no output row
    (5, "good prose clean text words", False),  # target-like but raw-slice
]


def _bucket(tok: str) -> int:
    return int(hashlib.md5(tok.encode()).hexdigest()[17:32], 16) % (
        DEFAULT_BUCKETS
    )


def _micro(x: float) -> int:
    # ROUND(ln(x) * 1e6) half-up, matching operators/lm.py _micro_ln
    return math.floor(math.log(x) * 1_000_000 + 0.5)


def _hand_weights():
    docs = {
        i: t.strip().lower().split() for i, t, _ in TEXTS if t.strip()
    }
    target = {i for i, _, is_t in TEXTS if is_t}
    cr = Counter(
        _bucket(w)
        for i, t in docs.items()
        if i not in target
        for w in t
    )
    ct = Counter(
        _bucket(w) for i, t in docs.items() if i in target for w in t
    )
    tr, tt = sum(cr.values()), sum(ct.values())
    b = DEFAULT_BUCKETS
    out = {}
    for i, toks in docs.items():
        w = sum(
            (_micro(ct[_bucket(t)] + 1) - _micro(tt + b))
            - (_micro(cr[_bucket(t)] + 1) - _micro(tr + b))
            for t in toks
        )
        out[i] = (len(toks), w)
    return out


@pytest.fixture(scope="module")
def scored(spark):
    df = spark.createDataFrame(TEXTS, ["doc_id", "text", "is_t"])
    rows = {
        r.doc_id: r
        for r in dsir_log_weights(df, target_col="is_t").collect()
    }
    release_census_caches()
    return rows


def test_matches_hand_computation(scored):
    hand = _hand_weights()
    assert set(scored) == set(hand)
    for i, (n, w) in hand.items():
        assert scored[i].n_tokens == n, i
        assert scored[i].logw_micro == w, i
        assert scored[i].selected == (w > 0), i


def test_planted_shift_separates(scored):
    # target-vocab docs (incl. the target-like doc in the raw slice)
    # score strictly above the junk-vocab docs, and selection agrees
    per_tok = {
        i: r.logw_micro / r.n_tokens for i, r in scored.items()
    }
    assert min(per_tok[0], per_tok[1], per_tok[5]) > max(
        per_tok[2], per_tok[3]
    )
    assert scored[0].selected and scored[1].selected
    assert scored[5].selected  # looks target-like => selected
    assert not scored[2].selected and not scored[3].selected


def test_duckdb_oracle_parity(spark):
    df = spark.createDataFrame(TEXTS, ["doc_id", "text", "is_t"])
    sp = (
        dsir_log_weights(df, target_col="is_t")
        .orderBy("doc_id")
        .toPandas()
    )
    release_census_caches()
    con = duckdb.connect()
    con.register("documents", df.toPandas())
    du = con.execute(
        dsir_oracle_sql(
            table="documents",
            id_col="doc_id",
            text_col="text",
            target_pred="is_t",
        )
        + " ORDER BY doc_id"
    ).df()
    assert len(sp) == len(du) == 5
    for col in ("doc_id", "n_tokens", "logw_micro"):
        assert sp[col].astype("int64").tolist() == du[col].astype(
            "int64"
        ).tolist(), col
    assert sp["selected"].astype(bool).tolist() == du["selected"].astype(
        bool
    ).tolist()


def test_identical_slices_degenerate_to_zero(spark):
    # the same token stream on both sides -> ct == cr per bucket and
    # tt == tr, so every term (and every doc weight) is exactly 0
    df = spark.createDataFrame(
        [
            (i + 1000 * s, t, bool(s))
            for i, t, _ in TEXTS
            if t.strip()
            for s in (0, 1)
        ],
        ["doc_id", "text", "is_t"],
    )
    rows = dsir_log_weights(df, target_col="is_t").collect()
    release_census_caches()
    assert rows and all(r.logw_micro == 0 for r in rows)
    assert all(not r.selected for r in rows)  # strict > 0


def test_empty_corpus_returns_empty_frame(spark):
    df = spark.createDataFrame(
        [(1, "   ", True), (2, "", False)], ["doc_id", "text", "is_t"]
    )
    out = dsir_log_weights(df, target_col="is_t")
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "doc_id", "n_tokens", "logw_micro", "selected",
    ]
    release_census_caches()
