"""Sequence packing layout (operators/packing.py): hand-computed spec,
tiling invariants, empty-doc separator accounting, input-partitioning
determinism, DuckDB oracle parity, and shard_stats consistency."""

import hashlib

import duckdb
import pytest

from deduplication_framework_spark.operators.packing import (
    DEFAULT_SALT,
    pack_sequences,
    pack_sequences_sql,
    shard_stats,
)

TEXTS = [
    (0, "one two three"),
    (1, "a b c d e f g"),
    (2, ""),  # empty: 0 tokens + 1 separator
    (3, "   "),  # whitespace-only: same
    (4, "lone"),
    (5, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
    (6, "x y"),
    (7, "p q r s"),
]
N_SHARDS = 3
SEQ_LEN = 8


def _h60(i: int, salt: str = DEFAULT_SALT) -> int:
    return int(
        hashlib.md5(f"{i}:{salt}".encode()).hexdigest()[17:32], 16
    )


def _hand_layout():
    shards = {}
    for i, t in TEXTS:
        h = _h60(i)
        n = len(t.split())
        shards.setdefault(h % N_SHARDS, []).append((h, i, n))
    out = {}
    for s, docs in shards.items():
        start = 0
        for pos, (h, i, n) in enumerate(sorted(docs)):
            end = start + n + 1
            out[i] = (
                s,
                pos,
                n,
                start,
                end,
                start // SEQ_LEN,
                (end - 1) // SEQ_LEN,
            )
            start = end
    return out


@pytest.fixture(scope="module")
def packed(spark):
    df = spark.createDataFrame(TEXTS, ["doc_id", "text"])
    return {
        r.doc_id: r
        for r in pack_sequences(
            df, seq_len=SEQ_LEN, n_shards=N_SHARDS
        ).collect()
    }


def test_matches_hand_layout(packed):
    hand = _hand_layout()
    assert set(packed) == set(hand)
    for i, (s, pos, n, a, b, sf, sl) in hand.items():
        r = packed[i]
        got = (
            r.shard,
            r.pos,
            r.n_tokens,
            r.tok_start,
            r.tok_end,
            r.seq_first,
            r.seq_last,
        )
        assert got == (s, pos, n, a, b, sf, sl), i


def test_intervals_tile_each_shard(packed):
    by_shard = {}
    for r in packed.values():
        by_shard.setdefault(r.shard, []).append(r)
    for rows in by_shard.values():
        rows.sort(key=lambda r: r.pos)
        assert rows[0].tok_start == 0
        assert [r.pos for r in rows] == list(range(len(rows)))
        for prev, cur in zip(rows, rows[1:]):
            assert cur.tok_start == prev.tok_end
        for r in rows:
            assert r.tok_end == r.tok_start + r.n_tokens + 1


def test_empty_docs_occupy_one_separator(packed):
    for i in (2, 3):
        assert packed[i].n_tokens == 0
        assert packed[i].tok_end == packed[i].tok_start + 1


def test_layout_independent_of_input_partitioning(spark, packed):
    df = spark.createDataFrame(TEXTS, ["doc_id", "text"]).repartition(7)
    again = {
        r.doc_id: r
        for r in pack_sequences(
            df, seq_len=SEQ_LEN, n_shards=N_SHARDS
        ).collect()
    }
    assert {i: tuple(r) for i, r in again.items()} == {
        i: tuple(r) for i, r in packed.items()
    }


def test_duckdb_oracle_parity(spark):
    df = spark.createDataFrame(TEXTS, ["doc_id", "text"])
    sp = (
        pack_sequences(df, seq_len=SEQ_LEN, n_shards=N_SHARDS)
        .orderBy("doc_id")
        .toPandas()
    )
    con = duckdb.connect()
    con.register("docs", df.toPandas())
    du = con.execute(
        pack_sequences_sql(
            table="docs", seq_len=SEQ_LEN, n_shards=N_SHARDS
        )
        + " ORDER BY doc_id"
    ).df()
    assert list(sp.columns) == list(du.columns)
    for c in sp.columns:
        assert sp[c].astype("int64").tolist() == du[c].astype(
            "int64"
        ).tolist(), c


def test_shard_stats_consistency(spark, packed):
    df = spark.createDataFrame(TEXTS, ["doc_id", "text"])
    p = pack_sequences(df, seq_len=SEQ_LEN, n_shards=N_SHARDS)
    stats = {r.shard: r for r in shard_stats(p, seq_len=SEQ_LEN).collect()}
    by_shard = {}
    for r in packed.values():
        by_shard.setdefault(r.shard, []).append(r)
    assert set(stats) == set(by_shard)
    for s, rows in by_shard.items():
        total = max(r.tok_end for r in rows)
        assert stats[s].n_docs == len(rows)
        assert stats[s].n_tokens_total == total
        assert (
            stats[s].n_full_sequences * SEQ_LEN
            + stats[s].tail_tokens_dropped
            == total
        )


def test_duplicate_doc_ids_still_tile(spark):
    # ROWS (not RANGE) frame: duplicated (h, doc_id) rows must get
    # DISTINCT cumulative tok_ends, keeping the tiling invariant
    df = spark.createDataFrame(
        [(1, "a b c"), (1, "a b c"), (2, "x")], ["doc_id", "text"]
    )
    rows = sorted(
        pack_sequences(df, seq_len=4, n_shards=1).collect(),
        key=lambda r: r.pos,
    )
    assert rows[0].tok_start == 0
    for prev, cur in zip(rows, rows[1:]):
        assert cur.tok_start == prev.tok_end
    assert len({r.tok_end for r in rows}) == 3
