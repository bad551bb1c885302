"""Preconditions the DuckDB oracle conversions rely on, asserted explicitly
so a driver-testdata change produces a CLEAR failure here instead of an
opaque value-hash mismatch in CORRECTNESS_r{N}:

* sorter_categories assumes the documents corpus is pure-ASCII printable
  prose (printable ratio >= 0.85, no JSON-parsable text, no magic-prefix
  hits) — the SQL printable-ratio expression is ASCII-scoped;
* semdedup_decisions / ann_topk_bruteforce / embedding_dup_edges assume a
  unit-norm embedding corpus (raw float64 dot == cosine) and comfortable
  float margins at their thresholds (cross-engine summation-order noise is
  ~1e-15; margins must dwarf it);
* ngram_jaccard_edges assumes no pair sits exactly at the 0.8 boundary
  region closer than the documented gap;
* minhash_clusters assumes the pipeline's verified edge set equals the
  all-pairs raw-string-feature J>=0.8 set over exact-dedup reps (LSH
  candidate recall = 1.0, no 32-bit feature-hash collision flips a
  threshold decision, no md5 text collision) — asserted by direct
  edge-set comparison;
* substring_clusters' oracle re-derives winnowing fingerprints in SQL
  arithmetic — asserted bit-for-bit against the Python kernel.

Driver-scale only needs sf0.01 (the gate's SF); sf0.001 rides along free.
"""

import json

import numpy as np
import pytest

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]


def _docs(sf_dir):
    import duckdb

    return duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
    ).df()


def _emb(sf_dir):
    import duckdb

    return duckdb.sql(
        f"SELECT vec_id, label, embedding FROM '{sf_dir}/embeddings.parquet'"
    ).df()


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_documents_are_ascii_printable_non_json(sf_dir):
    # the engine's OWN printable definition (sorter.py), not a local copy —
    # if the sorter's LUT or threshold changes, this precondition test must
    # track it automatically
    from deduplication_framework_spark.functions.sorter import (
        is_mostly_printable,
    )

    d = _docs(sf_dir)
    for t in d.text:
        b = t.encode("utf-8")[:4096]
        assert all(c < 128 for c in b), "non-ASCII doc breaks the sorter oracle"
        assert is_mostly_printable(b), "non-printable doc flips a sorter branch"
        s = t.lstrip()
        assert not s.startswith(("{", "[")), "JSON-shaped doc hits magic sniff"
        try:
            json.loads(t)
            raise AssertionError("JSON-parsable doc changes .json branch")
        except (json.JSONDecodeError, ValueError):
            pass
        head = t[:4096]
        for magic in ("GIF87a", "GIF89a", "ID3", "fLaC"):
            assert not t.startswith(magic)
        assert not (t[:4] == "RIFF" and t[8:12] == "WAVE")
        assert "metadata:image" not in head and "<svg" not in head.lower()


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_embeddings_unit_norm_and_margins(sf_dir):
    e = _emb(sf_dir)
    M = np.stack(e.embedding.to_numpy()).astype(np.float64)
    labels = e.label.to_numpy()
    norms = np.linalg.norm(M, axis=1)
    assert np.abs(norms - 1.0).max() < 1e-5, "raw dot != cosine"

    # semdedup: nearest within-label max-prior sim to the 1-0.7 threshold
    margins = []
    for lab in np.unique(labels):
        idx = np.where(labels == lab)[0]
        if len(idx) < 2:
            continue
        S = M[idx] @ M[idx].T
        mp = np.max(np.triu(S, k=1)[:, 1:], axis=0)
        margins.extend(np.abs(mp - (1.0 - 0.7)))
    assert min(margins) > 1e-9, "semdedup keep decision within float noise"

    # ann top-k: adjacent top-6 dot gaps (exact ties allowed — both engines
    # break them by id; only NEAR-ties inside float noise are dangerous)
    S = M @ M.T
    np.fill_diagonal(S, -np.inf)
    Ss = np.sort(S, axis=1)[:, ::-1]
    gaps = Ss[:, :6] - Ss[:, 1:7]
    nz = gaps[gaps > 0]
    assert nz.min() > 1e-9, "ann rank boundary within float noise"

    # embedding_dup_edges: nearest dot to the 0.3 threshold
    iu = np.triu_indices(len(M), k=1)
    assert np.abs(S[iu] - 0.3).min() > 1e-9


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_srp_oracle_sign_margins_and_bucket_caps(sf_dir):
    """srp_dup_edges' oracle rebuilds the SRP banding bit-for-bit in SQL.
    That conversion is exact iff (a) every sign(plane . x) decision sits
    far outside cross-engine float64 summation noise (~dim * eps ~ 1e-14),
    (b) every bucket is below candidate_pairs' cap so the Spark side takes
    the exact all-pairs path (no salting/star+chain), and (c) the corpus
    dimension matches the plane matrix the oracle inlines."""
    from __spark_entry__ import _SRP_B, _SRP_DIM, _SRP_R, _SRP_SEED

    e = _emb(sf_dir)
    M = np.stack(e.embedding.to_numpy()).astype(np.float64)
    assert M.shape[1] == _SRP_DIM, "corpus dim != oracle plane dim"

    planes = np.random.RandomState(_SRP_SEED).randn(_SRP_B * _SRP_R, _SRP_DIM)
    proj = M @ planes.T
    # measured 2.3e-7 (sf0.001) / 1.2e-5 (sf0.01): 7 orders above noise
    assert np.abs(proj).min() > 1e-9, "sign decision within float noise"

    bits = proj > 0
    w = 1 << np.arange(_SRP_R, dtype=np.int64)
    keys = (
        bits.reshape(len(M), _SRP_B, _SRP_R).astype(np.int64) * w
    ).sum(axis=2)
    from collections import Counter

    sizes = Counter()
    for bi in range(_SRP_B):
        sizes.update((bi, int(k)) for k in keys[:, bi])
    # q_srp_dup_edges uses the default bucket_cap=2000
    assert max(sizes.values()) <= 2000, "hot bucket would trigger salting"


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_minhash_edges_match_raw_jaccard_oracle(sf_dir, spark):
    """The minhash_clusters DuckDB oracle computes edges as all-pairs exact
    Jaccard >= 0.8 of the RAW-STRING feature sets over exact-dedup reps.
    Pin that the pipeline's verified edge set (LSH candidates + 32-bit
    hashed-feature Jaccard) is IDENTICAL on the driver corpus — this
    subsumes LSH recall = 1.0, no hash-collision threshold flips, and
    bucket-cap salting losing no true pair."""
    from pyspark.sql import functions as F

    from deduplication_framework_spark.config import PipelineConfig
    from deduplication_framework_spark.functions import kernels as K
    from deduplication_framework_spark.plans.pipeline import run_pipeline
    from __spark_entry__ import _docs_as_pages

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # no text-hash collision merges distinct exact groups (the oracle
    # groups by text; the pipeline by md5(text))
    nh, nt = docs.agg(
        F.countDistinct(F.md5("text")), F.countDistinct("text")
    ).first()
    assert nh == nt, "md5 collision breaks the exact-group oracle"

    res = run_pipeline(
        spark,
        _docs_as_pages(docs),
        PipelineConfig(),
        detectors=["exact", "minhash"],
    )
    got = {
        (min(r.src, r.dst), max(r.src, r.dst))
        for r in res.edges.select("src", "dst").collect()
    }

    d = _docs(sf_dir)
    cfg = PipelineConfig()
    reps = {}
    for doc_id, text in zip(d.doc_id, d.text):
        # min, not first-seen: the oracle/pipeline rep is min(doc_id), and
        # the parquet scan's row order is not a contract
        reps[text] = min(reps.get(text, int(doc_id)), int(doc_id))
    rep_ids = set(reps.values())
    expect = set()
    # exact rep→member edges
    for doc_id, text in zip(d.doc_id, d.text):
        r = reps[text]
        if int(doc_id) != r:
            expect.add((r, int(doc_id)))
    # raw-string-feature Jaccard >= 0.8 over reps
    feat_sets = {}
    for doc_id, text in zip(d.doc_id, d.text):
        if int(doc_id) not in rep_ids:
            continue
        norm = K.normalize_text(text)
        fs = set(K.lsh_word_tokens(norm, cfg.dedup.max_words))
        fs |= set(
            K.lsh_char_grams(
                norm, cfg.embedding.ngram_size, cfg.dedup.max_char_grams
            )
        )
        feat_sets[int(doc_id)] = fs
    ids = sorted(feat_sets)
    for ii, a in enumerate(ids):
        fa = feat_sets[a]
        for b in ids[ii + 1 :]:
            fb = feat_sets[b]
            union = len(fa | fb)
            if union == 0 or len(fa & fb) / union >= 0.8:
                expect.add((a, b))
    assert got == expect, (
        f"pipeline edges != raw-Jaccard oracle edges: "
        f"missing={sorted(expect - got)[:5]} extra={sorted(got - expect)[:5]}"
    )


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_incremental_fuzzy_matches_raw_jaccard_oracle(sf_dir, spark):
    """The incremental_fuzzy_new_docs DuckDB oracle is a bipartite
    NOT EXISTS over raw-string-feature Jaccard >= 0.8. Pin that the
    operator's answer on the driver split (new = doc_id % 4 == 0,
    history = the rest) is IDENTICAL — this subsumes bipartite LSH
    candidate recall = 1.0, no 32-bit feature-hash collision flipping a
    verify decision, and the Bloom filter + hot-bucket cap losing no
    true pair on this corpus."""
    from deduplication_framework_spark.config import PipelineConfig
    from deduplication_framework_spark.functions import kernels as K
    from deduplication_framework_spark.operators.incremental_fuzzy import (
        incremental_near_new_rows,
    )
    from deduplication_framework_spark.operators.lsh import (
        release_census_caches,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    res, _stats = incremental_near_new_rows(
        docs.filter("doc_id % 4 = 0").select("doc_id", "text"),
        docs.filter("doc_id % 4 != 0"),
    )
    got = sorted(r.doc_id for r in res.select("doc_id").collect())
    release_census_caches()

    d = _docs(sf_dir)
    cfg = PipelineConfig()

    def feat_set(text):
        norm = K.normalize_text(text)
        fs = set(K.lsh_word_tokens(norm, cfg.dedup.max_words))
        fs |= set(
            K.lsh_char_grams(
                norm, cfg.embedding.ngram_size, cfg.dedup.max_char_grams
            )
        )
        return fs

    feats = {int(i): feat_set(t) for i, t in zip(d.doc_id, d.text)}
    old_ids = [i for i in feats if i % 4 != 0]
    expect = []
    for nid in sorted(i for i in feats if i % 4 == 0):
        fn = feats[nid]
        dup = False
        for oid in old_ids:
            fo = feats[oid]
            union = len(fn | fo)
            if union == 0 or len(fn & fo) / union >= cfg.dedup.threshold:
                dup = True
                break
        if not dup:
            expect.append(nid)
    assert got == expect, (
        f"operator answer != raw-Jaccard NOT EXISTS oracle: "
        f"missing={sorted(set(expect) - set(got))[:5]} "
        f"extra={sorted(set(got) - set(expect))[:5]}"
    )


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_winnow_fingerprints_sql_matches_kernel(sf_dir):
    """The substring_clusters oracle's fingerprint CTEs (Karp-Rabin +
    splitmix64 + window-min in HUGEINT arithmetic) reproduce
    kernels.winnow_fingerprints bit-for-bit, per doc, by value."""
    import duckdb

    from deduplication_framework_spark.config import PipelineConfig
    from deduplication_framework_spark.functions import kernels as K
    from __spark_entry__ import _winnow_fingerprint_ctes

    cfg = PipelineConfig()
    kg = cfg.suffix.kgram_size
    win = cfg.suffix.winnow_window

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    sql = (
        "WITH RECURSIVE "
        + _winnow_fingerprint_ctes()
        + " SELECT doc_id, fph::UBIGINT AS fph FROM fp"
    )
    got = {}
    for doc_id, fph in con.sql(sql).fetchall():
        got.setdefault(int(doc_id), set()).add(int(fph))

    d = _docs(sf_dir)
    for doc_id, text in zip(d.doc_id, d.text):
        expect = {
            int(np.uint64(h)) for h, _ in K.winnow_fingerprints(text, kg, win)
        }
        assert got.get(int(doc_id), set()) == expect, f"doc {doc_id}"


def test_sql_mulmod_and_splitmix_match_python_on_random_u64():
    """The substring oracle's HUGEINT arithmetic primitives, pinned on
    random 64-bit values (the corpus parity test only exercises the values
    real texts produce): _sql_mulmod == (a*b) mod 2^64 and
    _sql_splitmix64 == kernels._splitmix64, element for element."""
    import duckdb

    from deduplication_framework_spark.functions.kernels import _splitmix64
    from __spark_entry__ import _sql_mulmod, _sql_splitmix64

    rng = np.random.RandomState(7)
    a = rng.randint(0, 1 << 63, 200, dtype=np.int64).astype(np.uint64)
    b = rng.randint(0, 1 << 63, 200, dtype=np.int64).astype(np.uint64)
    # cover the high half of the domain too (randint caps at 2^63)
    a[::2] += np.uint64(1) << np.uint64(63)
    b[1::2] += np.uint64(1) << np.uint64(63)

    con = duckdb.connect()
    con.execute("CREATE TABLE t (a HUGEINT, b HUGEINT)")
    con.executemany(
        "INSERT INTO t VALUES (?, ?)",
        [(int(x), int(y)) for x, y in zip(a, b)],
    )
    got = con.sql(
        f"SELECT ({_sql_mulmod('a', 'b')})::UBIGINT,"
        f" ({_sql_splitmix64('a')})::UBIGINT FROM t"
    ).fetchall()
    with np.errstate(over="ignore"):
        want_mul = a * b  # uint64 wraparound IS mod 2^64
    want_mix = _splitmix64(a.copy())
    for i, (gm, gs) in enumerate(got):
        assert np.uint64(gm) == want_mul[i], f"mulmod row {i}"
        assert np.uint64(gs) == want_mix[i], f"splitmix row {i}"


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_ivfpq_rerank_covers_exact_top5(sf_dir, spark):
    """The ivfpq_topk oracle is the SAME exact-IVF SQL as ann_ivf_topk:
    valid iff the ADC top-256 shortlist covers the exact top-5 within the
    probed lists for EVERY query (then the exact rerank reduces the output
    to exact top-5). Pin both the equality (operator == exact-IVF Spark
    derivation) and the numeric slack (worst ADC rank of an exact-top-5
    member must sit under rerank/2 = 128), so a corpus change that erodes
    the margin fails HERE with a diagnostic, not as an opaque hash
    mismatch in CORRECTNESS. Measured worst ranks: 17 (sf0.001),
    17 (sf0.01), 65 (sf0.1 — checked out-of-suite; m=8 would be 309)."""
    from __spark_entry__ import q_ann_ivf_topk, q_ivfpq_topk

    got = {
        (r.vec_id, r.rank): r.neighbor_id
        for r in q_ivfpq_topk(spark, sf_dir).collect()
    }
    want = {
        (r.vec_id, r.rank): r.neighbor_id
        for r in q_ann_ivf_topk(spark, sf_dir).collect()
    }
    assert got == want

    # numeric slack: recompute ADC ranks with the operator's own kernels
    from deduplication_framework_spark.operators.pq import _kmeans_lloyd

    pdf = _emb(sf_dir).sort_values("vec_id")
    X = np.array(list(pdf.embedding), dtype=np.float64)
    ids = pdf.vec_id.to_numpy()
    labs = pdf.label.to_numpy()
    m, dsub = 16, 4
    train = X[:2000]
    cb = np.stack(
        [
            _kmeans_lloyd(train[:, j * dsub : (j + 1) * dsub], 256, 42 + j)
            for j in range(m)
        ]
    )
    codes = np.empty((len(X), m), dtype=np.int64)
    for j in range(m):
        sub = X[:, j * dsub : (j + 1) * dsub]
        sc = sub @ cb[j].T - 0.5 * (cb[j] * cb[j]).sum(axis=1)[None, :]
        codes[:, j] = sc.argmax(axis=1)
    cents = {l: X[labs == l].mean(axis=0) for l in set(labs)}
    L = sorted(cents)
    C = np.array([cents[l] for l in L])
    worst = 0
    for qi in range(len(X)):
        q = X[qi]
        cd = C @ q
        probe = {
            L[i]
            for i in sorted(range(len(L)), key=lambda i: (-cd[i], L[i]))[:4]
        }
        midx = np.where(np.isin(labs, list(probe)) & (ids != ids[qi]))[0]
        lut = np.stack(
            [q[j * dsub : (j + 1) * dsub] @ cb[j].T for j in range(m)]
        )
        adc = lut[np.arange(m)[None, :], codes[midx]].sum(axis=1)
        exact_d = X[midx] @ q
        top5 = sorted(
            range(len(midx)), key=lambda i: (-exact_d[i], ids[midx[i]])
        )[:5]
        rof = np.empty(len(midx), dtype=np.int64)
        rof[np.argsort(-adc, kind="stable")] = np.arange(len(midx))
        worst = max(worst, int(max(rof[i] for i in top5)))
    assert worst < 128, f"ADC shortlist slack eroded: worst rank {worst}"


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_signbit_jaccard_numpy_third_opinion(sf_dir):
    """signbit_jaccard_edges is exact by construction (integer bit
    identities + one float division) in BOTH engines; this numpy replay is
    the independent third opinion on the spec itself: sign rule v >= 0,
    low-8-bit prefix blocking, active-set Jaccard >= 0.5. Also asserts the
    output is non-trivial (the 0-row hash match would be vacuous)."""
    import duckdb

    import __spark_entry__ as entrymod

    emb = _emb(sf_dir)
    vecs = np.stack(emb["embedding"].to_numpy())
    ids = emb["vec_id"].to_numpy()
    bits = vecs >= 0  # (n, 64)
    weights = 1 << np.arange(64, dtype=np.uint64)
    masks = (bits * weights).sum(axis=1).astype(np.uint64)
    bucket = masks & np.uint64(255)
    expect = set()
    order = np.argsort(ids)
    for ai in range(len(order)):
        for bi in range(ai + 1, len(order)):
            a, b = order[ai], order[bi]
            if bucket[a] != bucket[b]:
                continue
            inter = int(bin(int(masks[a] & masks[b])).count("1"))
            union = int(bin(int(masks[a] | masks[b])).count("1"))
            jac = 1.0 if union == 0 else inter / union
            if jac >= 0.5:
                expect.add((int(ids[a]), int(ids[b]), inter, union))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    got = {
        (int(r.src), int(r.dst), int(r.inter_bits), int(r.union_bits))
        for r in con.execute(
            entrymod.oracle_sql()["signbit_jaccard_edges"]
        ).df().itertuples()
    }
    assert got == expect
    assert len(got) > 0


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_minhash_jaccard_estimator_invariants(sf_dir, spark):
    """minhash_jaccard_estimates' docstring claims, pinned: every
    band-candidate pair shares >= 1 full 8-row band so n_match >= 8;
    est_ppm is EXACT integer arithmetic (31250 * n_match — n_match/32 is
    dyadic and the 1e6 product is an exactly-representable integer, so
    round() has no edge in either engine); and the numpy third opinion
    agrees with the Spark n_match on every pair (non-vacuously)."""

    from __spark_entry__ import q_minhash_jaccard_estimates

    out = q_minhash_jaccard_estimates(spark, sf_dir).toPandas()
    assert len(out) > 0  # a 0-row hash match would be vacuous
    assert int(out["n_match"].min()) >= 8
    assert (out["est_ppm"] == 31250 * out["n_match"].astype("int64")).all()

    # numpy third opinion: recompute agreement counts from the signature
    # frame itself for every candidate pair
    from deduplication_framework_spark.functions.jvm_minhash import (
        jvm_minhash_signatures,
    )
    from pyspark.sql import functions as F

    grams = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(1, greatest(length(text)-2, 1)),"
                        " i -> substring(text, i, 3))"
                    )
                )
            ).alias("gram"),
        )
    )
    sigs = (
        jvm_minhash_signatures(grams, num_perm=32)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    mat = sigs.to_numpy()
    idx = {d: i for i, d in enumerate(sigs.index)}
    src = out["src"].map(idx).to_numpy()
    dst = out["dst"].map(idx).to_numpy()
    np_match = (mat[src] == mat[dst]).sum(axis=1)
    assert (np_match == out["n_match"].to_numpy()).all()


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_d4_proto_rank_margins_and_numpy_third_opinion(sf_dir, spark):
    """d4_prune_decisions hashes only ints/bools, so the cross-engine
    contract is the per-block prototypicality ORDER. Pins: (1) the
    minimum adjacent proto-dot gap within a block stays >= 1e-11, i.e.
    >= ~100x the ~1e-13 float-association noise between engines
    (measured 2.4e-6 / 2.6e-6 here and 2.5e-9 at sf0.1 — the floor is
    scale-robust so adding sf0.1 to SF_DIRS cannot fail a healthy
    oracle), (2) zero exact
    cross-doc ties (identical dots would silently lean on the vec_id
    tie-break agreeing for DIFFERENT vectors), (3) a full numpy replay
    of centroid -> rank -> integer cutoff equals the Spark output."""
    import __spark_entry__ as entrymod

    emb = _emb(sf_dir)
    vecs = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    ids = emb["vec_id"].to_numpy()
    labels = emb["label"].to_numpy()
    expect = {}
    min_gap = np.inf
    for lab in np.unique(labels):
        m = labels == lab
        block = vecs[m]
        bids = ids[m]
        cent = block.mean(axis=0)
        proto = block @ cent
        order = np.lexsort((bids, -proto))
        sp = np.sort(proto)[::-1]
        gaps = sp[:-1] - sp[1:]
        if len(gaps):
            assert (gaps > 0).all(), f"exact proto tie in block {lab}"
            min_gap = min(min_gap, gaps.min())
        n = len(bids)
        n_drop = (n * 1) // 5
        for rank0, i in enumerate(order):
            expect[int(bids[i])] = (int(lab), rank0 + 1, rank0 + 1 > n_drop)
    assert min_gap >= 1e-11, min_gap
    out = entrymod.q_d4_prune_decisions(spark, sf_dir).toPandas()
    assert len(out) == len(expect) > 0
    for r in out.itertuples():
        assert expect[int(r.vec_id)] == (
            int(r.block_id), int(r.proto_rank), bool(r.keep)
        ), r
