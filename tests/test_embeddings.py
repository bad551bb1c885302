"""Embedding-space dedup (J13 / C1 / W1 / W3) vs NumPy oracle."""

import numpy as np
import pytest

from deduplication_framework_spark.operators.embeddings import (
    cosine_pairs_bruteforce,
    kmeans_block,
    kmeans_semdedup,
    l2_normalize,
    semdedup_within_blocks,
)


@pytest.fixture(scope="module")
def vec_df(spark):
    """80 vectors in 4 tight clumps + planted near-duplicates."""
    rng = np.random.RandomState(9)
    rows = []
    vid = 0
    for c in range(4):
        center = rng.randn(16)
        center /= np.linalg.norm(center)
        for i in range(20):
            v = center + 0.12 * rng.randn(16)
            rows.append((vid, [float(x) for x in v], c))
            vid += 1
    # planted near-dups: copy of vec 0 and vec 25 with tiny noise
    for src in (0, 25):
        base = np.array(rows[src][1])
        v = base + 0.001 * rng.randn(16)
        rows.append((vid, [float(x) for x in v], rows[src][2]))
        vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def _np_normalized(rows):
    ids = [r.vec_id for r in rows]
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    return ids, mat


class TestBruteforce:
    def test_pairs_match_numpy(self, spark, vec_df):
        rows = sorted(vec_df.collect(), key=lambda r: r.vec_id)
        ids, mat = _np_normalized(rows)
        sims = mat @ mat.T
        theta = 0.95
        expect = {
            (ids[i], ids[j])
            for i in range(len(ids))
            for j in range(i + 1, len(ids))
            if sims[i, j] >= theta - 1e-12
        }
        got = {
            (r.src, r.dst)
            for r in cosine_pairs_bruteforce(
                l2_normalize(vec_df), threshold=theta
            ).collect()
        }
        # float32 storage vs float64 oracle can flip pairs sitting exactly at
        # the threshold; none of the planted ones do
        assert got == expect
        assert (0, 80) in got and (25, 81) in got  # planted near-dups


class TestKMeans:
    def test_blocking_covers_all(self, spark, vec_df):
        blocked = kmeans_block(l2_normalize(vec_df), n_clusters=4)
        assert blocked.count() == vec_df.count()
        assert blocked.select("block_id").distinct().count() <= 4
        # tight clumps: labels should be mostly block-pure (k-means init can
        # occasionally split a clump — require >= 0.9 majority purity)
        rows = blocked.select("label", "block_id").collect()
        by_label = {}
        for r in rows:
            by_label.setdefault(r.label, []).append(r.block_id)
        for blocks in by_label.values():
            top = max(blocks.count(b) for b in set(blocks))
            assert top / len(blocks) >= 0.9


class TestSemDeDup:
    def test_matches_reference_triangular_max(self, spark, vec_df):
        """Per-block decisions equal the reference's numpy loop
        (simple_semdedup.py:85-108) run on the same block contents."""
        eps = 0.05
        normalized = l2_normalize(vec_df)
        blocked = kmeans_block(normalized, n_clusters=4)
        decisions = semdedup_within_blocks(blocked, eps=eps)
        got = {r.vec_id: (r.keep, round(r.max_prior_sim, 9)) for r in decisions.collect()}

        # oracle per block, identical ordering rule (dist desc, id asc)
        brows = blocked.collect()
        by_block = {}
        for r in brows:
            by_block.setdefault(r.block_id, []).append(r)
        for members in by_block.values():
            members.sort(key=lambda r: (-r.dist_to_centroid, r.vec_id))
            mat = np.array([m.embedding for m in members], dtype=np.float64)
            sims = mat @ mat.T
            for j in range(len(members)):
                # reference takes max over torch.triu(sims, 1) — the zero
                # padding floors the max at 0 when all prior sims are
                # negative (simple_semdedup.py:92-104); we reproduce that
                mp = max(0.0, float(np.max(sims[:j, j]))) if j > 0 else 0.0
                keep = mp <= 1.0 - eps
                g_keep, g_mp = got[members[j].vec_id]
                assert g_keep == keep
                assert abs(g_mp - mp) < 1e-9

    def test_planted_dups_removed(self, spark, vec_df):
        keepers, decisions = kmeans_semdedup(vec_df, eps=0.05, n_clusters=4)
        kept = {r.vec_id for r in keepers.collect()}
        # one of each planted pair must be gone
        assert not ({0, 80} <= kept)
        assert not ({25, 81} <= kept)
        assert len(kept) < 82


class TestD4Prune:
    def _blocks(self, spark):
        """Two blocks with a KNOWN most-prototypical member: vec 0 (block
        0) and vec 100 (block 1) ARE the block mean direction; the rest
        fan out symmetrically around it."""
        rng = np.random.default_rng(3)
        rows = []
        for blk, base_id in ((0, 0), (1, 100)):
            center = rng.normal(size=8)
            center /= np.linalg.norm(center)
            rows.append((base_id, blk, [float(x) for x in center]))
            for i in range(1, 10):
                # pairs of symmetric perturbations keep the mean ON center
                d = rng.normal(size=8) * 0.2
                for s, off in ((1, i * 2 - 1), (-1, i * 2)):
                    v = center + s * d
                    v = v / np.linalg.norm(v)
                    rows.append((base_id + off, blk, [float(x) for x in v]))
        return spark.createDataFrame(
            rows, "vec_id long, block_id long, embedding array<double>"
        )

    def test_prototype_ranked_first_and_dropped(self, spark):
        from deduplication_framework_spark.operators.embeddings import (
            d4_prune_within_blocks,
        )

        df = self._blocks(spark)
        out = d4_prune_within_blocks(df, drop_num=1, drop_den=5)
        rows = {r.vec_id: r for r in out.collect()}
        # the planted centroid-direction member is the most prototypical
        assert rows[0].proto_rank == 1 and not rows[0].keep
        assert rows[100].proto_rank == 1 and not rows[100].keep
        # integer cutoff: 19 members per block -> (19*1) div 5 = 3 dropped
        for blk_base in (0, 100):
            blk = [r for r in rows.values()
                   if blk_base <= r.vec_id < blk_base + 100]
            assert len(blk) == 19
            assert sum(not r.keep for r in blk) == 3
            assert sorted(r.proto_rank for r in blk) == list(range(1, 20))

    def test_numpy_parity_and_integer_cutoff_edge(self, spark):
        """Full replay on uneven block sizes incl. the n*frac integer
        boundary (n=5, 1/5 -> exactly 1 dropped; n=4 -> 0 dropped)."""
        from deduplication_framework_spark.operators.embeddings import (
            d4_prune_within_blocks,
        )

        rng = np.random.default_rng(11)
        rows = []
        vid = 0
        for blk, n in ((0, 5), (1, 4), (2, 13)):
            for _ in range(n):
                v = rng.normal(size=6)
                rows.append((vid, blk, [float(x) for x in v])); vid += 1
        df = spark.createDataFrame(
            rows, "vec_id long, block_id long, embedding array<double>"
        )
        got = {r.vec_id: (r.proto_rank, r.keep)
               for r in d4_prune_within_blocks(df, drop_num=1, drop_den=5)
               .collect()}
        by_blk = {}
        for vid_, blk, v in rows:
            by_blk.setdefault(blk, []).append((vid_, np.array(v)))
        for blk, members in by_blk.items():
            mat = np.stack([v for _, v in members])
            ids = np.array([i for i, _ in members])
            proto = mat @ mat.mean(axis=0)
            order = np.lexsort((ids, -proto))
            n_drop = (len(ids) * 1) // 5
            for rank0, i in enumerate(order):
                assert got[int(ids[i])] == (rank0 + 1, rank0 + 1 > n_drop)
        # boundary counts: n=5 drops exactly 1, n=4 drops 0, n=13 drops 2
        drops = {blk: sum(not got[i][1] for i, _ in mem)
                 for blk, mem in by_blk.items()}
        assert drops == {0: 1, 1: 0, 2: 2}

    def test_validation(self, spark):
        from deduplication_framework_spark.operators.embeddings import (
            d4_prune_within_blocks,
        )

        df = spark.createDataFrame(
            [(0, 0, [1.0])], "vec_id long, block_id long, embedding array<double>"
        )
        with pytest.raises(ValueError, match="drop_num/drop_den"):
            d4_prune_within_blocks(df, drop_num=3, drop_den=2)
        with pytest.raises(ValueError, match="drop_num/drop_den"):
            d4_prune_within_blocks(df, drop_num=1, drop_den=0)
