"""Pure-Python kernel tests (SURVEY.md §5.2 item 2) — no Spark session.

The inline expected values re-derive the reference's semantics independently
(regexes and loops copied from the published reference behavior, not from our
kernels) so a kernel bug can't self-validate.
"""

import re

import numpy as np

from deduplication_framework_spark.functions import kernels as K


class TestNormalize:
    def test_space_variant_matches_reference_regexes(self):
        # independent re-derivation of pipeline_api.py:218-226
        raw = "Hello, WORLD!!  foo\tbar 中文。Ça va?"
        expected = re.sub(
            r"\s+", " ", re.sub(r"[^\w\s一-鿿]", " ", raw.lower())
        ).strip()
        assert K.normalize_text(raw) == expected

    def test_delete_variant(self):
        # jaccard_deduplication.py:11-17 deletes instead of spacing
        raw = "a,b!c"
        assert K.normalize_text(raw, strip_mode="delete") == "abc"
        assert K.normalize_text(raw, strip_mode="space") == "a b c"

    def test_keeps_cjk_and_word_chars(self):
        assert K.normalize_text("中文ABC_9 ok") == "中文abc_9 ok"


class TestNgrams:
    def test_multigranularity_small(self):
        # pipeline_api.py:229-242: char 3-grams of "ab cd" plus word 3-grams
        got = K.multigranularity_ngrams("ab cd ef", 3)
        chars = {"ab cd ef"[i : i + 3] for i in range(6)}
        words = {"ab cd ef"}
        assert got == chars | words

    def test_short_text_whole(self):
        assert K.multigranularity_ngrams("ab", 3) == {"ab"}
        assert K.multigranularity_ngrams("", 3) == set()

    def test_lsh_char_grams_strip_spaces_and_cap(self):
        # pipeline_api.py:245-249: spaces removed, list (ordered), capped
        got = K.lsh_char_grams("a b c d e", 3, max_char_grams=2)
        assert got == ["abc", "bcd"]
        assert K.lsh_char_grams("ab", 3, 10) == ["ab"]
        assert K.lsh_char_grams("", 3, 10) == []

    def test_word_tokens_cap(self):
        assert K.lsh_word_tokens("a b c d", 2) == ["a", "b"]


class TestMinHash:
    def test_permutations_deterministic_and_datasketch_order(self):
        p1 = K.minhash_permutations(16)
        p2 = K.minhash_permutations(16)
        assert np.array_equal(p1, p2)
        # independent re-derivation of datasketch's draw order
        gen = np.random.RandomState(1)
        mp = np.uint64((1 << 61) - 1)
        expect = np.array(
            [
                (gen.randint(1, mp, dtype=np.uint64), gen.randint(0, mp, dtype=np.uint64))
                for _ in range(16)
            ],
            dtype=np.uint64,
        ).T
        assert np.array_equal(p1, expect)

    def test_sha1_hash32(self):
        import hashlib
        import struct

        b = b"hello"
        assert K.sha1_hash32(b) == struct.unpack("<I", hashlib.sha1(b).digest()[:4])[0]

    def test_estimate_within_clt_bound(self):
        perms = K.minhash_permutations(128)
        a = [f"t{i}".encode() for i in range(200)]
        b = [f"t{i}".encode() for i in range(100, 300)]
        true_j = 100 / 300
        est = K.minhash_jaccard_estimate(
            K.minhash_signature(a, perms), K.minhash_signature(b, perms)
        )
        sigma = (true_j * (1 - true_j) / 128) ** 0.5
        assert abs(est - true_j) < 4 * sigma

    def test_identical_and_disjoint(self):
        perms = K.minhash_permutations(64)
        a = [b"x", b"y", b"z"]
        sa = K.minhash_signature(a, perms)
        assert np.array_equal(sa, K.minhash_signature(list(a), perms))
        sb = K.minhash_signature([b"p", b"q", b"r"], perms)
        assert K.minhash_jaccard_estimate(sa, sb) < 0.3

    def test_empty_features(self):
        perms = K.minhash_permutations(8)
        sig = K.minhash_signature([], perms)
        assert (sig == np.uint64((1 << 32) - 1)).all()


class TestBandParams:
    def test_reference_param_search(self):
        # audio/method/audio_dedup_main.py:35-62 math; README: b=20, r=10
        assert K.lsh_param_search(200, 0.8) == (20, 10)

    def test_optimal_param_pinned(self):
        # datasketch-objective optimum for (theta=0.8, 128 perms)
        assert K.optimal_band_param(0.8, 128) == (9, 13)

    def test_s_curve_midpoint(self):
        b, r = 9, 13
        s50 = (1.0 / b) ** (1.0 / r)
        assert abs(K.s_curve(np.array([s50]), b, r)[0] - (1 - (1 - 1 / b) ** b)) < 0.05


class TestSimHash:
    def test_tokenizer_matches_library_slide(self):
        # lib: lowercase, concat [\w一-鿿]+ matches, width-4 slide
        assert K.simhash_tokens("AB, cd!") == ["abcd"]
        assert K.simhash_tokens("abcde") == ["abcd", "bcde"]
        assert K.simhash_tokens("") == [""]

    def test_distance_properties(self):
        a = K.simhash64("the quick brown fox jumps over the lazy dog " * 5)
        b = K.simhash64("the quick brown fox jumped over the lazy dog " * 5)
        c = K.simhash64("completely different content about databases and engines")
        assert K.hamming_distance64(a, a) == 0
        assert K.hamming_distance64(a, b) <= 14
        assert K.hamming_distance64(a, c) > 14

    def test_band_layout_covers_64_bits(self):
        layout = K.simhash_band_layout(64, 10)
        assert len(layout) == 11
        assert sum(w for _, w in layout) == 64
        offs = [o for o, _ in layout]
        assert offs == sorted(offs) and offs[0] == 0

    def test_pigeonhole_guarantee(self):
        # any pair within dist<=10 shares at least one exact block
        rng = np.random.RandomState(7)
        layout = K.simhash_band_layout(64, 10)
        for _ in range(50):
            a = int(rng.randint(0, 2**63, dtype=np.int64))
            flips = rng.choice(64, size=10, replace=False)
            b = a
            for f in flips:
                b ^= 1 << int(f)
            shared = any(
                (a >> off) & ((1 << w) - 1) == (b >> off) & ((1 << w) - 1)
                for off, w in layout
            )
            assert shared


class TestWinnowing:
    def test_shared_substring_guarantee(self):
        rng = np.random.RandomState(3)
        alpha = "abcdefghijklmnopqrstuvwxyz"
        common = "".join(alpha[i] for i in rng.randint(0, 26, 80))
        for trial in range(10):
            pre_a = "".join(alpha[i] for i in rng.randint(0, 26, 150))
            pre_b = "".join(alpha[i] for i in rng.randint(0, 26, 150))
            a, b = pre_a + common + "x" * 20, "y" * 30 + common + pre_b
            k, w = 20, 61  # guarantee for common substrings >= 80
            fa = {h for h, _ in K.winnow_fingerprints(a, k, w)}
            fb = {h for h, _ in K.winnow_fingerprints(b, k, w)}
            assert fa & fb, f"trial {trial}: no shared fingerprint"

    def test_no_shared_kgram_no_shared_fingerprint(self):
        a, b = "a" * 300, "b" * 300
        fa = {h for h, _ in K.winnow_fingerprints(a, 20, 61)}
        fb = {h for h, _ in K.winnow_fingerprints(b, 20, 61)}
        assert not (fa & fb)

    def test_lcs(self):
        assert K.longest_common_substring_len("xxabcdefyy", "zzabcdefqq") == 6
        assert K.longest_common_substring_len("", "abc") == 0
        assert K.longest_common_substring_len("same", "same") == 4


class TestLgramHashes128:
    def test_shared_lgram_intersects(self):
        """Equal L-grams (at any offsets) must yield equal (h1, h2) keys —
        the exact-recall property the hash-mode substring detector rides."""
        span = "qwertyuiopasdfghjklzxcvbnm0123"  # 30 chars
        a = "AAAA" + span + "BBBBBBB"
        b = "CCCCCCCCCCCC" + span + "D"
        L = 30
        ka = set(zip(*(x.tolist() for x in K.lgram_hashes128(a, L))))
        kb = set(zip(*(x.tolist() for x in K.lgram_hashes128(b, L))))
        assert ka & kb  # the shared 30-gram collides exactly

    def test_distinct_lgrams_distinct_keys(self):
        text = "abcdefghij" * 20  # periodic: only 10 distinct 10-grams
        h1, h2 = K.lgram_hashes128(text, 10)
        assert len(h1) == len(h2) == 10  # deduplicated as pairs
        # second base is genuinely independent of the first
        o1, o2 = K.lgram_hashes128("zyxwvutsrq" * 20, 10)
        assert set(h1.tolist()).isdisjoint(set(o1.tolist()))

    def test_short_text_empty(self):
        h1, h2 = K.lgram_hashes128("abc", 10)
        assert h1.size == 0 and h2.size == 0


def test_simhash64_cached_bit_identical():
    """The token-memoized entry point must match the spec function exactly,
    including the empty-content single-''-token case and cache reuse
    across calls."""
    from deduplication_framework_spark.functions import kernels as K

    cache = {}
    samples = [
        "", "ab", "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy dog",  # cache-hit pass
        "naïve café пример 東京 mixed",
        "a" * 500,
    ]
    for s in samples:
        assert K.simhash64_cached(s, cache) == K.simhash64(s), repr(s[:20])
    assert len(cache) > 0
