"""Reference-semantics oracle, single-node.

Each function mirrors one reference dedup routine, using the SAME kernels as
the Spark UDFs (``functions.kernels``) so per-doc features are identical by
construction — what the oracle independently exercises is the reference's
*sequential decision procedure* (insertion-order greedy / windowed / LSH
query-then-insert), which the distributed pipeline replaces with
candidate-pairs + connected components. Citations:

* greedy all-pairs Jaccard — /root/reference/text/method/pipeline_api.py:488-528
* rolling window            — pipeline_api.py:531-576
* md5 exact                 — pipeline_api.py:340-370
* simhash windowed          — pipeline_api.py:373-414
* minhash-LSH insert/query  — pipeline_api.py:434-475 (datasketch semantics)
* union-find CC             — north_rule addition (for testing the Spark CC)
"""

from __future__ import annotations

import hashlib
from typing import Dict, List, Sequence, Set, Tuple

import numpy as np

from deduplication_framework_spark.functions import kernels as K


# ---------------------------------------------------------------------------
# cluster bookkeeping
# ---------------------------------------------------------------------------


class UnionFind:
    def __init__(self):
        self.parent: Dict[int, int] = {}

    def find(self, x: int) -> int:
        p = self.parent.setdefault(x, x)
        while p != x:
            self.parent[x] = self.parent.setdefault(p, p)
            x = self.parent[x]
            p = self.parent.setdefault(x, x)
        return x

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            # min-id root → cluster id = min member (keeper convention)
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            self.parent[hi] = lo

    def labels(self, ids: Sequence[int]) -> Dict[int, int]:
        return {i: self.find(i) for i in ids}


def clusters_to_pairs(labels: Dict[int, int]) -> Set[Tuple[int, int]]:
    """All intra-cluster (src < dst) pairs."""
    groups: Dict[int, List[int]] = {}
    for doc, lab in labels.items():
        groups.setdefault(lab, []).append(doc)
    pairs: Set[Tuple[int, int]] = set()
    for members in groups.values():
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                pairs.add((members[i], members[j]))
    return pairs


def pairs_to_labels(n_or_ids, pairs) -> Dict[int, int]:
    uf = UnionFind()
    ids = list(range(n_or_ids)) if isinstance(n_or_ids, int) else list(n_or_ids)
    for a, b in pairs:
        uf.union(int(a), int(b))
    return uf.labels(ids)


def dup_pair_recall(
    reference_pairs: Set[Tuple[int, int]], our_pairs: Set[Tuple[int, int]]
) -> float:
    if not reference_pairs:
        return 1.0
    return len(reference_pairs & our_pairs) / len(reference_pairs)


# ---------------------------------------------------------------------------
# feature extraction (shared kernels)
# ---------------------------------------------------------------------------


def normalize_all(texts: Sequence[str], **kw) -> List[str]:
    return [K.normalize_text(t or "", **kw) for t in texts]


def shingle_sets(texts: Sequence[str], n: int = 3) -> List[Set[str]]:
    return [K.multigranularity_ngrams(t, n) for t in normalize_all(texts)]


# ---------------------------------------------------------------------------
# reference decision procedures
# ---------------------------------------------------------------------------


def greedy_jaccard(
    features: Sequence[Set], threshold: float = 0.8
) -> Dict[int, int]:
    """pipeline_api.py:488-528: iterate in order; keeper absorbs every later
    unseen doc with J >= θ. Returns {doc_idx: keeper_idx}."""
    labels: Dict[int, int] = {}
    seen: Set[int] = set()
    n = len(features)
    for idx in range(n):
        if idx in seen:
            continue
        labels[idx] = idx
        for other in range(idx + 1, n):
            if other in seen:
                continue
            a, b = features[idx], features[other]
            if not a and not b:
                sim = 1.0
            else:
                union = a | b
                sim = (len(a & b) / len(union)) if union else 0.0
            if sim >= threshold:
                labels[other] = idx
                seen.add(other)
    return labels


def md5_exact(texts: Sequence[str]) -> Dict[int, int]:
    """pipeline_api.py:340-370 on (already normalized) texts."""
    labels: Dict[int, int] = {}
    seen: Dict[str, int] = {}
    for idx, t in enumerate(texts):
        h = hashlib.md5(t.encode("utf-8")).hexdigest()
        if h in seen:
            labels[idx] = seen[h]
        else:
            seen[h] = idx
            labels[idx] = idx
    return labels


def simhash_windowed(
    texts: Sequence[str], dist: int = 10, window: int = 1000
) -> Dict[int, int]:
    """pipeline_api.py:373-414 over normalized texts: dup iff Hamming <= dist
    vs any of the last `window` kept fingerprints (first hit wins)."""
    labels: Dict[int, int] = {}
    kept: List[Tuple[int, int]] = []  # (idx, fingerprint)
    for idx, t in enumerate(texts):
        fp = K.simhash64(t)
        hit = None
        win = kept[-window:] if window > 0 else kept
        for kidx, kfp in win:
            if K.hamming_distance64(fp, kfp) <= dist:
                hit = kidx
                break
        if hit is None:
            labels[idx] = idx
            kept.append((idx, fp))
        else:
            labels[idx] = labels[hit]
    return labels


def minhash_lsh_sequential(
    texts: Sequence[str],
    ngram_size: int = 3,
    num_perm: int = 128,
    threshold: float = 0.8,
    max_words: int = 200,
    max_char_grams: int = 200,
    include_words: bool = True,
    b: int = None,
    r: int = None,
) -> Dict[int, int]:
    """pipeline_api.py:434-475 with datasketch MinHashLSH semantics:
    band-bucket index, query = union of bucket hits across bands (any single
    band match), first match wins, else insert + keep. Texts are normalized
    here (the reference receives pre-normalized texts)."""
    if b is None or r is None:
        b, r = K.optimal_band_param(threshold, num_perm)
    perms = K.minhash_permutations(num_perm)
    tables: List[Dict[bytes, List[int]]] = [dict() for _ in range(b)]
    labels: Dict[int, int] = {}

    for idx, raw in enumerate(texts):
        t = K.normalize_text(raw or "")
        feats: List[bytes] = []
        if include_words:
            feats.extend(w.encode("utf-8") for w in K.lsh_word_tokens(t, max_words))
        feats.extend(
            g.encode("utf-8") for g in K.lsh_char_grams(t, ngram_size, max_char_grams)
        )
        sig = K.minhash_signature(feats, perms)
        keys = [sig[band * r : (band + 1) * r].tobytes() for band in range(b)]
        match = None
        for band, key in enumerate(keys):
            hits = tables[band].get(key)
            if hits:
                match = hits[0]
                break
        if match is None:
            labels[idx] = idx
            for band, key in enumerate(keys):
                tables[band].setdefault(key, []).append(idx)
        else:
            labels[idx] = labels[match]
    return labels


def permutation_minhash(
    binary_matrix: np.ndarray, n_sig: int, seed: int = 0
) -> np.ndarray:
    """True row-permutation MinHash over a binary characteristic matrix
    (features x docs): sig[i][col] = first permuted row where col has a 1 —
    the reference's from-scratch variant
    (/root/reference/audio/method/LSH_deal_with_photo.py:7-22), with the
    unseeded np.random.permutation FIXED to a seed (SURVEY.md J7: the
    reference is nondeterministic; we pin it for testability)."""
    rng = np.random.RandomState(seed)
    n_feat, n_docs = binary_matrix.shape
    sig = np.full((n_sig, n_docs), np.iinfo(np.int64).max, dtype=np.int64)
    for i in range(n_sig):
        perm = rng.permutation(n_feat)
        permuted = binary_matrix[perm]
        # first row index with a 1, per column
        has = permuted.any(axis=0)
        first = permuted.argmax(axis=0)
        sig[i] = np.where(has, first, np.iinfo(np.int64).max)
    return sig


def permutation_minhash_jaccard(sig: np.ndarray, a: int, b: int) -> float:
    return float(np.count_nonzero(sig[:, a] == sig[:, b])) / sig.shape[0]


def substring_pairs(
    texts: Sequence[str], min_match_chars: int = 200
) -> Set[Tuple[int, int]]:
    """Exact-substring duplicate pairs by brute force LCS (oracle for J17;
    O(n^2 * len^2) — small fixtures only). Raw text, no normalization."""
    n = len(texts)
    out: Set[Tuple[int, int]] = set()
    for i in range(n):
        for j in range(i + 1, n):
            if K.longest_common_substring_len(texts[i], texts[j]) >= min_match_chars:
                out.add((i, j))
    return out


def capped_feature_sets(
    texts: Sequence[str], ngram_size: int, max_words: int, max_char_grams: int
) -> List[Set[str]]:
    """The pipeline's OWN banded feature space: first max_words whitespace
    tokens ∪ first max_char_grams space-stripped char n-grams of the
    normalized text. Uncapped shingle oracles rate long docs higher than
    the banded space actually sees — recall bounds must be stated against
    THIS space to be guarantees rather than S-curve coin flips."""
    from deduplication_framework_spark.functions import kernels as K

    return [
        set(K.lsh_word_tokens(t, max_words))
        | set(K.lsh_char_grams(t, ngram_size, max_char_grams))
        for t in normalize_all(texts)
    ]


def strong_capped_jaccard_pairs(
    texts: Sequence[str],
    ngram_size: int,
    max_words: int,
    max_char_grams: int,
    threshold: float = 0.95,
) -> Set[Tuple[int, int]]:
    """All (i<j) pairs with capped-feature-space J >= threshold. At the
    default (b=9, r=13) banding, J >= 0.95 collides with P ~ 0.998 — the
    honest 'must recover' oracle for VERIFIED pipelines (J in [0.9, 0.95)
    collides with only ~0.93 and belongs to the S-curve, not the engine)."""
    feats = capped_feature_sets(texts, ngram_size, max_words, max_char_grams)
    out: Set[Tuple[int, int]] = set()
    for i in range(len(feats)):
        a = feats[i]
        for j in range(i + 1, len(feats)):
            b = feats[j]
            u = a | b
            sim = 1.0 if (not a and not b) else (len(a & b) / len(u) if u else 0.0)
            if sim >= threshold:
                out.add((i, j))
    return out


def minhash_recall_evidence(
    texts: Sequence[str],
    our_pairs: Set[Tuple[int, int]],
    cfg,
    verified: bool,
) -> dict:
    """Shared recall-evidence computation for bench.py and the CLI's
    --eval-recall (one implementation — the two surfaced metrics can't
    silently diverge). ``texts`` in position order; ``our_pairs`` as
    position pairs. Verified runs are judged against the capped-space
    J>=0.95 oracle (guaranteed collisions); unverified runs against the
    full sequential-LSH oracle (same candidate semantics)."""
    if verified:
        ref_pairs = strong_capped_jaccard_pairs(
            texts,
            ngram_size=cfg.embedding.ngram_size,
            max_words=cfg.dedup.max_words,
            max_char_grams=cfg.dedup.max_char_grams,
            threshold=0.95,
        )
        which = "strong_capped_j095"
    else:
        ref = minhash_lsh_sequential(
            texts,
            ngram_size=cfg.embedding.ngram_size,
            num_perm=cfg.dedup.num_perm,
            threshold=cfg.dedup.threshold,
            max_words=cfg.dedup.max_words,
            max_char_grams=cfg.dedup.max_char_grams,
            include_words=True,
        )
        ref_pairs = clusters_to_pairs(ref)
        which = "sequential_lsh"
    return {
        f"minhash.recall_vs_{which}_oracle": round(
            dup_pair_recall(ref_pairs, our_pairs), 4
        ),
        "minhash.oracle_pairs": float(len(ref_pairs)),
    }
