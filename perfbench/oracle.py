"""Exact oracles, independent of Spark: numpy brute force for kNN/range and
plain-Python set algebra for the dedup operators. Arithmetic follows the
library's contract exactly (double accumulation in coordinate order, ties by
``neighbor_id``, Jaccard as a double quotient), so results compare with
``==``, not with a tolerance."""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

import numpy as np

# ---------------- kNN / range ----------------


def _sqdist(x: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Squared L2 from every row of ``x`` (float64) to probe ``q``, summed in
    coordinate order from 0.0 like the library's ``l2_sq``."""
    d = np.zeros(len(x))
    for c in range(x.shape[1]):
        diff = x[:, c] - q[c]
        d = d + diff * diff
    return d


def knn(x: np.ndarray, ids: np.ndarray, q: np.ndarray, k: int) -> list[tuple[int, float]]:
    """The k nearest (neighbor_id, dist) of probe ``q``: by distance, then id."""
    d = _sqdist(x, q)
    cut = np.partition(d, min(k, len(d)) - 1)[min(k, len(d)) - 1]
    cand = np.nonzero(d <= cut)[0]
    order = np.lexsort((ids[cand], d[cand]))[:k]
    return [(int(ids[cand[i]]), float(d[cand[i]])) for i in order]


def range_(x: np.ndarray, ids: np.ndarray, q: np.ndarray, r: float) -> dict[int, float]:
    """{neighbor_id: dist} of every point with squared distance <= r**2."""
    d = _sqdist(x, q)
    hit = np.nonzero(d <= float(r) ** 2)[0]
    return {int(ids[i]): float(d[i]) for i in hit}


# ---------------- dedup ----------------


def tokens(text: str) -> list[str]:
    """The library's tokenizer on generated text (lowercase alphanumeric
    words separated by single spaces)."""
    return [t for t in text.lower().split(" ") if t]


def shingles(tok: list[str], n: int = 3) -> set[str]:
    return {" ".join(tok[i : i + n]) for i in range(len(tok) - n + 1)}


def exact_keep(ids, texts) -> set[int]:
    """Kept ids of exact dedup: the minimum id per distinct text."""
    best: dict[str, int] = {}
    for i, t in zip(ids, texts):
        i = int(i)
        if t not in best or i < best[t]:
            best[t] = i
    return set(best.values())


def jaccard_pairs(sh: dict[int, set[str]], t: float) -> dict[tuple[int, int], tuple[int, float]]:
    """{(d1, d2): (n_common, jaccard)} for every pair with J >= t, d1 < d2.

    Prefix filtering under a global (document frequency, shingle) order
    finds every such pair (a pair with J >= t shares a shingle within the
    first |x| - ceil(t|x|) + 1 of both sets); each candidate is then
    verified on the full sets, so the result is exact."""
    df = Counter(s for v in sh.values() for s in v)
    num, den = (t).as_integer_ratio()
    prefix: dict[str, list[int]] = defaultdict(list)
    for d, v in sh.items():
        if not v:
            continue
        order = sorted(v, key=lambda s: (df[s], s))
        need = -(-len(v) * num // den)  # ceil(t*|x|) in exact arithmetic
        for s in order[: len(v) - need + 1]:
            prefix[s].append(d)
    cand = set()
    for docs in prefix.values():
        docs.sort()
        for i, a in enumerate(docs):
            for b in docs[i + 1 :]:
                cand.add((a, b))
    out = {}
    for a, b in cand:
        na, nb = len(sh[a]), len(sh[b])
        common = len(sh[a] & sh[b])
        j = common / (na + nb - common)
        if j >= t:
            out[(a, b)] = (common, j)
    return out


def clusters(ids, pairs) -> dict[int, int]:
    """{doc: component minimum}; docs in no pair map to themselves."""
    parent = {int(i): int(i) for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in parent}


def _md5_hex(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def minhash_lsh(
    sh: dict[int, set[str]], n_hashes: int, bands: int, t: float
) -> dict[tuple[int, int], float]:
    """{(d1, d2): est_jaccard} of MinHash-LSH: the library's affine md5
    family (h1 + i*h2 over two 48-bit halves), banded bucket collisions,
    then the signature agreement estimate >= t."""
    rows = n_hashes // bands
    sig = {}
    for d, v in sh.items():
        if not v:
            continue
        h = [_md5_hex(s) for s in v]
        h1 = np.array([int(x[:12], 16) for x in h], dtype=np.int64)
        h2 = np.array([int(x[12:24], 16) for x in h], dtype=np.int64)
        sig[d] = tuple(int((h1 + i * h2).min()) for i in range(n_hashes))
    buckets: dict[tuple, list[int]] = defaultdict(list)
    for d, s in sig.items():
        for b in range(bands):
            buckets[(b, s[b * rows : (b + 1) * rows])].append(d)
    out = {}
    for docs in buckets.values():
        docs.sort()
        for i, a in enumerate(docs):
            for b in docs[i + 1 :]:
                if (a, b) in out:
                    continue
                est = sum(x == y for x, y in zip(sig[a], sig[b])) / float(n_hashes)
                if est >= t:
                    out[(a, b)] = est
    return out


def simhash_pairs(ids, texts, bits: int, max_hamming: int) -> dict[tuple[int, int], int]:
    """{(d1, d2): hamming} of frequency-weighted md5 SimHash fingerprints.

    Pigeonhole: cut the fingerprint into ``max_hamming + 1`` bit blocks; two
    fingerprints within ``max_hamming`` bits agree exactly on at least one
    block, so pairs sharing a block value are every candidate. Each is then
    verified on the whole fingerprint, so the result is exact."""
    cache: dict[str, np.ndarray] = {}
    shift = np.arange(bits - 1, -1, -1, dtype=np.int64)
    fp = []
    for text in texts:
        votes = np.zeros(bits, dtype=np.int64)
        for t, cnt in Counter(tokens(text)).items():
            sign = cache.get(t)
            if sign is None:
                h = int(_md5_hex(t)[:15], 16)
                sign = cache[t] = np.where((h >> shift) & 1, 1, -1)
            votes += cnt * sign
        fp.append(int(((votes > 0).astype(np.int64) << shift).sum()))
    ids = [int(i) for i in ids]
    blocks = max_hamming + 1
    width = -(-bits // blocks)
    out = {}
    for b in range(blocks):
        same: dict[int, list[int]] = defaultdict(list)
        for n, f in enumerate(fp):
            same[(f >> (b * width)) & ((1 << width) - 1)].append(n)
        for members in same.values():
            for i, m in enumerate(members):
                for n in members[i + 1 :]:
                    ham = (fp[m] ^ fp[n]).bit_count()
                    if ham <= max_hamming:
                        a, c = sorted((ids[m], ids[n]))
                        out[(a, c)] = ham
    return out


def _seq_dot(a, b) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def cosine_pairs(ids, emb: np.ndarray, t: float) -> dict[tuple[int, int], float]:
    """{(d1, d2): cosine} with cosine >= t. A float64 matrix product finds
    candidates with slack; each survivor is recomputed with the library's
    sequential double expression, which alone decides the threshold."""
    e = emb.astype(np.float64)
    u = e / np.maximum(np.linalg.norm(e, axis=1, keepdims=True), 1e-300)
    ids = np.asarray(ids, dtype=np.int64)
    rows = [list(map(float, r)) for r in e]
    out = {}
    for s in range(0, len(ids), 512):
        c = u[s : s + 512] @ u.T
        for i, j in zip(*np.nonzero(c >= t - 1e-6)):
            a, b = int(ids[s + i]), int(ids[j])
            if a >= b:
                continue
            va, vb = rows[s + i], rows[j]
            cos = _seq_dot(va, vb) / (math.sqrt(_seq_dot(va, va)) * math.sqrt(_seq_dot(vb, vb)))
            if cos >= t:
                out[(a, b)] = cos
    return out
