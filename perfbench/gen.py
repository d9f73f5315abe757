"""Seeded input generators. Every input of every workload is a pure function
of the ``--seed`` argument; the library only ever sees the parquet files
written here."""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: files per written table: about one per core, so Spark's file splitting
#: gives each core a partition without the benchmark repartitioning for it
N_FILES = 4


def write_table(table: pa.Table, path: str) -> int:
    """Write ``table`` as ``N_FILES`` parquet files under directory ``path``;
    returns the bytes on disk."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // N_FILES)
    for i in range(N_FILES):
        pq.write_table(table.slice(i * step, step), f"{path}/part-{i:03d}.parquet")
    return dir_bytes(path)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _vec_array(x: np.ndarray, dtype) -> pa.Array:
    """(n, d) matrix -> arrow list<dtype> column without a Python loop."""
    n, d = x.shape
    return pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * d + 1, d, dtype=np.int32)),
        pa.array(np.ascontiguousarray(x).reshape(-1), type=dtype),
    )


# ---------------- points: corpus + probe table ----------------


@dataclass
class Points:
    """A clustered 2-D corpus and a probe table over it (FIXTURES.md §3)."""

    ids: np.ndarray  # int64, data ids
    x: np.ndarray  # (n, 2) float32 data points
    qids: np.ndarray  # int64 probe ids
    q: np.ndarray  # (p, 2) float64 probes


def _mixture(rng: np.random.Generator, comps: int) -> tuple:
    """Gaussian mixture with uneven weights (1/rank) whose heaviest
    components are the tightest (spreads 0.3 to 6, geometric): hot cells
    next to sparse ones, the occupancy skew K-instantiation exists for. The
    seed only places the components; with the weight/spread profile fixed,
    the index's cell count varies by a few percent from seed to seed
    (a seeded pairing moved it by 17%)."""
    w = 1.0 / np.arange(1, comps + 1)
    w /= w.sum()
    sd = np.geomspace(0.3, 6.0, comps)
    centers = rng.uniform(0.0, 100.0, (comps, 2))
    return w, centers, sd


def _draw(rng, n, mix) -> np.ndarray:
    w, centers, sd = mix
    comp = rng.choice(len(w), n, p=w)
    return centers[comp] + rng.standard_normal((n, 2)) * sd[comp, None]


def make_points(seed: int, n: int, n_probes: int, comps: int = 32) -> Points:
    rng = np.random.default_rng(seed)
    mix = _mixture(rng, comps)
    x = _draw(rng, n, mix).astype(np.float32)
    # ~2% of the corpus repeats another point exactly: distance-0 ties that
    # only the neighbor_id tie-break orders
    dup = rng.choice(n, n // 50, replace=False)
    x[dup] = x[rng.choice(n, len(dup))]
    ids = rng.permutation(n).astype(np.int64) * 3 + 1

    xd = x.astype(np.float64)
    lo, hi = xd.min(axis=0), xd.max(axis=0)
    # the grid's root box: origin = per-axis minimum, width = largest extent
    # with the open upper edge (GridIndex.build); cell boundaries at level L
    # are origin + j * width / 2**L on both axes of a 2-D grid
    width = float((hi - lo).max()) * (1 + 1e-9)
    # probe kinds: 0 from the mixture, 1 coincident, 2 outside, 3 boundary
    kind = rng.choice(4, n_probes, p=[0.75, 0.10, 0.05, 0.10])
    q = _draw(rng, n_probes, mix)
    m = kind == 1
    q[m] = xd[rng.choice(n, m.sum())]
    m = kind == 2
    axis = rng.integers(0, 2, m.sum())
    side = rng.integers(0, 2, m.sum())
    off = rng.uniform(1.0, 30.0, m.sum())
    out = q[m]
    out[np.arange(len(out)), axis] = np.where(side == 1, hi[axis] + off, lo[axis] - off)
    q[m] = out
    m = kind == 3
    level = rng.integers(2, 9, (m.sum(), 2))
    j = rng.integers(1, 1 << 30, (m.sum(), 2)) % (1 << level)
    bnd = lo + j * (width / (1 << level))
    keep_one = rng.integers(0, 3, m.sum())  # 0/1: one axis on a boundary, 2: a corner
    b = q[m]
    for c in range(2):
        sel = (keep_one == c) | (keep_one == 2)
        b[sel, c] = bnd[sel, c]
    q[m] = b
    qids = np.arange(n_probes, dtype=np.int64) * 7 + 5
    return Points(ids=ids, x=x, qids=qids, q=q)


def write_corpus(pts: Points, path: str) -> int:
    t = pa.table(
        {"vec_id": pa.array(pts.ids), "embedding": _vec_array(pts.x, pa.float32())}
    )
    return write_table(t, path)


def write_probes(pts: Points, path: str) -> int:
    t = pa.table({"query_id": pa.array(pts.qids), "qvec": _vec_array(pts.q, pa.float64())})
    return write_table(t, path)


# ---------------- documents ----------------


@dataclass
class Docs:
    ids: np.ndarray  # int64 doc ids
    texts: list[str]
    emb: np.ndarray  # (n, dim) float32
    family: np.ndarray  # planted near-duplicate cluster per doc (-1: none)


def make_docs(
    seed: int,
    n_docs: int,
    *,
    vocab: int = 6000,
    dim: int = 32,
    min_len: int = 40,
    max_len: int = 120,
) -> Docs:
    """Zipf-vocabulary corpus with planted near-duplicate clusters of mixed
    sizes (mostly pairs, a few large), exact copies, and an embedding per
    document whose near-duplicates are planted the same way."""
    rng = np.random.default_rng(seed)
    cdf = np.cumsum(1.0 / np.arange(1, vocab + 1) ** 1.1)
    cdf /= cdf[-1]
    words = np.array([f"w{i}" for i in range(vocab)])

    def fresh(n_tok):
        # inverse-CDF draws: one vectorized call per document, not per word
        return list(words[np.minimum(np.searchsorted(cdf, rng.random(n_tok)), vocab - 1)])

    def mutate(tok):
        tok = list(tok)
        n_edit = max(1, int(len(tok) * rng.uniform(0.01, 0.08)))
        for pos, w in zip(rng.choice(len(tok), n_edit, replace=False), fresh(n_edit)):
            tok[pos] = w
        if rng.random() < 0.5:
            tok.insert(int(rng.integers(0, len(tok))), fresh(1)[0])
        return tok

    n_copies = n_docs * 3 // 100
    n_orig = n_docs - n_copies
    toks: list[list[str]] = []
    emb = []
    family = []
    fam = 0
    # per 100 clusters: 70 singletons, 22 pairs, 7 of 3-5 docs, 1 of 10-24
    sizes = []
    while sum(sizes) < n_orig:
        block = [1] * 70 + [2] * 22 + list(rng.integers(3, 6, 7)) + [int(rng.integers(10, 25))]
        sizes += list(rng.permutation(block))
    for size in sizes:
        size = min(int(size), n_orig - len(toks))
        if size == 0:
            break
        base = fresh(int(rng.integers(min_len, max_len + 1)))
        e = rng.standard_normal(dim)
        for i in range(size):
            toks.append(base if i == 0 else mutate(base))
            emb.append(e if i == 0 else e + rng.standard_normal(dim) * 0.05)
            family.append(fam if size > 1 else -1)
        fam += 1
    src = rng.choice(n_orig, n_copies)
    for s in src:
        toks.append(toks[s])
        emb.append(emb[s])
        family.append(family[s])
    order = rng.permutation(n_docs)
    ids = order.astype(np.int64) * 11 + 2
    return Docs(
        ids=ids,
        texts=[" ".join(t) for t in toks],
        emb=np.asarray(emb, dtype=np.float32),
        family=np.asarray(family, dtype=np.int64),
    )


def write_docs(docs: Docs, path: str) -> int:
    t = pa.table(
        {
            "doc_id": pa.array(docs.ids),
            "text": pa.array(docs.texts, type=pa.string()),
            "embedding": _vec_array(docs.emb, pa.float32()),
        }
    )
    return write_table(t, path)
