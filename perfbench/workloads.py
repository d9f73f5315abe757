"""The workloads. Each is a closed loop from one client: a round issues its
calls in order and waits for every result before the next call.

- ``knn_batch``: build + write + load a grid index over a clustered corpus,
  then one probe-table batch through ``knn`` and one through ``range``, both
  with ``candidates="distributed"``, results written as parquet.
- ``dedup_pipeline``: exact dedup, MinHash-LSH, Jaccard pairs, duplicate
  clusters, SimHash pairs and embedding pairs over a planted corpus, each
  stage written as parquet and read back by the next.

Outputs are checked against ``oracle`` after each round, outside the timed
region; a call that raises or disagrees counts as a failed operation."""

from __future__ import annotations

import os
import shutil
import sys
import traceback

import numpy as np
import pyarrow.parquet as pq

import gen
import oracle
from spans import JOIN_NAMES

# Input sizes. knn_batch's index (about 2,600 cells) is above GridIndex's
# 2,048-cell COARSE_THRESHOLD, so knn and range take the coarse-descent
# path, and under the 200k-cell driver-stats bound. dedup_pipeline matches
# bench.py's 5,000 documents; its graph stays under dup_clusters'
# 65,536-edge driver bound and its vector table far under the 256 MiB
# blocked-GEMM bound (README.md lists each side).
KNN_N, KNN_PROBES, KNN_K, KNN_RADIUS = 24_000, 1_000, 5, 0.1
DEDUP_DOCS = 5_000
JACCARD_T, LSH_T, N_HASHES, BANDS = 0.8, 0.5, 16, 4
MAX_HAMMING, MIN_COSINE = 2, 0.95
# size dispatches the workloads report their side of
BROADCAST_BYTES = 64 << 20  # the session's autoBroadcastJoinThreshold (run.py)
STATS_SMALL_CELLS = 200_000  # GridIndex._stats_is_small / load's local-stats bound
CC_DRIVER_MAX_EDGES = 65_536  # dup_clusters' driver_max_edges default


def _rows(path: str) -> int:
    return sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
               for f in os.listdir(path) if f.endswith(".parquet"))


def _read(path: str, cols: list[str]) -> list[tuple]:
    t = pq.read_table(path, columns=cols)
    return list(zip(*(t.column(c).to_pylist() for c in cols)))


class Workload:
    """Shared loop bookkeeping: operations attempted and failed, and the
    wall time of every call per kind."""

    def __init__(self, spark, work: str, seed: int, scale: float = 1.0):
        """``scale`` shrinks every input size (warm-up and fixed-cost
        rounds run on shrunk copies of the workload)."""
        self.spark = spark
        self.work = work
        self.seed = seed
        self.scale = scale
        self.reset()

    def reset(self) -> None:
        """Forget the warm-up round: only measured rounds are reported."""
        self.attempted = 0
        self.failed = 0
        self.pending: list = []
        self.times: dict[str, list[float]] = {}

    def _op(self, what: str, ok) -> None:
        """Queue the oracle check of one call; ``ok`` runs in check()."""
        self.pending.append((what, ok))

    def check(self) -> None:
        """Run the queued oracle checks (outside the timed region)."""
        for what, ok in self.pending:
            self.attempted += 1
            if not ok():
                self.failed += 1
                print(f"perfbench: {self.name}: {what} disagrees with the oracle", file=sys.stderr)
        self.pending = []

    def warmup(self, tr) -> None:
        """One untimed round on the measured inputs: the engine's first-use
        costs (class loading, code generation, Python workers, JIT
        compilation) are paid before timing. Its checks are dropped."""
        self.run_round(tr)
        self.reset()

    def setup(self) -> None:
        self.data = self.make_inputs()
        self.inputs = self.write_inputs(f"{self.work}/inputs", self.data)

    def _n(self, size: int) -> int:
        return max(1, int(size * self.scale))

    def run_round(self, tr) -> bool:
        """One round; False when a call raised (the failed call counts and
        the rest of the round is skipped)."""
        try:
            self.round(tr)
            return True
        except Exception:  # noqa: BLE001 - the loop must go on and report it
            traceback.print_exc(file=sys.stderr)
            self.attempted += 1
            self.failed += 1
            return False

    def _time(self, kind: str, sp) -> None:
        self.times.setdefault(kind, []).append(sp.driver_s + sp.exec_s)

    def call_times(self) -> dict:
        """Median wall time of each kind of call, for the printed figures."""
        return {
            f"call_{kind.rsplit('.', 1)[-1]}_s": (float(np.median(t)), "s", len(t))
            for kind, t in self.times.items()
        }


class KnnBatch(Workload):
    """Warms up on the measured inputs: the corpus's bounding box and fine
    level are literals in the generated code, so a smaller input would
    compile other classes."""

    name = "knn_batch"

    @property
    def items_per_round(self) -> int:
        return 2 * self._n(KNN_PROBES)

    def make_inputs(self):
        return gen.make_points(self.seed, self._n(KNN_N), self._n(KNN_PROBES))

    def write_inputs(self, path: str, pts) -> dict:
        shutil.rmtree(path, ignore_errors=True)
        corpus_bytes = gen.write_corpus(pts, f"{path}/corpus")
        gen.write_probes(pts, f"{path}/probes")
        return {
            "corpus": f"{path}/corpus",
            "probes": f"{path}/probes",
            "corpus_bytes": corpus_bytes,
        }

    def prepare_oracle(self) -> None:
        pts = self.data
        x = pts.x.astype(np.float64)
        self.want_knn = {}
        self.want_range = {}
        for qid, q in zip(pts.qids, pts.q):
            self.want_knn[int(qid)] = oracle.knn(x, pts.ids, q, KNN_K)
            self.want_range[int(qid)] = oracle.range_(x, pts.ids, q, KNN_RADIUS)

    def reset(self) -> None:
        super().reset()
        self.index_bytes: list[int] = []

    def round(self, tr) -> None:
        from pyvectorsearch_spark.index.grid import GridIndex

        spark, idx_path = self.spark, f"{self.work}/index"
        with tr.span("index.grid.build") as sp:
            idx = sp.call(lambda: GridIndex.build(spark.read.parquet(self.inputs["corpus"])))
        self._time("build", sp)
        with tr.span("index.grid.write") as sp:
            sp.force(lambda: idx.write(idx_path))
            sp.extra["bytes"] = gen.dir_bytes(idx_path)
        self._time("write", sp)
        self.index_bytes.append(sp.extra["bytes"])
        with tr.span("index.grid.load") as sp:
            idx = sp.call(lambda: GridIndex.load(spark, idx_path))
        self._time("load", sp)
        self.n_cells = idx._n_cells()
        for kind, arg in (("knn", KNN_K), ("range", KNN_RADIUS)):
            out = f"{self.work}/{kind}_out"
            with tr.span(f"index.grid.{kind}", plans=True) as sp:
                fn = idx.knn if kind == "knn" else idx.range
                df = sp.call(lambda: fn(
                    spark.read.parquet(self.inputs["probes"]), arg, candidates="distributed"
                ))
                sp.force(lambda: df.write.mode("overwrite").parquet(out))
                sp.rows_out = _rows(out)
            self._time(kind, sp)
            _grid_plan_counters(tr, f"index.grid.{kind}", sp)
            self._op(kind, lambda kind=kind, out=out: self._check(kind, out))

    def _check(self, kind: str, out: str) -> bool:
        got: dict[int, list] = {}
        if kind == "knn":
            for qid, nid, dist, rank in _read(out, ["query_id", "neighbor_id", "dist", "rank"]):
                got.setdefault(qid, []).append((rank, nid, dist))
            ok = len(got) == len(self.want_knn) and all(
                [(n, d) for _, n, d in sorted(got.get(q, []))] == want
                for q, want in self.want_knn.items()
            )
        else:
            for qid, nid, dist in _read(out, ["query_id", "neighbor_id", "dist"]):
                got.setdefault(qid, {})[nid] = dist
            ok = all(got.get(q, {}) == want for q, want in self.want_range.items()) and set(
                got
            ) <= set(self.want_range)
        return ok

    def dispatch(self) -> dict:
        from pyvectorsearch_spark.index.grid import GridIndex

        return {
            "cells": self.n_cells,
            "stats_is_small": self.n_cells <= STATS_SMALL_CELLS,
            "coarse_descent": self.n_cells > GridIndex.COARSE_THRESHOLD,
            "corpus_rows": self._n(KNN_N),
            "probe_rows": self._n(KNN_PROBES),
            "input_bytes": self.inputs["corpus_bytes"],
            "under_broadcast_threshold": self.inputs["corpus_bytes"] < BROADCAST_BYTES,
        }

    def report(self) -> dict:
        t, n = self.times, len(self.times["knn"])
        rows, probes = self._n(KNN_N), self._n(KNN_PROBES)
        index_bytes = float(np.median(self.index_bytes))
        return {
            "index_build_rows_per_s": (
                rows * n / (sum(t["build"]) + sum(t["write"])), "rows/s", n
            ),
            "index_bytes_per_input_byte": (
                index_bytes / self.inputs["corpus_bytes"], "ratio", n
            ),
            "knn_probes_per_s": (probes * n / sum(t["knn"]), "probes/s", n),
            "range_probes_per_s": (probes * n / sum(t["range"]), "probes/s", n),
        }


def _grid_plan_counters(tr, name: str, sp) -> None:
    """scored_rows: rows out of the join that pairs data points with their
    probe, under the projection computing ``dist`` (range evaluates its
    distance test inside that join, so there it equals the result rows);
    pair_rows: rows out of every other join that pairs probes with cells,
    nested-loop or on a coarse-cell key (``_ckey``)."""
    pair = scored = 0.0
    for p in sp.plans:
        dist = p.joins_below("dist")
        scored += p.rows(dist)
        pair += p.rows({
            i for i, (name, desc, _) in p.nodes.items()
            if i not in dist and (
                name in ("BroadcastNestedLoopJoin", "CartesianProduct")
                or (name in JOIN_NAMES and desc.split(" ", 1)[1].startswith("[_ckey#"))
            )
        })
    tr.add(name, "pair_rows", pair)
    tr.add(name, "scored_rows", scored)
    tr.add(name, "scored_per_result", scored / max(sp.rows_out, 1))


class DedupPipeline(Workload):
    name = "dedup_pipeline"

    @property
    def items_per_round(self) -> int:
        return self._n(DEDUP_DOCS)

    def warmup(self, tr) -> None:
        """One round on a tenth-size corpus: the stages' generated code
        carries no data-dependent literals, so it compiles the same classes
        as the measured input."""
        small = DedupPipeline(self.spark, f"{self.work}/warm", self.seed, self.scale / 10)
        small.setup()
        small.run_round(tr)

    def make_inputs(self):
        return gen.make_docs(self.seed, self._n(DEDUP_DOCS))

    def write_inputs(self, path: str, docs) -> dict:
        shutil.rmtree(path, ignore_errors=True)
        return {"docs_bytes": gen.write_docs(docs, f"{path}/docs"), "docs": f"{path}/docs"}

    def prepare_oracle(self) -> None:
        from pyvectorsearch_spark.operators.dedup import SIMHASH_BITS

        d = self.data
        self.keep = oracle.exact_keep(d.ids, d.texts)
        pos = {int(i): n for n, i in enumerate(d.ids)}
        kept = sorted(self.keep)
        sh = {i: oracle.shingles(oracle.tokens(d.texts[pos[i]])) for i in kept}
        self.jac = oracle.jaccard_pairs(sh, JACCARD_T)
        self.clusters = oracle.clusters(kept, self.jac)
        self.lsh = oracle.minhash_lsh(sh, N_HASHES, BANDS, LSH_T)
        self.sim = oracle.simhash_pairs(
            kept, [d.texts[pos[i]] for i in kept], SIMHASH_BITS, MAX_HAMMING
        )
        self.cos = oracle.cosine_pairs(kept, d.emb[[pos[i] for i in kept]], MIN_COSINE)
        # planted pairs LSH should find: same planted cluster, true J >= t
        fam = {i: int(d.family[pos[i]]) for i in kept}
        self.planted = set()
        by_fam: dict[int, list[int]] = {}
        for i in kept:
            if fam[i] >= 0:
                by_fam.setdefault(fam[i], []).append(i)
        for members in by_fam.values():
            for a_i, a in enumerate(members):
                for b in members[a_i + 1 :]:
                    sa, sb = sh[a], sh[b]
                    if sa and sb and len(sa & sb) / len(sa | sb) >= LSH_T:
                        self.planted.add((min(a, b), max(a, b)))

    def reset(self) -> None:
        super().reset()
        self.recall: list[float] = []
        self.kernels: dict[str, str] = {}

    def round(self, tr) -> None:
        from pyvectorsearch_spark.operators.dedup import (
            embedding_dup_pairs_auto,
            exact_dedup,
            jaccard_similarity_pairs,
            minhash_lsh_pairs,
            simhash_pairs_auto,
        )
        from pyvectorsearch_spark.operators.graph import dup_clusters

        spark, w = self.spark, self.work
        read = spark.read.parquet
        kept = f"{w}/kept"

        def stage(name, build, out, plans=False):
            with tr.span(name, plans=plans) as sp:
                df = sp.call(build)
                sp.force(lambda: df.write.mode("overwrite").parquet(out))
                sp.rows_out = _rows(out)
            self._time(name, sp)
            return sp

        stage("operators.dedup.exact_dedup", lambda: exact_dedup(read(self.inputs["docs"])), kept)
        self._op("exact_dedup", lambda: _rows(kept) == len(self.keep)
                 and {r[0] for r in _read(kept, ["doc_id"])} == self.keep)

        sp = stage(
            "operators.dedup.minhash_lsh_pairs",
            lambda: minhash_lsh_pairs(read(kept), n_hashes=N_HASHES, bands=BANDS, threshold=LSH_T),
            f"{w}/lsh", plans=True,
        )
        _pair_plan_counters(tr, "operators.dedup.minhash_lsh_pairs", sp)

        def lsh_ok():
            got = {(a, b): e for a, b, e in _read(f"{w}/lsh", ["d1", "d2", "est_jaccard"])}
            self.recall.append(len(self.planted & got.keys()) / max(len(self.planted), 1))
            return got == self.lsh

        self._op("minhash_lsh_pairs", lsh_ok)

        sp = stage(
            "operators.dedup.jaccard_similarity_pairs",
            lambda: jaccard_similarity_pairs(read(kept), threshold=JACCARD_T),
            f"{w}/jaccard", plans=True,
        )
        _pair_plan_counters(tr, "operators.dedup.jaccard_similarity_pairs", sp)
        self._op("jaccard_similarity_pairs", lambda: self.jac == {
            (a, b): (n, j)
            for a, b, n, j in _read(f"{w}/jaccard", ["d1", "d2", "n_common", "jaccard"])
        })

        stage(
            "operators.graph.dup_clusters",
            lambda: dup_clusters(read(kept), read(f"{w}/jaccard")),
            f"{w}/clusters",
        )
        self._op("dup_clusters", lambda: _rows(f"{w}/clusters") == len(self.clusters)
                 and dict(_read(f"{w}/clusters", ["doc_id", "cluster_id"])) == self.clusters)

        decision: dict = {}
        sp = stage(
            "operators.dedup.simhash_pairs_auto",
            lambda: simhash_pairs_auto(read(kept), max_hamming=MAX_HAMMING, decision_out=decision),
            f"{w}/simhash", plans=True,
        )
        tr.add("operators.dedup.simhash_pairs_auto", "python_s", _python_s(sp))
        self.kernels["simhash"] = decision.get("kernel")
        self._op("simhash_pairs_auto", lambda: self.sim == {
            (a, b): h for a, b, h in _read(f"{w}/simhash", ["d1", "d2", "hamming"])
        })

        decision = {}
        sp = stage(
            "operators.dedup.embedding_dup_pairs_auto",
            lambda: embedding_dup_pairs_auto(
                read(kept), id_col="doc_id", vec_col="embedding",
                min_cosine=MIN_COSINE, decision_out=decision,
            ),
            f"{w}/embedding", plans=True,
        )
        name = "operators.dedup.embedding_dup_pairs_auto"
        tr.add(name, "python_s", _python_s(sp))
        tr.add(name, "bucketed", float(decision.get("kernel") == "bucketed"))
        self.kernels["embedding"] = decision.get("kernel")
        self._op("embedding_dup_pairs_auto", lambda: self.cos == {
            (a, b): c for a, b, c in _read(f"{w}/embedding", ["d1", "d2", "cosine"])
        })

    def dispatch(self) -> dict:
        return {
            "docs": self._n(DEDUP_DOCS),
            "input_bytes": self.inputs["docs_bytes"],
            "under_broadcast_threshold": self.inputs["docs_bytes"] < BROADCAST_BYTES,
            "embedding_kernel": self.kernels.get("embedding"),
            "simhash_kernel": self.kernels.get("simhash"),
            "cc_directed_edges": 2 * len(self.jac),
            "cc_driver_path": 2 * len(self.jac) <= CC_DRIVER_MAX_EDGES,
        }

    def report(self) -> dict:
        t = self.times
        n = len(t.get("operators.dedup.embedding_dup_pairs_auto", []))
        total = sum(sum(v) for v in t.values())
        return {
            "dedup_docs_per_s": (self._n(DEDUP_DOCS) * n / total if total else 0.0, "docs/s", n),
            "lsh_pair_recall": (float(np.mean(self.recall)), "ratio", len(self.recall)),
        }


def _pair_plan_counters(tr, name: str, sp) -> None:
    """candidate_pairs: rows out of the join that attaches the first
    document to each distinct candidate pair — one row per pair the
    operator then verifies (the verify filter itself runs inside the
    second document's join)."""
    cand = sum(
        p.join_rows(lambda _, desc: desc.split(" ", 1)[1].startswith("[d1#"))
        for p in sp.plans
    )
    tr.add(name, "candidate_pairs", cand)
    tr.add(name, "pairs_per_candidate", sp.rows_out / cand if cand else 0.0)


def _python_s(sp) -> float:
    return sum(p.metric_sum("time to run Python workers") for p in sp.plans)


WORKLOADS = {w.name: w for w in (KnnBatch, DedupPipeline)}
