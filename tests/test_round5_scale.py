"""Round-5: hierarchical (coarse→fine) distributed candidate selection.

The sf1.0 scaling run measured the |Q|·|cells| scored cross-join at 71×
runtime for 10× data (both probes and cells scale with the corpus). The
fix descends through ~COARSE_TARGET ancestor cells first — the reference's
recursive subtree prune (pktree.hpp:978-1072) as two plan stages. These
tests force the coarse path on a small index (threshold monkeypatched) and
pin exactness against brute force for kNN and range, plus coarse-stats
aggregation invariants.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyvectorsearch_spark.index.grid import GridIndex
from pyvectorsearch_spark.operators.knn import knn_join, range_join


@pytest.fixture(scope="module")
def lattice_index(spark):
    # 40x40 lattice, occupancy 4 -> several hundred cells at a deep level
    pts = spark.createDataFrame(
        [
            (40 * i + j, [i / 39.0 + 0.013 * ((i * 7 + j) % 3), j / 39.0])
            for i in range(40)
            for j in range(40)
        ],
        "vec_id long, p2 array<float>",
    )
    idx = GridIndex.build(pts, vec_col="p2", id_col="vec_id", target_occupancy=4)
    data = pts.cache()
    data.count()
    return idx, data


@pytest.fixture(scope="module")
def probes(spark):
    rows = [
        (i, [0.05 + (i % 9) * 0.11, 0.97 - (i % 7) * 0.13]) for i in range(40)
    ]
    return spark.createDataFrame(rows, "query_id long, qvec array<float>")


def _forced_coarse(monkeypatch, idx):
    assert idx._n_cells() > 8, "fixture too small to exercise the descent"
    monkeypatch.setattr(GridIndex, "COARSE_THRESHOLD", 8)
    monkeypatch.setattr(GridIndex, "COARSE_TARGET", 16)


def _forced_ladder(monkeypatch, idx):
    """A descent of more than one stage on the 394-cell lattice
    (ladder [0, 1, 2]): every stage after the first expands survivors."""
    _forced_coarse(monkeypatch, idx)
    monkeypatch.setattr(GridIndex, "COARSE_TARGET", 4)
    monkeypatch.setattr(GridIndex, "DESCENT_BRANCH", 4)
    assert len(idx._descent_ladder()) >= 2


def test_coarse_stats_partition_counts(lattice_index):
    idx, data = lattice_index
    lc = 3  # genuinely coarser than the index's occupied levels
    cs = idx._coarse_stats(lc).collect()
    assert sum(r["count"] for r in cs) == data.count()
    assert len(cs) < idx._n_cells()
    # every coarse row's level is <= lc and coords are ancestor coords
    assert all(r["level"] <= lc for r in cs)


def test_coarse_key_expr_maps_every_fine_cell(lattice_index):
    idx, _ = lattice_index
    lc = 3
    fine = idx.stats_df.withColumn("_ckey", idx._coarse_key_expr(lc))
    coarse_keys = {r["cell"] for r in idx._coarse_stats(lc).collect()}
    mapped = {r["_ckey"] for r in fine.select("_ckey").distinct().collect()}
    assert mapped == coarse_keys


def test_coarse_level_targets_reduction(lattice_index, monkeypatch):
    idx, _ = lattice_index
    monkeypatch.setattr(GridIndex, "COARSE_TARGET", 16)
    lc = idx._coarse_level()
    assert lc < idx.fine_level
    n_coarse = idx._coarse_stats(lc).count()
    assert n_coarse < idx._n_cells() / 4  # real contraction toward target


def test_knn_coarse_descent_exact(monkeypatch, spark, lattice_index, probes):
    idx, data = lattice_index
    _forced_coarse(monkeypatch, idx)
    got = idx.knn(probes, 5, candidates="distributed").collect()
    exact = knn_join(data, probes, 5, data_id="vec_id", data_vec="p2").collect()
    key = lambda rows: sorted(  # noqa: E731
        (r.query_id, r.neighbor_id, round(r.dist, 9)) for r in rows
    )
    assert key(got) == key(exact)


def test_range_coarse_descent_exact(monkeypatch, spark, lattice_index, probes):
    idx, data = lattice_index
    _forced_coarse(monkeypatch, idx)
    got = idx.range(probes, 0.12, candidates="distributed").collect()
    exact = range_join(
        data, probes, 0.12, data_id="vec_id", data_vec="p2"
    ).collect()
    key = lambda rows: sorted((r.query_id, r.neighbor_id) for r in rows)  # noqa: E731
    assert key(got) == key(exact)
    assert len(got) > 0


def test_knn_single_stage_still_exact(spark, lattice_index, probes):
    # default thresholds: this index is small, single-stage path — the
    # regression guard that the refactor kept the round-2 plan intact
    idx, data = lattice_index
    got = idx.knn(probes, 3, candidates="distributed").collect()
    exact = knn_join(data, probes, 3, data_id="vec_id", data_vec="p2").collect()
    key = lambda rows: sorted(  # noqa: E731
        (r.query_id, r.neighbor_id, round(r.dist, 9)) for r in rows
    )
    assert key(got) == key(exact)


def test_knn_coarse_descent_k_exceeds_occupancy(monkeypatch, spark, lattice_index, probes):
    # k far above cell occupancy exercises the null-coalesce pre-bound and
    # multi-cell prefix accumulation at BOTH stages
    idx, data = lattice_index
    _forced_coarse(monkeypatch, idx)
    got = idx.knn(probes, 23, candidates="distributed").collect()
    exact = knn_join(data, probes, 23, data_id="vec_id", data_vec="p2").collect()
    key = lambda rows: sorted(  # noqa: E731
        (r.query_id, r.neighbor_id, round(r.dist, 9)) for r in rows
    )
    assert key(got) == key(exact)


@pytest.mark.parametrize("k", [5, 23])
def test_knn_multi_stage_descent_exact(monkeypatch, spark, lattice_index, probes, k):
    idx, data = lattice_index
    _forced_ladder(monkeypatch, idx)
    got = idx.knn(probes, k, candidates="distributed").collect()
    exact = knn_join(data, probes, k, data_id="vec_id", data_vec="p2").collect()
    key = lambda rows: sorted(  # noqa: E731
        (r.query_id, r.neighbor_id, r.rank, r.dist) for r in rows
    )
    assert key(got) == key(exact)


def test_range_multi_stage_descent_exact(monkeypatch, spark, lattice_index, probes):
    idx, data = lattice_index
    _forced_ladder(monkeypatch, idx)
    got = idx.range(probes, 0.12, candidates="distributed").collect()
    exact = range_join(
        data, probes, 0.12, data_id="vec_id", data_vec="p2"
    ).collect()
    key = lambda rows: sorted((r.query_id, r.neighbor_id, r.dist) for r in rows)  # noqa: E731
    assert key(got) == key(exact)
    assert len(got) > 0


def test_search_plan_py4j_round_trips(monkeypatch, spark, lattice_index, probes):
    """Building the forced-descent knn and range DataFrames stays within a
    py4j command budget. The cell geometry, bound and coarse-key
    expressions are SQL text parsed once each; built from per-dim Column
    operations (each a py4j round trip, plus call-site capture) the same
    plans took 7,365 (knn) and 5,828 (range) commands on PySpark 4.1.2,
    against 2,570 and 1,033 with SQL text. Bounds: those counts + 20 %.
    Garbage-collection deletes are not counted."""
    from py4j import protocol

    idx, _ = lattice_index
    _forced_ladder(monkeypatch, idx)
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    gc_del = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
    n = [0]

    def counting(command, *args, **kwargs):
        if not command.startswith(gc_del):
            n[0] += 1
        return send(command, *args, **kwargs)

    def count(build):
        build()  # first call fills the per-index caches (level histogram)
        n[0] = 0
        monkeypatch.setattr(client, "send_command", counting)
        try:
            build()
        finally:
            monkeypatch.setattr(client, "send_command", send)
        return n[0]

    n_knn = count(lambda: idx.knn(probes, 5, candidates="distributed"))
    n_range = count(lambda: idx.range(probes, 0.12, candidates="distributed"))
    assert n_knn <= 1.2 * 2570, n_knn
    assert n_range <= 1.2 * 1033, n_range
