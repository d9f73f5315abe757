"""Round-5 plan-shape pins: the coarse→fine descent must stay
broadcast-shaped (stats tables are the ONLY things paired with every
query; the data never cross-joins), and the single-stage path must be
byte-for-byte the round-2 plan family (no extra exchanges)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyvectorsearch_spark.index.grid import GridIndex


@pytest.fixture(scope="module")
def idx_and_probes(spark):
    pts = spark.createDataFrame(
        [(30 * i + j, [i / 29.0, j / 29.0]) for i in range(30) for j in range(30)],
        "vec_id long, p2 array<float>",
    )
    idx = GridIndex.build(pts, vec_col="p2", id_col="vec_id", target_occupancy=4)
    probes = spark.createDataFrame(
        [(i, [0.1 * (i % 10), 0.05 * (i % 19)]) for i in range(25)],
        "query_id long, qvec array<float>",
    )
    return idx, probes


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_coarse_descent_no_cartesian(monkeypatch, idx_and_probes):
    idx, probes = idx_and_probes
    monkeypatch.setattr(GridIndex, "COARSE_THRESHOLD", 8)
    monkeypatch.setattr(GridIndex, "COARSE_TARGET", 16)
    plan = _plan(idx.knn(probes, 4, candidates="distributed"))
    assert "CartesianProduct" not in plan
    # both stats pairings are broadcast nested-loop (the intended shape for
    # an unconditioned broadcast cross), never a shuffle cartesian
    assert plan.count("BroadcastNestedLoopJoin") >= 1
    # the fine expansion joins on the coarse ancestor key via broadcast hash
    assert "BroadcastHashJoin" in plan


def test_single_stage_no_extra_exchange(idx_and_probes):
    idx, probes = idx_and_probes
    # default thresholds: small index, single-stage — one scored broadcast
    # cross, no coarse artifacts in the plan
    plan = _plan(idx.knn(probes, 4, candidates="distributed"))
    assert "_ckey" not in plan
    assert "CartesianProduct" not in plan


def test_range_coarse_descent_no_cartesian(monkeypatch, idx_and_probes):
    idx, probes = idx_and_probes
    monkeypatch.setattr(GridIndex, "COARSE_THRESHOLD", 8)
    monkeypatch.setattr(GridIndex, "COARSE_TARGET", 16)
    plan = _plan(idx.range(probes, 0.1, candidates="distributed"))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_descent_geometry_hoisted_off_pair_rows(monkeypatch, idx_and_probes):
    """Every descent stage reads the hoisted per-cell (_blo, _bhi): no
    broadcast join condition and no projection over the probe vector
    re-derives a cell width (the POWER of the per-level slice count)."""
    idx, probes = idx_and_probes
    monkeypatch.setattr(GridIndex, "COARSE_THRESHOLD", 8)
    monkeypatch.setattr(GridIndex, "COARSE_TARGET", 4)
    monkeypatch.setattr(GridIndex, "DESCENT_BRANCH", 4)
    assert len(idx._descent_ladder()) >= 2
    for df in (
        idx.knn(probes, 4, candidates="distributed"),
        idx.range(probes, 0.1, candidates="distributed"),
    ):
        for line in _plan(df).splitlines():
            per_pair = (
                "BroadcastHashJoin" in line
                or "BroadcastNestedLoopJoin" in line
                or ("Project" in line and "_qvec" in line)
            )
            assert not (per_pair and "POWER(" in line), line[:400]


def test_coarse_stats_single_shuffle(idx_and_probes):
    idx, _ = idx_and_probes
    plan = _plan(idx._coarse_stats(2))
    # one hashAggregate pair around one exchange — a cells-sized rollup
    assert plan.count("Exchange hashpartitioning") <= 1
