"""Distributed sketch-CC vs the exact oracle — the engine's flagship parity suite
(mirrors reference test/cc_alg_test.cpp at pytest scale)."""

from __future__ import annotations

import numpy as np
import pytest

from graphzeppelin_spark import oracle
from graphzeppelin_spark.operators.sketch_cc import SketchCC
from graphzeppelin_spark.sources.generators import (
    dynamic_erdos_stream,
    kron_stream,
    multiples_graph_stream,
    path_graph_stream,
)
from tests.conftest import stream_df


def _check(spark, stream_pdf, n, **kwargs):
    alg = SketchCC(spark, num_vertices=n, seed=7, **kwargs)
    state = alg.build_state(stream_df(spark, stream_pdf))
    labels, forest = alg.boruvka(state)
    edges_np = oracle.live_edges(stream_pdf, n)
    expected = oracle.connected_components(edges_np, n)
    np.testing.assert_array_equal(labels, expected)
    assert oracle.spanning_forest_is_valid(forest, edges_np, n)
    return alg, state, labels


def test_sketch_cc_multiples_golden(spark):
    _check(spark, multiples_graph_stream(256), 256)


def test_sketch_cc_erdos_with_deletes(spark):
    s = dynamic_erdos_stream(num_vertices=128, density=0.02, rounds=3, seed=5)
    assert (s["type"] == 1).sum() > 0
    _check(spark, s, 128)


def test_sketch_cc_path_graph(spark):
    # adversarial diameter: needs many Boruvka rounds, exercises sample budget
    _check(spark, path_graph_stream(128, seed=2), 128)


def test_sketch_cc_kron_skew(spark):
    _check(spark, kron_stream(scale=7, edge_factor=4, seed=3), 128)


def test_sketch_cc_cameo_variant(spark):
    _check(spark, multiples_graph_stream(128), 128, variant="cameo")


def test_sketch_cc_point_query(spark):
    s = multiples_graph_stream(128)
    alg, state, labels = _check(spark, s, 128)
    # 4 and 8 share the even component; 0 is isolated
    assert alg.point_query(labels, 4, 8) is True
    assert alg.point_query(labels, 0, 4) is False


def test_sketch_cc_incremental_merge(spark):
    """Split the stream in two, build states separately, merge — must equal the
    one-shot build (linearity; basis for micro-batch streaming)."""
    n = 128
    s = dynamic_erdos_stream(num_vertices=n, density=0.03, rounds=2, seed=11)
    half = len(s) // 2
    alg = SketchCC(spark, num_vertices=n, seed=9)
    st1 = alg.build_state(stream_df(spark, s.iloc[:half]))
    st2 = alg.build_state(stream_df(spark, s.iloc[half:].reset_index(drop=True)))
    merged = alg.merge_states(st1, st2)
    labels, _ = alg.boruvka(merged)
    expected = oracle.connected_components(oracle.live_edges(s, n), n)
    np.testing.assert_array_equal(labels, expected)


def test_sketch_cc_distributed_labels(spark):
    """The DataFrame-resident-labels path (no Θ(n) driver structures) must
    produce the same labeling as the driver-DSU fast path / exact oracle."""
    n = 256
    s = multiples_graph_stream(n)
    alg = SketchCC(spark, num_vertices=n, seed=7)
    state = alg.build_state(stream_df(spark, s))
    out = alg.connected_components_distributed(state).toPandas()
    expected = oracle.connected_components(oracle.live_edges(s, n), n)
    got = dict(zip(out["vertex"], out["component"]))
    for v, c in got.items():
        assert expected[v] == c
    # vertices absent from state are isolated singletons by contract
    present = set(got)
    for v in range(n):
        if v not in present:
            assert expected[v] == v


def test_sketch_cc_distributed_labels_with_deletes(spark):
    n = 128
    s = dynamic_erdos_stream(num_vertices=n, density=0.02, rounds=3, seed=5)
    alg = SketchCC(spark, num_vertices=n, seed=3)
    state = alg.build_state(stream_df(spark, s))
    out = alg.connected_components_distributed(state).toPandas()
    expected = oracle.connected_components(oracle.live_edges(s, n), n)
    for v, c in zip(out["vertex"], out["component"]):
        assert expected[v] == c


def test_sketch_cc_kron_seed74_regression(spark):
    """A finish group whose samples are all FAIL or ZERO must not stop the
    loop: on this stream one group over 3 components sampled 0 GOOD, 1 ZERO
    and 2 FAIL, and stopping on "nothing merged" left one vertex of the
    giant component unmerged (2,589 vs 2,588 components)."""
    n = 1 << 14
    s = kron_stream(scale=14, edge_factor=64, seed=74)
    alg = SketchCC(spark, num_vertices=n, seed=42, samples_factor=0.5)
    labels, _ = alg.boruvka(alg.build_state(stream_df(spark, s)))
    expected = oracle.connected_components(oracle.live_edges(s, n), n)
    np.testing.assert_array_equal(labels, expected)
    assert not alg.last_boruvka_stats["exhausted"]


def _inject_fail(monkeypatch, failing):
    """Patch the driver-side sampler so the calls `failing(i)` selects
    (i = 0, 1, ... counts driver-side calls) return FAIL for every row.
    UDF workers run in other processes, so Spark-side rounds are untouched."""
    from graphzeppelin_spark.sketch.kernel import FAIL, SketchMatrix

    real = SketchMatrix.sample_many
    calls = []

    def sample_many(self, sample_idx):
        status, eid = real(self, sample_idx)
        calls.append(len(status))
        if failing(len(calls) - 1):
            return np.full_like(status, FAIL), np.zeros_like(eid)
        return status, eid

    monkeypatch.setattr(SketchMatrix, "sample_many", sample_many)
    return calls


def test_driver_finish_continues_past_fail_group(spark, monkeypatch):
    """A driver-finish group that comes back all FAIL keeps every component
    active; later groups still converge to the exact labeling."""
    n = 128
    s = path_graph_stream(n, seed=2)
    alg = SketchCC(spark, num_vertices=n, seed=7)
    state = alg.build_state(stream_df(spark, s))
    calls = _inject_fail(monkeypatch, lambda i: i == 0)
    labels, forest = alg.boruvka(state)
    edges_np = oracle.live_edges(s, n)
    np.testing.assert_array_equal(labels, oracle.connected_components(edges_np, n))
    assert oracle.spanning_forest_is_valid(forest, edges_np, n)
    stats = alg.last_boruvka_stats
    first = stats["rounds"][stats["driver_finish_round"]]
    assert calls and first["kind"] == "driver_finish"
    assert first["good_samples"] == 0 and first["fail_samples"] == calls[0]
    assert not stats["exhausted"]


def _assert_under_merged(labels, expected):
    """Every computed component lies inside one true component, and at
    least one true component is split."""
    for comp in np.unique(labels):
        assert len(np.unique(expected[labels == comp])) == 1
    assert len(np.unique(labels)) > len(np.unique(expected))


def test_driver_finish_all_fail_exhausts_budget(spark, monkeypatch):
    """With every driver-finish group FAIL the budget runs out with
    components still active: labels are under-merged, never wrongly
    merged, and boruvka() flags and warns."""
    n = 128
    s = path_graph_stream(n, seed=2)
    alg = SketchCC(spark, num_vertices=n, seed=7)
    state = alg.build_state(stream_df(spark, s))
    _inject_fail(monkeypatch, lambda i: True)
    with pytest.warns(RuntimeWarning, match="budget exhausted"):
        labels, _ = alg.boruvka(state)
    _assert_under_merged(labels, oracle.connected_components(oracle.live_edges(s, n), n))
    stats = alg.last_boruvka_stats
    assert stats["exhausted"] is True
    assert stats["driver_finish_round"] is not None
    assert sum(r["k"] for r in stats["rounds"]) == alg.geom.num_samples


def test_boruvka_warns_on_budget_exhaustion(spark):
    """A budget of one sample group cannot finish a path: boruvka() sets
    `exhausted` and warns, as connected_components_distributed() does."""
    n = 128
    s = path_graph_stream(n, seed=2)
    alg = SketchCC(spark, num_vertices=n, seed=7)
    state = alg.build_state(stream_df(spark, s))
    with pytest.warns(RuntimeWarning, match="budget exhausted"):
        labels, _ = alg.boruvka(state, max_rounds=1)
    _assert_under_merged(labels, oracle.connected_components(oracle.live_edges(s, n), n))
    assert alg.last_boruvka_stats["exhausted"] is True
    assert [r["k"] for r in alg.last_boruvka_stats["rounds"]] == [1]


def test_sketch_cc_rejects_universe_past_fused_key_bound(spark):
    """The fused ingest key needs |skey| <= 2n^2-1 to fit int64: n = 2^31
    is the largest universe; one more vertex is a typed error, not a silent
    overflow."""
    SketchCC(spark, num_vertices=1 << 31)
    with pytest.raises(ValueError, match="overflow int64"):
        SketchCC(spark, num_vertices=(1 << 31) + 1)
