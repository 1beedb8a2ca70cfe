"""Round-5 regression tests: checkpoint backend seam, boruvka cache
ownership, distributed-CC budget accounting, pagerank fused convergence."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from graphzeppelin_spark.operators.sketch_cc import SketchCC
from graphzeppelin_spark.streaming.checkpoint import (
    CatalogBackend,
    CheckpointStore,
    IcebergBackend,
)
from graphzeppelin_spark.streaming.driver import GraphStreamDriver


# ---------------------------------------------------------------- seam


class _MemoryBackend(CatalogBackend):
    """Minimal in-memory backend: proves CheckpointStore's commit protocol
    runs entirely through the CatalogBackend seam (the Iceberg migration
    path is this class with writeTo() calls)."""

    def __init__(self, spark):
        self.spark = spark
        self.states: dict[int, pd.DataFrame] = {}
        self.metas: dict[int, dict] = {}

    def list_snapshot_ids(self):
        return list(self.metas)  # published only

    def write_state(self, state, snap_id):
        self.states[snap_id] = state.toPandas()
        return []

    def publish(self, snap_id, meta):
        self.metas[snap_id] = meta

    def read_meta(self, snap_id):
        return self.metas[snap_id]

    def read_state(self, snap_id):
        return self.spark.createDataFrame(self.states[snap_id])


def test_checkpoint_store_through_custom_backend(spark):
    be = _MemoryBackend(spark)
    store = CheckpointStore(spark, "mem://x", backend=be)
    df = spark.range(10).selectExpr("id as vertex", "cast(id * 2 as long) as val")
    sid = store.commit(df, {"kind": "t", "seq_watermark": 7})
    assert sid == 1
    assert store.latest_id() == 1
    got, meta = store.read()
    assert meta["seq_watermark"] == 7 and meta["snapshot_id"] == 1
    assert meta["total_rows"] is None  # backend returned no per-part metrics
    assert sorted(r["val"] for r in got.collect()) == [2 * i for i in range(10)]
    # second commit allocates the next id
    assert store.commit(df, {"kind": "t", "seq_watermark": 9}) == 2
    # an UNPUBLISHED snapshot is invisible: write_state without publish
    be.states[99] = be.states[1]
    assert store.latest_id() == 2


def test_parquet_backend_unchanged_default(spark, tmp_path):
    store = CheckpointStore(spark, str(tmp_path / "ck"))
    df = spark.range(100).selectExpr("id as vertex")
    store.commit(df, {"kind": "t"})
    got, meta = store.read()
    assert got.count() == 100
    assert meta["total_rows"] == 100
    assert len(meta["partitions"]) >= 1


def test_iceberg_backend_fails_fast_without_catalog(spark):
    with pytest.raises(RuntimeError, match="spark.sql.catalog"):
        IcebergBackend(spark, "mycat.db.state")
    with pytest.raises(RuntimeError, match="catalog-qualified"):
        IcebergBackend(spark, "bare_table_name")


# ------------------------------------------------- boruvka cache ownership


def _toggle_stream(spark, edges):
    pdf = pd.DataFrame(
        {
            "seq": np.arange(len(edges), dtype=np.int64),
            "type": np.zeros(len(edges), dtype=np.int32),
            "src": np.array([e[0] for e in edges], dtype=np.int64),
            "dst": np.array([e[1] for e in edges], dtype=np.int64),
        }
    )
    return spark.createDataFrame(pdf)


def test_boruvka_preserves_callers_cached_state(spark):
    """persist() on an already-cached plan is a no-op, so boruvka() must
    not unpersist state it didn't cache itself — regression for the
    'late-session tax' (every query after the first CC silently re-ran the
    whole sketch build at kron_19: 30s -> 140s back-to-back)."""
    n = 256
    edges = [(i, i + 1) for i in range(n - 1)]
    alg = SketchCC(spark, num_vertices=n, seed=7)
    state = alg.build_state(_toggle_stream(spark, edges)).persist()
    state.count()
    labels1, _ = alg.boruvka(state)
    assert state.storageLevel != StorageLevel.NONE  # caller's cache intact
    labels2, _ = alg.boruvka(state)
    assert np.array_equal(labels1, labels2)
    state.unpersist()
    # and when boruvka DOES own the cache (uncached input), it cleans up
    state2 = alg.build_state(_toggle_stream(spark, edges))
    alg.boruvka(state2)
    assert state2.storageLevel == StorageLevel.NONE


# ------------------------------------------- labelprop checkpoint/resume


def test_labelprop_resumes_mid_convergence(spark, tmp_path):
    from graphzeppelin_spark.operators.labelprop import label_propagation_df

    edges = spark.createDataFrame(
        pd.DataFrame({"src": [0, 1, 2, 5, 6], "dst": [1, 2, 3, 6, 7]})
    )
    verts = spark.range(9).selectExpr("id as v")
    ck = str(tmp_path / "lp_ck")
    # phase 1: "crash" after 2 supersteps (jump off so convergence takes >2)
    label_propagation_df(edges, vertices=verts, max_iters=2, jump=False,
                         checkpoint_dir=ck)
    resumed = label_propagation_df(edges, vertices=verts, max_iters=30,
                                   jump=False, checkpoint_dir=ck).toPandas()
    straight = label_propagation_df(edges, vertices=verts, max_iters=30,
                                    jump=False).toPandas()
    r = resumed.sort_values("v").reset_index(drop=True)
    s = straight.sort_values("v").reset_index(drop=True)
    assert r.equals(s)
    # converged snapshot short-circuits (returns without re-iterating)
    again = label_propagation_df(edges, vertices=verts, max_iters=30,
                                 jump=False, checkpoint_dir=ck).toPandas()
    assert again.sort_values("v").reset_index(drop=True).equals(s)
    # a DIFFERENT graph must NOT resume from this checkpoint
    edges2 = spark.createDataFrame(pd.DataFrame({"src": [0, 4], "dst": [4, 8]}))
    fresh = label_propagation_df(edges2, vertices=verts, max_iters=30,
                                 jump=False, checkpoint_dir=str(tmp_path / "lp_ck2"))
    guarded = label_propagation_df(edges2, vertices=verts, max_iters=30,
                                   jump=False, checkpoint_dir=ck).toPandas()
    assert guarded.sort_values("v").reset_index(drop=True).equals(
        fresh.toPandas().sort_values("v").reset_index(drop=True)
    )


# -------------------------------------------- exact-CC checkpoint/resume


def test_exact_cc_resumes_mid_convergence(spark, tmp_path):
    from graphzeppelin_spark.operators.connectivity import connected_components_df

    # a path graph needs several star-contraction rounds
    edges = spark.createDataFrame(
        pd.DataFrame({"src": list(range(0, 12)), "dst": list(range(1, 13))})
    )
    verts = spark.range(14).selectExpr("id as v")
    ck = str(tmp_path / "cc_ck")
    connected_components_df(edges, vertices=verts, max_iters=1,
                            checkpoint_dir=ck)  # phase 1: "crash" after 1 round
    resumed = connected_components_df(edges, vertices=verts,
                                      checkpoint_dir=ck).toPandas()
    straight = connected_components_df(edges, vertices=verts).toPandas()
    r = resumed.sort_values("v").reset_index(drop=True)
    s = straight.sort_values("v").reset_index(drop=True)
    assert r.equals(s)
    assert (r["component"] == [0] * 13 + [13]).all()
    # converged snapshot short-circuits on the next call
    again = connected_components_df(edges, vertices=verts,
                                    checkpoint_dir=ck).toPandas()
    assert again.sort_values("v").reset_index(drop=True).equals(s)


# ------------------------------------------------ pagerank fused loop


def test_pagerank_convergence_loop_has_no_per_iteration_actions(spark, monkeypatch):
    """Convergence mode must read max|Δ| and dangling mass via observe() on
    the iteration's own checkpoint — NOT via extra count()/collect()
    actions. Gate: the number of DataFrame.count/collect calls is the same
    for 3 and for 6 iterations (setup-only, zero per iteration)."""
    from pyspark.sql import DataFrame

    from graphzeppelin_spark.operators.pagerank import pagerank_df

    edges = spark.createDataFrame(
        pd.DataFrame({"src": [0, 1, 2, 3], "dst": [1, 2, 3, 4]})
    )
    verts = spark.range(6).selectExpr("id as v")  # vertex 5 is dangling

    calls = {"n": 0}
    orig_count, orig_collect = DataFrame.count, DataFrame.collect

    def counting_count(self):
        calls["n"] += 1
        return orig_count(self)

    def counting_collect(self):
        calls["n"] += 1
        return orig_collect(self)

    monkeypatch.setattr(DataFrame, "count", counting_count)
    monkeypatch.setattr(DataFrame, "collect", counting_collect)

    def run(iters):
        calls["n"] = 0
        pagerank_df(edges, vertices=verts, tol=0.0, max_iters=iters)
        return calls["n"]

    assert run(6) == run(3)  # zero driver actions per iteration


# ---------------------------------------------- cross-batch validation


def _stream_df(spark, rows):
    """rows: list of (seq, type, src, dst)."""
    pdf = pd.DataFrame(rows, columns=["seq", "type", "src", "dst"]).astype(
        {"seq": np.int64, "type": np.int32, "src": np.int64, "dst": np.int64}
    )
    return spark.createDataFrame(pdf)


def test_validate_stream_catches_cross_batch_double_insert(spark):
    """Two inserts of one edge in DIFFERENT micro-batches each net +1 —
    invisible to the in-slice |net|>1 guard, caught by validate_stream."""
    stream = _stream_df(
        spark,
        [(0, 0, 1, 2), (1, 0, 3, 4), (2, 0, 2, 1)],  # (1,2) inserted twice
    )
    drv = GraphStreamDriver(spark, stream, num_vertices=8, validate_stream=True)
    with pytest.raises(Exception, match="double insert"):
        drv.process_stream_until(3, batch_size=2)
    assert drv.applied_seq == 2  # batch [0,2) merged; batch [2,3) rejected


def test_validate_stream_catches_cross_batch_dead_delete(spark):
    stream = _stream_df(
        spark,
        [(0, 0, 1, 2), (1, 1, 1, 2), (2, 1, 2, 1)],  # second delete is dead
    )
    drv = GraphStreamDriver(spark, stream, num_vertices=8, validate_stream=True)
    with pytest.raises(Exception, match="dead delete"):
        drv.process_stream_until(3, batch_size=2)


def test_validate_stream_accepts_wellformed_toggles(spark):
    stream = _stream_df(
        spark,
        [
            (0, 0, 1, 2), (1, 0, 2, 3),   # batch 1: two inserts
            (2, 1, 1, 2),                  # batch 2: delete (1,2)
            (3, 0, 1, 2), (4, 1, 2, 3),   # batch 3: re-insert + delete
        ],
    )
    drv = GraphStreamDriver(spark, stream, num_vertices=8, validate_stream=True)
    drv.process_stream_until(5, batch_size=2)
    labels = drv.connected_components()
    assert labels[1] == labels[2]  # (1,2) live again
    assert labels[2] != labels[3]  # (2,3) deleted
    # parity table holds exactly the live edge set
    live = sorted(map(tuple, drv._parity.collect()))
    assert live == [(1, 2)]


# ------------------------------------------ distributed-CC budget account


def test_distributed_cc_warns_on_budget_exhaustion(spark):
    n = 512
    edges = [(i, i + 1) for i in range(n - 1)]  # path: needs multiple rounds
    alg = SketchCC(spark, num_vertices=n, seed=3)
    state = alg.build_state(_toggle_stream(spark, edges)).persist()
    state.count()
    with pytest.warns(RuntimeWarning, match="budget exhausted"):
        alg.connected_components_distributed(state, max_rounds=1)
    assert alg.last_boruvka_stats["exhausted"] is True
    st = alg.last_boruvka_stats["rounds"]
    assert len(st) == 1 and st[0]["k"] == 1  # budget-capped k
    state.unpersist()


def test_distributed_cc_records_round_stats(spark):
    n = 256
    rng = np.random.default_rng(5)
    edges = sorted(
        {
            (int(min(a, b)), int(max(a, b)))
            for a, b in rng.integers(0, n, (800, 2))
            if a != b
        }
    )  # unique canonical edges: the stream contract forbids double-inserts
    alg = SketchCC(spark, num_vertices=n, seed=11)
    state = alg.build_state(_toggle_stream(spark, edges)).persist()
    state.count()
    out = alg.connected_components_distributed(state).toPandas()
    stats = alg.last_boruvka_stats
    assert stats["exhausted"] is False
    assert len(stats["rounds"]) >= 1
    for r in stats["rounds"]:
        assert r["sec"] >= 0 and r["k"] >= 1
    # labels agree with the driver-DSU path on non-isolated vertices
    labels, _ = alg.boruvka(state)
    got = dict(zip(out["vertex"], out["component"]))
    for v, c in got.items():
        assert labels[v] == c
    state.unpersist()
