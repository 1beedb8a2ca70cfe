"""Round-7 regression tests.

Headline item: connected_components_distributed must terminate WITHOUT a
confirmation round once at most one active component remains (round-6
verdict "what's wrong" #1 — at kron_21 the loop burned ~108s of a 192s run
confirming 6-then-0 edges after the active count hit 1). A lone active
component cannot merge: cut edges are symmetric, so its only potential
partners are ZERO-sketched components, which hold no cut edges by
definition. The loop now exact-counts active roots when the per-round
estimate is small and exits at <=1.

Also: _rebuild_parity's malformed-prefix guard (ADVICE r6) and the
Iceberg-backed commit-retry idempotence test (skipped without the runtime
jar; ADVICE r6).
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pandas as pd
import pytest

from graphzeppelin_spark import oracle
from graphzeppelin_spark.operators.sketch_cc import SketchCC
from graphzeppelin_spark.sources.generators import path_graph_stream
from tests.conftest import edges_df, stream_df


def _stream_df(spark, rows):
    """rows: list of (seq, type, src, dst)."""
    pdf = pd.DataFrame(rows, columns=["seq", "type", "src", "dst"]).astype(
        {"seq": np.int64, "type": np.int32, "src": np.int64, "dst": np.int64}
    )
    return spark.createDataFrame(pdf)


# --------------------------------------------------------- early exit at <=1


def test_distributed_cc_early_exit_single_component(spark):
    """One connected graph: after the round that merges everything into a
    single active component, NO further sampling round may run — the stats
    must show an early exit and no trailing n_edges==0 confirmation round."""
    n = 128
    s = path_graph_stream(n)
    alg = SketchCC(spark, num_vertices=n, seed=7)
    state = alg.build_state(stream_df(spark, s))
    out = alg.connected_components_distributed(state).toPandas()

    expected = oracle.connected_components(oracle.live_edges(s, n), n)
    for v, c in zip(out["vertex"], out["component"]):
        assert expected[v] == c

    stats = alg.last_boruvka_stats
    assert stats["early_exit"] is True
    assert stats["rounds"][-1]["active_after"] <= 1
    # the whole point: no round ever ran just to observe an empty sample
    assert all(r["n_edges"] > 0 for r in stats["rounds"])
    assert not stats["exhausted"]


def test_distributed_cc_two_components_still_confirms(spark):
    """With >=2 active components a cross merge is still possible, so the
    early exit must NOT fire — the loop keeps sampling until the components
    go ZERO and the classic n_edges==0 round terminates it. Two single-edge
    components both complete in round 0 and are both still flagged active
    (act = OLD root sampled non-ZERO), so the exact count reads 2 and the
    confirmation round is genuinely required."""
    n = 64
    edges = [(0, 1), (32, 33)]
    stream = _stream_df(spark, [(i, 0, s, d) for i, (s, d) in enumerate(edges)])
    alg = SketchCC(spark, num_vertices=n, seed=11)
    state = alg.build_state(stream)
    out = alg.connected_components_distributed(state).toPandas()

    comp = dict(zip(out["vertex"], out["component"]))
    assert comp[0] == comp[1]
    assert comp[32] == comp[33]
    assert comp[0] != comp[32]

    stats = alg.last_boruvka_stats
    # both components complete in round 0 but stay act-flagged: exact
    # count is 2 there — no early exit is permitted
    assert stats["rounds"][0]["active_after"] == 2
    assert not stats["early_exit"]
    # termination was the honest confirmation round
    assert stats["rounds"][-1]["n_edges"] == 0


def test_distributed_cc_early_exit_lone_straggler(spark):
    """The scenario the kron_21 probe showed (one component finishes later
    than everything else): once only ONE component remains active, the exit
    fires even though the graph has multiple components in total — the
    symmetry argument is about ACTIVE components, not all components."""
    n = 64
    # a 2-vertex component (completes round 0) + a chain long enough to
    # need more rounds than the 2-vertex one
    edges = [(0, 1)] + [(i, i + 1) for i in range(16, 28)]
    stream = _stream_df(spark, [(i, 0, s, d) for i, (s, d) in enumerate(edges)])
    alg = SketchCC(spark, num_vertices=n, seed=3, groups_per_round=1)
    state = alg.build_state(stream)
    out = alg.connected_components_distributed(state).toPandas()

    comp = dict(zip(out["vertex"], out["component"]))
    assert comp[0] == comp[1] and comp[0] != comp[16]
    assert len({comp[v] for v in range(16, 29)}) == 1

    stats = alg.last_boruvka_stats
    if stats["early_exit"]:
        # the exit saved the confirmation round: no empty round ran
        assert all(r["n_edges"] > 0 for r in stats["rounds"])
        assert stats["rounds"][-1]["active_after"] <= 1


# ----------------------------------------------- _rebuild_parity prefix guard


def test_rebuild_parity_rejects_malformed_prefix(spark, tmp_path):
    """ADVICE r6: enabling validate_stream first at resume over a prefix
    that was NEVER validated must reject a malformed prefix (signed net
    outside {0,1}) instead of silently folding it into the parity table."""
    from graphzeppelin_spark.streaming.driver import GraphStreamDriver

    ck = str(tmp_path / "drv_ck_badprefix")
    bad_stream = _stream_df(
        spark,
        [
            (0, 0, 1, 2),
            (1, 0, 2, 1),  # double insert of (1,2) inside the prefix
            (2, 0, 3, 4),
        ],
    )
    # ingest WITHOUT validation (the unvalidated-prefix scenario), split so
    # the double insert spans two batches — within a single batch the
    # ingest's own |net|>1 guard would already reject it; cross-batch it is
    # exactly the malformation only the parity table can see
    drv = GraphStreamDriver(
        spark, bad_stream, num_vertices=8, checkpoint_dir=ck,
        validate_stream=False, eager=False,
    )
    drv.process_stream_until(1)
    drv.process_stream_until(3)
    with pytest.raises(Exception, match="malformed stream prefix"):
        GraphStreamDriver.resume(
            spark, bad_stream, checkpoint_dir=ck, validate_stream=True
        )


def test_rebuild_parity_accepts_wellformed_prefix(spark, tmp_path):
    """The guard must not false-positive: insert+delete+reinsert nets to +1
    and stays live; plain insert nets to +1; deleted edge nets to 0."""
    from graphzeppelin_spark.streaming.driver import GraphStreamDriver

    ck = str(tmp_path / "drv_ck_okprefix")
    stream = _stream_df(
        spark,
        [
            (0, 0, 1, 2), (1, 1, 1, 2), (2, 0, 1, 2),  # toggle, ends live
            (3, 0, 2, 3), (4, 1, 2, 3),                # ends dead
            (5, 1, 1, 2),                              # post-resume legit delete
        ],
    )
    drv = GraphStreamDriver(
        spark, stream, num_vertices=8, checkpoint_dir=ck,
        validate_stream=False, eager=False,
    )
    drv.process_stream_until(5)
    resumed = GraphStreamDriver.resume(
        spark, stream, checkpoint_dir=ck, validate_stream=True
    )
    live = {(r["lo"], r["hi"]) for r in resumed._parity.collect()}
    assert live == {(1, 2)}
    resumed.process_stream_until(6)  # the legit delete must pass validation


# ------------------------------------------------ live fold lineage adoption


def test_live_fold_adopts_store_lineage(spark, tmp_path):
    """Round-7 kron_17 live bench finding: LiveGraphStream kept the working
    state as a merge-over-localCheckpoint chain, so equal-sized waves cost
    21 -> 126 -> 310s while a restarted instance (state from the store's
    parquet) ran the next wave in 215s. The fold must adopt the state read
    back from the store — a clean parquet-scan plan — exactly as the batch
    driver's _apply_batch does."""
    from graphzeppelin_spark.sources.generators import dynamic_erdos_stream
    from graphzeppelin_spark.streaming.live import LiveGraphStream

    n = 64
    s = dynamic_erdos_stream(num_vertices=n, density=0.05, rounds=2, seed=9)
    half = len(s) // 2
    src_dir = str(tmp_path / "incoming")
    live = LiveGraphStream(
        spark, src_dir, num_vertices=n,
        stream_checkpoint_dir=str(tmp_path / "stream_ckpt"),
        state_checkpoint_dir=str(tmp_path / "state_ckpt"), seed=5,
    )
    for part in (s.iloc[:half], s.iloc[half:].reset_index(drop=True)):
        stream_df(spark, part).write.mode("append").parquet(src_dir)
        live.process_available()
        plan = live.state._jdf.queryExecution().analyzed().toString()
        assert "LogicalRDD" not in plan  # not a localCheckpoint chain
        assert "parquet" in plan.lower()  # the store's own files
    exp = oracle.connected_components(oracle.live_edges(s, n), n)
    np.testing.assert_array_equal(live.connected_components(), exp)
    if live.state is not None:
        live.state.unpersist()


# --------------------------------------------- planted-hub triangle counting


def test_triangle_csr_planted_hub(spark):
    """Power-law safety of the CSR triangle path (round-6 verdict #5): the
    degree-ordered orientation must bound per-task work at a hub. Star hub
    0 -> {1..200} plus path edges (i, i+1): raw hub degree is 200, but every
    hub edge orients AWAY from the hub's adjacency list (toward the higher-
    (degree,id) endpoint — the hub), so the max oriented out-degree stays
    O(1) and the wedge count is sum_u C(out(u), 2), not C(200, 2)."""
    from pyspark.sql import functions as F

    from graphzeppelin_spark.operators.adjacency import (
        triangle_count_csr,
        wedges_csr,
    )
    from graphzeppelin_spark.operators.triangles import (
        _oriented,
        triangle_count_df,
    )

    hub_edges = [(0, i) for i in range(1, 201)]
    path_edges = [(i, i + 1) for i in range(1, 200)]
    arr = np.array(
        [(min(a, b), max(a, b)) for a, b in hub_edges + path_edges],
        dtype=np.int64,
    )
    edges = edges_df(spark, arr)

    o = _oriented(edges)
    max_out = o.groupBy("u").count().agg(F.max("count")).collect()[0][0]
    assert max_out <= 3  # hub's 200 raw edges never land in one out-list

    outdeg = {r["u"]: r["count"] for r in o.groupBy("u").count().collect()}
    expected_wedges = sum(c * (c - 1) // 2 for c in outdeg.values())
    assert wedges_csr(edges).count() == expected_wedges

    # each path edge (i, i+1) closes the hub wedge (i, i+1, apex 0);
    # both CSR regimes (broadcast-closure and the wedge-exporting
    # semi-join fallback) must agree with the relational path
    n_csr = triangle_count_csr(edges).collect()[0]["n_triangles"]
    n_csr_sj = triangle_count_csr(
        edges, broadcast_max_edges=0).collect()[0]["n_triangles"]
    n_join = triangle_count_df(edges).collect()[0]["n_triangles"]
    assert n_csr == n_csr_sj == n_join == 199


# ------------------------------------------------- Iceberg-backed retry test


def _iceberg_jar_present() -> bool:
    try:
        import pyspark

        jars = glob.glob(
            os.path.join(os.path.dirname(pyspark.__file__), "jars", "*iceberg*")
        )
    except Exception:
        return False
    jars += glob.glob(os.path.join(os.environ.get("SPARK_HOME", "/nonexistent"),
                                   "jars", "*iceberg*"))
    return bool(jars)


@pytest.mark.skipif(
    not _iceberg_jar_present(),
    reason="iceberg-spark-runtime jar not on the classpath in this sandbox",
)
def test_iceberg_commit_retry_idempotent(tmp_path):
    """ADVICE r6: the overwritePartitions retry fix is otherwise pinned only
    through the parquet backend. With the runtime jar present, run the same
    crash-between-write_state-and-publish scenario against a real (hadoop
    catalog) Iceberg table AND assert earlier published snapshots survive
    the retried overwrite at a later snap id."""
    from pyspark.sql import SparkSession

    from graphzeppelin_spark.streaming.checkpoint import (
        CheckpointStore,
        IcebergBackend,
    )

    wh = str(tmp_path / "warehouse")
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("gz_iceberg_retry_test")
        .config("spark.sql.catalog.icetest",
                "org.apache.iceberg.spark.SparkCatalog")
        .config("spark.sql.catalog.icetest.type", "hadoop")
        .config("spark.sql.catalog.icetest.warehouse", wh)
        .getOrCreate()
    )
    try:
        backend = IcebergBackend(spark, "icetest.db.gz_state")
        store = CheckpointStore(spark, "icetest.db.gz_state", backend=backend)

        # snapshot 1: published cleanly — must survive everything below
        df1 = spark.range(5).selectExpr("id as v", "id * 10 as val")
        sid1 = store.commit(df1, {"kind": "t"})

        # snapshot 2: crash between write_state and publish, then retry
        df2a = spark.range(5).selectExpr("id as v", "id * 2 as val")
        real_publish = store.backend.publish

        def failing_publish(snap_id, meta):
            raise RuntimeError("simulated crash between write_state and publish")

        store.backend.publish = failing_publish
        with pytest.raises(RuntimeError, match="simulated crash"):
            store.commit(df2a, {"kind": "t"})
        store.backend.publish = real_publish

        df2b = spark.range(5).selectExpr("id as v", "id * 3 as val")
        sid2 = store.commit(df2b, {"kind": "t"})
        assert sid2 == sid1 + 1  # reused the unpublished id

        got2, _ = store.read(sid2)
        assert {(r["v"], r["val"]) for r in got2.collect()} == {
            (i, i * 3) for i in range(5)
        }  # no orphan df2a rows mixed in
        got1, _ = store.read(sid1)
        assert {(r["v"], r["val"]) for r in got1.collect()} == {
            (i, i * 10) for i in range(5)
        }  # earlier published snapshot intact after the retried overwrite
    finally:
        spark.stop()
