"""Distributed GraphZeppelin-style sketch connected components (Boruvka merges).

The Spark rendering of the reference's CC pipeline (SURVEY.md §3.1):

  reference (C++, one box)                     this engine (Spark)
  ------------------------------------------   --------------------------------
  guttering system shuffle by vertex           repartition(vertex) + mapInPandas
  delta sketches + locked merge                per-partition SketchMatrix build
                                               (partition == final owner, so no
                                               second merge on first build)
  boruvka round: group members by root,        prune to round's sample-group
  range_merge + sample (OpenMP)                columns (the range_merge column
                                               pruning, done BEFORE the shuffle)
                                               → partial per-partition sums →
                                               groupBy(root) final sum + sample
  boruvka_emulation loop                       _boruvka: one loop for both entry
                                               points; labels live in a numpy
                                               DSU (boruvka) or a checkpointed
                                               table (connected_components_
                                               distributed)

State is a DataFrame (vertex: long, det: binary, grp: array<binary>) — the
Spark image of the reference's Bucket* arrays, laid out one sparse blob per
sample group (see STATE_SCHEMA) — checkpointable to parquet at any point and
mergeable with later micro-batch deltas because the sketch is a linear
aggregate (streaming/driver.py builds on this).

Scale notes: the only full-width shuffle is the initial repartition(vertex)
(the reference's gutter shuffle). Boruvka rounds ship pruned slices
(~1/num_samples of the state) and partial-aggregate per partition before the
groupBy(root) exchange, so a giant component never concentrates more rows on
one reducer than there are map partitions. Hub skew at ingest is handled by
the net-multiplicity pre-aggregation (groupBy(vertex, eid) partial agg) which
collapses repeat updates JVM-side before any Python work.
"""

from __future__ import annotations

import math
import time
import warnings

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from graphzeppelin_spark.config import SketchConfig
from graphzeppelin_spark.sketch.dsu import NumpyDSU
from graphzeppelin_spark.sketch.kernel import (
    FAIL,
    GOOD,
    ZERO,
    SketchGeometry,
    SketchMatrix,
    decode_edges,
    cached_zero_buckets,
    decode_group_rows,
    encode_group_rows,
)

# State layout (round 8): det = the 16-byte deterministic bucket dense;
# grp[g] = sample group g's buckets as a sparse blob (kernel.encode_group_rows).
# Sample groups are contiguous bucket ranges, so a Boruvka round's column
# pruning (the reference's range_merge, sketch.cpp:156-179) is a JVM-side
# `slice(grp, lo, k)` — only the round's k/num_samples of the state bytes
# cross the JVM->Python Arrow boundary. The old single-blob layout shipped
# every row's FULL sketch and pruned in Python: the transfer dominated
# (440MB/round at kron_17 for a 1-group round that needed 37MB).
STATE_SCHEMA = T.StructType(
    [
        T.StructField("vertex", T.LongType(), False),
        T.StructField("det", T.BinaryType(), False),
        T.StructField("grp", T.ArrayType(T.BinaryType(), False), False),
    ]
)

# per-(map partition, root) partial sums, same grouped-sparse layout — the
# groupBy(root) exchange ships sparse slices, never dense blobs
GROUPED_PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("root", T.LongType(), False),
        T.StructField("det", T.BinaryType(), False),
        T.StructField("grp", T.ArrayType(T.BinaryType(), False), False),
    ]
)

# driver-finish collect rows: one DENSE flattened slice per component (the
# driver parses these straight into the numpy accumulator)
PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("root", T.LongType(), False),
        T.StructField("sketch", T.BinaryType(), False),
    ]
)

SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("root", T.LongType(), False),
        T.StructField("grp", T.IntegerType(), False),
        T.StructField("status", T.IntegerType(), False),
        T.StructField("eid", T.LongType(), False),
    ]
)

# driver-finish batching (see _DriverLabels): FINISH_BATCH_GROUPS sample
# groups per collected batch. Interleaved A/B at every probed regime —
# kron_17 at 2406 and at 21 active components, the sf0.1 chain at 5165,
# kron_21 at 305 — narrow 3-group batches beat or tie wider ones (kron_17
# finish 1.39-1.76s vs 2.9-7.8s gate-sized; kron_21 9.1s vs 13.5s for 3 vs
# 6 groups): the reduce scans and decodes the WHOLE state at the batch's
# width regardless of active count, so wide batches pay full-state decode,
# driver collect bytes and GC, while a narrow batch almost always converges
# the tail anyway (components shrink geometrically).
FINISH_BATCH_GROUPS = 3

# sample groups consumed by boruvka's round 0 (every vertex samples its own
# sketch): a second group costs nothing extra (identical transfer/decode
# shape) and collapses the active set entering the driver finish ~100x at
# kron_17 (2406 active components after 1 group vs 21 after 2, at the same
# 0.6-0.7s round cost)
ROUND0_GROUPS = 2

# the largest vertex universe the fused ingest key can encode: |skey| =
# eid*2 + is_hi <= 2n^2 - 1 must fit a signed int64
MAX_NUM_VERTICES = 1 << 31


def _u64_col_to_i64(arr: np.ndarray) -> np.ndarray:
    return np.ascontiguousarray(arr, dtype=np.uint64).view(np.int64)


class SketchCC:
    """Sketch-based dynamic connected components over an edge-update stream."""

    def __init__(
        self,
        spark: SparkSession,
        num_vertices: int,
        seed: int = 42,
        variant: str = "cameo",
        samples_factor: float = 1.0,
        num_partitions: int | None = None,
        config: "SketchConfig | None" = None,
        groups_per_round: int = 4,
    ):
        if num_vertices > MAX_NUM_VERTICES:
            raise ValueError(
                f"num_vertices={num_vertices} exceeds {MAX_NUM_VERTICES}: the "
                "fused ingest key (|skey| <= 2n^2-1) would overflow int64"
            )
        if config is not None:  # unified config surface (config.SketchConfig)
            seed, variant, samples_factor = (
                config.seed,
                config.variant,
                config.samples_factor,
            )
        self.spark = spark
        self.num_vertices = num_vertices
        self.geom = SketchGeometry(
            num_vertices=num_vertices,
            seed=seed,
            samples_factor=samples_factor,
            variant=variant,
        )
        # default: session shuffle parallelism, capped at the cluster core
        # count — each partition owns a SketchMatrix block; python build
        # tasks beyond the core count only add per-task fixed cost (64 vs 32
        # build partitions A/B'd equal-to-worse at local[32]; a cluster
        # passes this explicitly to go wider for skew/memory headroom)
        self.num_partitions = num_partitions or max(2, min(
            int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
            max(spark.sparkContext.defaultParallelism, 8),
            64,
        ))
        # sample groups consumed per DISTRIBUTED-labels Boruvka round: k
        # fresh groups sampled against one component partition give up to k
        # candidate cut edges per component, and one star-contraction of the
        # combined component graph does the work of >= k classic rounds — so
        # the number of sequential Spark rounds (the distributed path's cost
        # driver) drops ~k-fold for the same sample budget
        self.groups_per_round = groups_per_round

    # ------------------------------------------------------------------ build

    @staticmethod
    def _canonical_updates(stream: DataFrame) -> DataFrame:
        """(lo, hi, sign) canonical undirected updates — the single shared
        definition of edge canonicalization and the insert/delete sign
        convention (the ingest hot path and the streaming driver's parity
        table both build on it)."""
        return stream.select(
            F.least("src", "dst").alias("lo"),
            F.greatest("src", "dst").alias("hi"),
            F.when(F.col("type") == 0, F.lit(1)).otherwise(F.lit(-1)).alias("sign"),
        ).where(F.col("lo") != F.col("hi"))

    @staticmethod
    def _net_guard():
        """Keep net != 0 rows; raise on |net| > 1 (non-alternating stream) —
        the single shared definition of the stream-contract guard. Expects
        columns `net` and `eid` in scope.

        Stream contract (validated, not assumed): updates of one edge must
        alternate insert/delete — exactly what the reference asserts on its
        stream readers. Under that contract the signed sum per (vertex,
        edge) over ANY stream slice lies in {-1, 0, +1} and equals the
        slice's occurrence-parity contribution, which is what makes toggle
        semantics compose with the linear merge of micro-batch deltas (an
        insert in batch k cancels a delete in batch k+1 bucket-for-bucket
        when the states merge — the role XOR plays in the reference). The
        guard catches malformed updates WITHIN one stream slice; a
        malformation split across separately built slices (two inserts of
        one edge in different micro-batches, each netting +1) is invisible
        to it — cross-batch well-formedness is the producer's contract, as
        the reference's stream readers assume."""
        return F.when(
            F.abs("net") > 1,
            F.raise_error(
                F.concat(
                    F.lit("malformed stream: non-alternating updates for eid "),
                    F.col("eid").cast("string"),
                )
            ).cast("boolean"),
        ).otherwise(F.col("net") != 0)

    def _packed_skeys(self, stream: DataFrame) -> DataFrame:
        """One-column net updates for the build: ``o`` int64 rows,
        hash-partitioned by vertex.

        Each undirected update hits both endpoints (the reference's double
        gutter insert, graph_sketch_driver.h:171-172) with the AGM
        signed-incidence convention: +eid at the lo endpoint, -eid at the hi
        endpoint — so summing a supernode's member sketches cancels internal
        edges exactly.

        Encoding: a gross incidence row is ``skey = u * (eid*2 + is_hi)``
        where u is the update sign, eid = lo*n + hi, and is_hi says which
        endpoint this row is for (the vertex is then lo or hi of eid — 1
        redundant bit instead of a redundant 8-byte vertex column). After the
        per-(endpoint, edge) net aggregation, ``o = seid_sign * (eid*2 +
        is_hi)`` with seid_sign = net * (+1 at lo / -1 at hi). Why (guide
        §2.3, §4.1): the build exchange ships 16-byte UnsafeRows instead of
        24-byte (vertex, seid) rows (-33% shuffle bytes on the ingest's ONE
        full-width exchange) and the Arrow boundary crosses 8 bytes/row
        instead of 16 — kron_17 interleaved A/B over 8 pairs: fused best
        6.59s / median ~7.2 vs two-column best 7.10 / median ~8.6. All
        decode arithmetic is exact integer ops (shiftright / div / %): float
        division would silently lose precision past 2^53. |skey| <= 2n^2-1
        bounds the universe at MAX_NUM_VERTICES (checked in __init__).

        The ONE full-width exchange happens BEFORE the net-multiplicity
        aggregation: hashpartitioning(vertex) satisfies the aggregation's
        clustered distribution, so the groupBy that collapses duplicate
        updates runs partition-local with no second exchange (collapsing the
        round-3 plan's two exchanges measured 11.9s → 9.5s best on the
        kron_17 ingest at local[32]). A hub vertex concentrates its GROSS
        update rows on one reducer, but the alternating-stream contract
        bounds gross at a small multiple of net."""
        n = self.num_vertices
        canon = self._canonical_updates(stream)
        eid2 = (F.col("lo") * F.lit(n) + F.col("hi")) * F.lit(2)
        # ONE generator scan (inline of a 2-struct array), not a unionAll of
        # two selects: the union form scanned the stream parquet (and
        # computed the canonicalization) twice per materialization
        both = canon.select(
            F.inline(
                F.array(
                    F.struct((F.col("sign") * eid2).alias("skey")),
                    F.struct((F.col("sign") * (eid2 + F.lit(1))).alias("skey")),
                )
            )
        )
        # vertex recomputed from skey; the SAME expression object partitions
        # and groups, so the groupBy reuses the one exchange (plan-gated)
        vexpr = F.expr(
            f"if((abs(skey) & 1) = 1,"
            f" shiftright(abs(skey), 1) % {n},"
            f" shiftright(abs(skey), 1) div {n})"
        )
        part = both.repartition(self.num_partitions, vexpr)
        grouped = part.groupBy(
            vexpr.alias("v"), F.abs(F.col("skey")).alias("akey")
        ).agg(
            F.sum(
                F.when(F.col("skey") > 0, F.lit(1)).otherwise(F.lit(-1))
            ).alias("net")
        )
        guarded = grouped.select(
            "akey", "net", F.shiftright(F.col("akey"), 1).alias("eid")
        ).where(self._net_guard())
        agm = F.when(
            F.col("akey").bitwiseAND(F.lit(1)) == 1, -F.col("net")
        ).otherwise(F.col("net"))
        return guarded.select((agm * F.col("akey")).alias("o"))

    def build_state(self, stream: DataFrame) -> DataFrame:
        """Build the (vertex, det, grp) state table from a full stream slice.

        The exchange + Arrow rows are the fused one-column key
        (_packed_skeys). The JVM net-multiplicity aggregation between the
        exchange and the python stage stays DELIBERATELY (round-8
        interleaved A/B): the Arrow boundary charges per row, and netting
        cuts the rows crossing it 3x at kron_17 (63M gross -> 21M net) —
        moving the netting into numpy (sort + segmented reduce, body
        measured at 0.29s/partition) still lost ~6s end-to-end to the extra
        42M rows of Arrow serialization (old best 7.2s / median 8.6 vs new
        13.1/18.7)."""
        geom = self.geom
        n = self.num_vertices
        gsz = geom.cols_per_sample * geom.bkt_per_col
        n_groups = geom.num_samples
        updates = self._packed_skeys(stream)  # hash-partitioned by vertex

        def _build(batches):
            for pdf in _concat(batches):
                o = pdf["o"].to_numpy(np.int64)
                signs = np.where(o >= 0, np.int64(1), np.int64(-1))
                akey = np.abs(o).astype(np.uint64)
                eids = akey >> np.uint64(1)
                is_hi = (akey & np.uint64(1)).astype(bool)
                lo = (eids // np.uint64(n)).astype(np.int64)
                hi = (eids % np.uint64(n)).astype(np.int64)
                uniq, inv = np.unique(np.where(is_hi, hi, lo), return_inverse=True)
                sm = SketchMatrix(geom, len(uniq), reuse_slot="build")
                sm.update_many(inv, eids, signs=signs)
                dets, grps = encode_group_rows(sm.buckets, gsz, n_groups)
                yield pd.DataFrame({"vertex": uniq, "det": dets, "grp": grps})

        return updates.mapInPandas(_build, schema=STATE_SCHEMA)

    def merge_states(self, a: DataFrame, b: DataFrame) -> DataFrame:
        """Additive merge of two state tables (linear-sketch property)."""
        geom = self.geom
        gsz = geom.cols_per_sample * geom.bkt_per_col
        n_groups = geom.num_samples
        both = a.unionAll(b).repartition(self.num_partitions, "vertex")

        def _merge(batches):
            for pdf in _concat(batches):
                verts = pdf["vertex"].to_numpy(np.int64)
                uniq, inv = np.unique(verts, return_inverse=True)
                arr = decode_group_rows(
                    pdf["det"].tolist(), pdf["grp"].tolist(),
                    n_groups, gsz, geom.num_buckets, reuse_slot="gdec_merge",
                )
                sm = SketchMatrix(geom, len(arr), arr)
                groups, combined = sm.merged_by_group(inv, reuse_slot="merge")
                dets, grps = encode_group_rows(combined, gsz, n_groups)
                yield pd.DataFrame({"vertex": uniq, "det": dets, "grp": grps})

        return both.mapInPandas(_merge, schema=STATE_SCHEMA)

    # ------------------------------------------------------------------ query

    def _query_parts(self) -> int:
        """Python-task parallelism for QUERY-side map stages.

        The build shuffle keeps self.num_partitions (the gutter geometry),
        but query stages over the built state are latency-bound by per-task
        overhead, not bytes: at kron_17 a no-op mapInPandas over the cached
        state cost 1.11s at 128 tasks vs 0.38s coalesced to 32 (the cluster's
        core count) — ~7ms fixed cost per python task with trivial work.
        Scale-adaptive: sc.defaultParallelism is total cores on a cluster,
        so this tracks the machine, never a local-mode constant; small
        states additionally shrink toward ~2048 vertices per task (an 8-task
        boruvka beat the 32-task one 1.65s vs 2.33s on the 15k-vertex sf0.1
        chain — same fixed-cost-per-task argument at the next scale down)."""
        # floor 2: repartition(1, root) would plan an Exchange SinglePartition
        # (losing the hash-partitioned reduce shape the plan gates pin)
        return max(2, min(
            self.num_partitions,
            self.spark.sparkContext.defaultParallelism,
            -(-self.num_vertices // 2048),
        ))

    def _sliced(self, state: DataFrame, group_lo: int, group_hi: int) -> DataFrame:
        """JVM-side column pruning: keep only sample groups
        [group_lo, group_hi) (+ det) — the reference's range_merge pruning
        (sketch.cpp:156-179) as a Catalyst array slice, so the pruned bytes
        never reach the Arrow boundary. Also coalesces to query parallelism
        (no shuffle): every downstream python stage runs _query_parts tasks
        instead of one per build partition."""
        k = group_hi - group_lo
        return state.select(
            "vertex", "det", F.slice("grp", group_lo + 1, k).alias("grp")
        ).coalesce(self._query_parts())

    def _reduce(
        self,
        state: DataFrame,
        labels_df: DataFrame | None,
        group_lo: int,
        group_hi: int,
        sample: bool = True,
    ) -> DataFrame:
        """The one Boruvka-round reduce: per-component sums of sample groups
        [group_lo, group_hi) (reference perform_boruvka_round).

        With a (vertex, root) labels_df, each sketch is pruned to those
        groups' columns JVM-side (_sliced — the pruned bytes never cross the
        Arrow boundary), inner-joined to its root (components absent from
        labels_df never enter the round), partial-summed per (map partition,
        root) in the grouped-SPARSE layout, exchanged on root, and
        final-summed — a giant component never concentrates more rows on one
        reducer than there are map partitions, and no per-root Python calls
        happen anywhere. labels_df=None is the identity labeling (every
        state vertex its own component, reference run_round_zero): one
        pruned map pass with no join, aggregation or shuffle — at web scale
        the generic path would ship a dense slice per VERTEX here.

        The final stage either l0-samples every group in the UDF
        (SAMPLE_SCHEMA rows: one per component per group — sampling k fresh
        groups against one partition is k classic rounds' worth of samples
        for ONE reduce) or, with sample=False, emits one dense slice per
        component (PARTIAL_SCHEMA) for the driver finish."""
        g = self.geom
        k = group_hi - group_lo
        gsz = g.cols_per_sample * g.bkt_per_col
        slice_nb = k * gsz + 1
        slice_geom = _SliceGeom(g, slice_nb, k)
        identity = labels_df is None

        def _summed(pdf, slot):
            roots = pdf["root"].to_numpy(np.int64)
            arr = decode_group_rows(
                pdf["det"].tolist(), pdf["grp"].tolist(), k, gsz, slice_nb,
                reuse_slot="gdec_" + slot,
            )
            if identity:  # state rows are already one per vertex
                return roots, arr
            uniq, inv = np.unique(roots, return_inverse=True)
            acc = cached_zero_buckets(slice_nb, len(uniq), "gacc_" + slot)
            with np.errstate(over="ignore"):
                np.add.at(acc, inv, arr)
            return uniq, acc

        def _partial(batches):
            for pdf in _concat(batches):
                uniq, acc = _summed(pdf, "partial")
                dets, grps = encode_group_rows(acc, gsz, k)
                yield pd.DataFrame({"root": uniq, "det": dets, "grp": grps})

        def _final(batches):
            for pdf in _concat(batches):
                uniq, acc = _summed(pdf, "final")
                if not sample:
                    flat = acc.reshape(len(uniq), -1)
                    yield pd.DataFrame(
                        {"root": uniq, "sketch": [row.tobytes() for row in flat]}
                    )
                    continue
                sm = SketchMatrix(slice_geom, len(uniq), acc)
                frames = []
                for gi in range(k):
                    status, eid = sm.sample_many(gi)
                    eid[status != GOOD] = 0
                    frames.append(
                        pd.DataFrame(
                            {
                                "root": uniq,
                                "grp": np.full(len(uniq), group_lo + gi, np.int32),
                                "status": status.astype(np.int32),
                                "eid": _u64_col_to_i64(eid),
                            }
                        )
                    )
                yield pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]

        rows = self._sliced(state, group_lo, group_hi)
        if identity:
            rows = rows.withColumnRenamed("vertex", "root")
        else:
            rows = (
                rows.join(labels_df, "vertex").select("root", "det", "grp")
                .mapInPandas(_partial, schema=GROUPED_PARTIAL_SCHEMA)
                .repartition(self._query_parts(), "root")
            )
        return rows.mapInPandas(_final, schema=SAMPLE_SCHEMA if sample else PARTIAL_SCHEMA)

    def _labels_df(self, labels: np.ndarray, active: np.ndarray | None):
        """Broadcastable (vertex, root) map, restricted to active components."""
        verts = np.arange(len(labels), dtype=np.int64)
        if active is not None:
            mask = np.isin(labels, active)
            verts, roots = verts[mask], labels[mask]
        else:
            roots = labels
        return F.broadcast(
            self.spark.createDataFrame(pd.DataFrame({"vertex": verts, "root": roots}))
        )

    def _boruvka(self, state: DataFrame, labels, max_rounds: int | None) -> None:
        """The one Boruvka loop (reference boruvka_emulation,
        cc_sketch_alg.cpp:464-513), shared by boruvka() and
        connected_components_distributed(); `labels` is the entry point's
        label store (_DriverLabels or _TableLabels), which picks each
        round's width and where its samples are drawn and applied.

        Stop rule: a component leaves the active set only when its sample is
        ZERO — its sketch is empty, so it has no cut edges and never merges
        again without new stream updates. A FAIL sample (non-empty sketch,
        no good bucket in that group) keeps the component active, and the
        next round draws fresh groups for it (the reference's
        sample_supernode keeps the loop going on FAIL). The loop stops once
        at most one active component is left: cut edges are symmetric, so a
        lone active component's only partners are ZERO components, which
        hold no cut edges by definition. If the sample budget runs out with
        more than one component active, `exhausted` is set and a
        RuntimeWarning raised: the labeling is then possibly under-merged
        (never wrongly merged) and the caller should raise samples_factor.

        Every round appends one record to last_boruvka_stats["rounds"]:
        round, kind ("distributed" = sampled in a Spark UDF;
        "driver_finish" = sampled in numpy from collected slices), k (sample
        groups consumed), good/fail/zero_samples (one sample per component
        per group), active (components sampled non-ZERO), active_after
        (active components after the round's merges) and sec, plus the
        store's own counters."""
        budget = self.geom.num_samples
        if max_rounds is not None:
            budget = min(max_rounds, budget)
        stats = {"rounds": [], "exhausted": False, "early_exit": False,
                 "driver_finish_round": None, "driver_finish_components": None}
        self.last_boruvka_stats = stats
        gidx = 0
        while gidx < budget and labels.active > 1:
            t0 = time.time()
            k, kind, samples = labels.sample(state, gidx, budget)
            if kind == "driver_finish" and stats["driver_finish_round"] is None:
                stats["driver_finish_round"] = len(stats["rounds"])
                stats["driver_finish_components"] = labels.active
            counts = labels.apply(samples)
            good, fail = counts["good_samples"], counts["fail_samples"]
            stats["rounds"].append(
                {"round": len(stats["rounds"]), "kind": kind, "k": k,
                 "active": (good + fail) // k, **counts,
                 "active_after": labels.active,
                 "sec": round(time.time() - t0, 3)}
            )
            gidx += k
        # a lone active component was not confirmed by a further round
        stats["early_exit"] = labels.active == 1
        if labels.active > 1:
            stats["exhausted"] = True
            warnings.warn(
                f"sketch CC: sample budget exhausted with ~{labels.active} "
                "active components; labeling may be partial — raise "
                "samples_factor (the budget scales with it)",
                RuntimeWarning,
                stacklevel=3,
            )

    # ------------------------------------------------------------- public API

    def boruvka(
        self,
        state: DataFrame,
        max_rounds: int | None = None,
        driver_finish_bytes: int = 256 * 1024 * 1024,
    ) -> tuple[np.ndarray, np.ndarray]:
        """Run Boruvka over the sketch state with labels in a driver numpy
        DSU (the fast path up to ~10^8 vertices).

        Returns (labels: int64[num_vertices] — component = min member id,
        forest: (m,2) int64 spanning-forest edges).

        Once the per-component slices for the next FINISH_BATCH_GROUPS
        sample groups fit in `driver_finish_bytes`, the tail rounds are
        finished driver-side in numpy from one collect per batch —
        components shrink geometrically, so this removes the long tail of
        per-round Spark jobs while keeping driver memory bounded (the
        reference's whole query is in-memory; we only drop down when it
        provably fits). Per-round stats land in `last_boruvka_stats`.
        """
        from graphzeppelin_spark.session import aqe_off

        labels = _DriverLabels(self, driver_finish_bytes)
        with aqe_off(self.spark):
            # persist only if the CALLER hasn't: persist() on an
            # already-cached plan is a no-op, so unconditionally unpersisting
            # at the end would silently drop the caller's cache — every later
            # query on that state then re-runs the whole sketch build
            # (measured at kron_19: back-to-back boruvka calls went 30s →
            # 140s, ~7x python-worker CPU)
            owns_cache = state.storageLevel == StorageLevel.NONE
            if owns_cache:
                state = state.persist()
                state.count()
            try:
                self._boruvka(state, labels, max_rounds)
            finally:
                if owns_cache:
                    state.unpersist()
        forest = np.array(labels.forest, dtype=np.int64).reshape(-1, 2)
        return labels.dsu.labels(), forest

    def connected_components(self, state: DataFrame) -> DataFrame:
        labels, _ = self.boruvka(state)
        return self.spark.createDataFrame(
            pd.DataFrame(
                {"v": np.arange(self.num_vertices, dtype=np.int64), "component": labels}
            )
        )

    def connected_components_distributed(
        self,
        state: DataFrame,
        max_rounds: int | None = None,
        groups_per_round: int | None = None,
        remap_driver_bytes: int = 64 * 1024 * 1024,
        complete: bool = False,
    ) -> DataFrame:
        """(vertex, component) with labels resident as a DataFrame end-to-end —
        the 10^9+-vertex path: no driver structure is ever Θ(num_vertices)
        (boruvka()'s numpy DSU + labels array is the fast path up to ~10^8).
        The rounds are _boruvka's, with the labels in a _TableLabels store:

        1. sample k = groups_per_round FRESH sample groups per active
           component in ONE pruned two-stage reduce (k candidate cut edges
           per component for the price of one shuffle);
        2. decode endpoints in the JVM, lift them to component ids through
           the label table, dedupe — the round's component multigraph;
        3. contract it: if the sampled edge set fits `remap_driver_bytes`
           (bounded by actual EDGES collected, never Θ(num_vertices)), a
           numpy DSU computes the (root → new_root) remap in-process;
           otherwise the exact star-contraction operator
           (operators/connectivity.py) contracts it distributed. The gate
           is deliberately smaller than boruvka()'s 256MB driver-finish
           gate — this path must collect, solve, RE-UPLOAD the remap and
           broadcast it into the labels join; a same-session interleaved
           A/B at kron_21's 5.4M-edge/87MB round-0 multigraph
           (BENCH/remap_gate_ab.json) measured NO benefit from raising it;
        4. one labels checkpoint applies the remap AND carries a per-vertex
           `act` flag (old root sampled non-ZERO), so next round's input is
           a filter on the labels table.

        Contracting a k-edge-per-component graph collapses whole merge
        chains in one round, so the sample budget is consumed in
        ceil(budget/k) Spark rounds. Budget accounting: the sketch budget
        (num_samples ≈ 1.71·log2(n)·samples_factor) is derived for ONE fresh
        group per classic Boruvka round, so k is ADAPTIVE: it drops toward 1
        whenever the remaining budget could not finish single-group rounds
        for the components still active (remaining − k < ceil(log2(active)),
        active read off the labels checkpoint by observe(), no extra job).
        The active count is an approx_count_distinct estimate; estimates
        <= 4 are confirmed with one exact distinct-count over the
        checkpointed labels table, so the stop at <= 1 active component is
        exact (at kron_21 that stop removed two full pruned state scans,
        ~108s of a 192s run, that only observed the inevitable empty sample).

        Vertices with no updates in the stream never appear in `state`; they
        are isolated singletons and are implicitly their own component.
        By default returns labels for state vertices only (the compact form
        for sparse universes); `complete=True` unions the implicit
        singletons in — a `spark.range(n)` anti-join, generated and joined
        distributed, never collected — so every vertex in [0, n) gets a row,
        matching the reference's full-universe labeling
        (include/return_types.h:13-37, src/return_types.cpp:5-19) and the
        driver-DSU path's `n_components` on the same graph."""
        labels = _TableLabels(
            self, state, groups_per_round or self.groups_per_round, remap_driver_bytes
        )
        self._boruvka(state, labels, max_rounds)
        out = labels.labels.select("vertex", F.col("root").alias("component"))
        if complete:
            untouched = (
                self.spark.range(self.num_vertices)
                .select(F.col("id").cast("long").alias("vertex"))
                .join(out.select("vertex"), "vertex", "left_anti")
                .select("vertex", F.col("vertex").alias("component"))
            )
            out = out.unionByName(untouched)
        return out

    def spanning_forest(self, state: DataFrame) -> DataFrame:
        _, forest = self.boruvka(state)
        return self.spark.createDataFrame(
            pd.DataFrame({"src": forest[:, 0], "dst": forest[:, 1]}),
            schema="src long, dst long",
        )

    def point_query(self, state_or_labels, a: int, b: int) -> bool:
        if isinstance(state_or_labels, np.ndarray):
            labels = state_or_labels
        else:
            labels, _ = self.boruvka(state_or_labels)
        return bool(labels[a] == labels[b])

    def k_spanning_forests(self, state: DataFrame, k: int) -> list[np.ndarray]:
        """k edge-disjoint spanning forests (reference query type
        KSPANNINGFORESTS, cc_sketch_alg.h:60-63 / exhaustive_sample use).

        Round i extracts a forest from the current state, then *deletes* its
        edges via a linear delta merge — valid because the sketch is an
        invertible aggregate, exactly how the reference peels forests."""
        spark = self.spark
        forests: list[np.ndarray] = []
        cur = state
        for _ in range(k):
            _, forest = self.boruvka(cur)
            forests.append(forest)
            if len(forest) == 0:
                break
            del_stream = spark.createDataFrame(
                pd.DataFrame(
                    {
                        "seq": np.arange(len(forest), dtype=np.int64),
                        "type": np.ones(len(forest), dtype=np.int32),
                        "src": forest[:, 0],
                        "dst": forest[:, 1],
                    }
                )
            )
            delta = self.build_state(del_stream)
            cur = self.merge_states(cur, delta).localCheckpoint(eager=True)
        return forests

    def component_sets(self, state: DataFrame) -> DataFrame:
        """(component, members: sorted array) — reference get_component_sets
        (return_types.cpp:23-30).

        collect_list is holistic (no map-side combine), so a web-scale giant
        component would funnel every member row through one reducer; the
        two-stage salted aggregation bounds any single reducer's fan-in at
        ~|component|/salt rows (functions/skew.py). The OUTPUT row is still
        O(|component|) by definition of this query — at 10^9-vertex scale use
        connected_components' labeling instead; this materialized-set form
        matches the reference API for result-set-sized components."""
        from graphzeppelin_spark.functions.skew import salted_agg

        cc = self.connected_components(state)
        return salted_agg(
            cc,
            ["component"],
            {"part": F.collect_list("v")},
            {"members": F.sort_array(F.flatten(F.collect_list("part")))},
        )


class _DriverLabels:
    """boruvka()'s label store: a numpy DSU on the driver (the reference's
    in-process DSU) plus the spanning forest of the sampled edges it
    accepted.

    Rounds: round 0 samples ROUND0_GROUPS groups of every vertex's own
    sketch; later rounds sample one group of each active component in a
    Spark reduce until the batched driver finish fits. The finish collects
    one dense slice per active component for the next FINISH_BATCH_GROUPS
    groups in one reduce + collect (exactly one row per component, so the
    byte gate is the true collected size) and samples them in numpy one
    group per round, combining the slices of components that merged
    between rounds. The per-component sums equal a fresh reduce over the
    contracted labels because slice aggregation commutes with DSU
    contraction (linear sketch)."""

    def __init__(self, alg: SketchCC, finish_bytes: int):
        self.alg = alg
        self.finish_bytes = finish_bytes
        self.dsu = NumpyDSU(alg.num_vertices)
        self.forest: list[tuple[int, int]] = []
        self.roots: np.ndarray | None = None  # active roots; None: every vertex
        # the driver finish's collected slices: [next group in the batch,
        # batch width, component roots, dense (components, slice, 2) sums]
        self.batch: list | None = None

    @property
    def active(self) -> float:
        return math.inf if self.roots is None else len(self.roots)

    def active_table(self) -> DataFrame | None:
        if self.roots is None:
            return None
        return self.alg._labels_df(self.dsu.labels(), self.roots)

    def _collect(self, samples: DataFrame):
        """(root, status, eid) arrays of a Spark-sampled round: at most k
        rows per component sampled, all statuses (ZERO rows included, so
        the round's counts are exact)."""
        pdf = samples.toPandas()
        return (
            pdf["root"].to_numpy(np.int64),
            pdf["status"].to_numpy(np.int64),
            pdf["eid"].to_numpy(np.int64).view(np.uint64),
        )

    def sample(self, state: DataFrame, gidx: int, budget: int):
        alg = self.alg
        if self.roots is None:
            k = min(ROUND0_GROUPS, budget)
            return k, "distributed", self._collect(alg._reduce(state, None, 0, k))
        if self.batch is None:
            g = alg.geom
            kb = min(budget - gidx, FINISH_BATCH_GROUPS)
            slice_bytes = (kb * g.cols_per_sample * g.bkt_per_col + 1) * 16
            if len(self.roots) * slice_bytes > self.finish_bytes:
                samples = alg._reduce(state, self.active_table(), gidx, gidx + 1)
                return 1, "distributed", self._collect(samples)
            rows = alg._reduce(
                state, self.active_table(), gidx, gidx + kb, sample=False
            ).collect()
            acc = np.frombuffer(
                b"".join(r["sketch"] for r in rows), dtype=np.uint64
            ).reshape(len(rows), -1, 2).copy()
            roots = np.array([r["root"] for r in rows], dtype=np.int64)
            self.batch = [0, kb, roots, acc]
        gi, kb, roots, acc = self.batch
        self.batch[0] += 1
        sm = SketchMatrix(_SliceGeom(alg.geom, acc.shape[1], kb), len(roots), acc)
        status, eid = sm.sample_many(gi)
        return 1, "driver_finish", (roots, status, eid)

    def apply(self, samples) -> dict:
        roots, status, eid = samples
        n = self.alg.num_vertices
        good = status == GOOD
        lo, hi = decode_edges(eid[good], n)
        valid = (lo >= 0) & (lo < hi) & (hi < n)  # checksum false-positive guard
        lo, hi = lo[valid], hi[valid]
        # vectorized bulk union: the applied tree-edge set is a valid
        # spanning forest of the sampled edges (dsu.py docstring); labels
        # are identical to sequential replay
        applied = self.dsu.union_edges_bulk(lo, hi)
        self.forest.extend(zip(lo[applied].tolist(), hi[applied].tolist()))
        live = status != ZERO
        self.roots, inv = np.unique(self.dsu.find_many(roots[live]), return_inverse=True)
        if self.batch is not None:
            gi, kb, _, acc = self.batch
            if gi == kb:
                self.batch = None
            else:  # combine the slices of components merged this round
                acc2 = np.zeros((len(self.roots),) + acc.shape[1:], dtype=np.uint64)
                with np.errstate(over="ignore"):
                    np.add.at(acc2, inv, acc[live])
                self.batch = [gi, kb, self.roots, acc2]
        return {"good_samples": int(good.sum()),
                "fail_samples": int((status == FAIL).sum()),
                "zero_samples": int((~live).sum()),
                "merged": int(applied.sum())}


class _TableLabels:
    """connected_components_distributed()'s label store: a checkpointed
    (vertex, root, act) table, act marking members of active components —
    nothing Θ(num_vertices) is held on the driver. Each round samples k
    groups (adaptive, see connected_components_distributed) into a
    checkpoint whose status counts ride observe()."""

    def __init__(self, alg: SketchCC, state: DataFrame, k: int, remap_bytes: int):
        self.alg, self.k, self.remap_bytes = alg, k, remap_bytes
        self.labels = state.select(
            "vertex", F.col("vertex").alias("root"), F.lit(True).alias("act")
        ).localCheckpoint(eager=True)
        self.identity = True  # every vertex its own component (round 0)
        self.active: float = math.inf

    def sample(self, state: DataFrame, gidx: int, budget: int):
        k = min(self.k, budget - gidx)
        if self.active < math.inf:
            # stretch the tail of the budget: keep k only if, assuming this
            # round achieves no more than one classic halving, the leftover
            # budget could still finish one group at a time
            reserve = math.ceil(math.log2(self.active))
            if budget - gidx - k < reserve:
                k = max(1, min(k, budget - gidx - reserve))
        obs = Observation()
        samples = self.alg._reduce(state, self.active_table(), gidx, gidx + k).observe(
            obs,
            *[F.sum((F.col("status") == F.lit(int(s))).cast("long")).alias(name)
              for s, name in ((GOOD, "good_samples"), (FAIL, "fail_samples"),
                              (ZERO, "zero_samples"))],
        ).localCheckpoint(eager=True)
        return k, "distributed", (samples, obs)

    def active_table(self) -> DataFrame | None:
        if self.identity:
            return None
        return self.labels.where(F.col("act")).select("vertex", "root")

    def apply(self, samples) -> dict:
        from graphzeppelin_spark.operators.connectivity import connected_components_df
        from graphzeppelin_spark.session import free_local_checkpoint

        samples, obs = samples
        counts = {name: int(v or 0) for name, v in obs.get.items()}
        n = self.alg.num_vertices
        # endpoints of the sampled edges, lifted to component ids; dedupe
        # across groups before the label joins
        ends = samples.where(F.col("status") == F.lit(int(GOOD))).select(
            F.expr(f"eid div {n}").alias("lo"),
            F.pmod("eid", F.lit(n)).cast("long").alias("hi"),
        ).where(
            (F.col("lo") >= 0) & (F.col("lo") < F.col("hi")) & (F.col("hi") < n)
        ).distinct()
        if self.identity:  # endpoints ARE the component ids
            comp_edges = ends.select(F.col("lo").alias("src"), F.col("hi").alias("dst"))
        else:
            lv = self.labels.select(F.col("vertex").alias("lo"), F.col("root").alias("ra"))
            hv = self.labels.select(F.col("vertex").alias("hi"), F.col("root").alias("rb"))
            comp_edges = (
                ends.join(lv, "lo").join(hv, "hi")
                .where(F.col("ra") != F.col("rb"))
                .select(F.least("ra", "rb").alias("src"), F.greatest("ra", "rb").alias("dst"))
                .distinct()
            )
        # the edge count rides observe() on the checkpoint that materializes
        # comp_edges anyway — no separate count job
        ce_obs = Observation()
        comp_edges = comp_edges.observe(
            ce_obs, F.count(F.lit(1)).alias("m")
        ).localCheckpoint(eager=True)
        counts["n_edges"] = n_edges = int(ce_obs.get["m"])
        self.identity = False
        if n_edges == 0 and counts["fail_samples"] == 0:
            # every sampled component is ZERO: nothing merges or stays active
            self.active = 0
        else:
            nonzero = (
                samples.where(F.col("status") != F.lit(int(ZERO)))
                .select("root").distinct().withColumn("_nz", F.lit(True))
            )
            joined = self.labels.select("vertex", "root").join(nonzero, "root", "left")
            root = F.col("root")
            if n_edges:
                if n_edges * 16 <= self.remap_bytes:
                    remap = F.broadcast(self._remap_from_edges_driver(comp_edges))
                else:
                    remap = connected_components_df(comp_edges).select(
                        F.col("v").alias("root"), F.col("component").alias("new_root")
                    ).where(F.col("root") != F.col("new_root"))
                joined = joined.join(remap, "root", "left")
                root = F.coalesce("new_root", "root")
            lbl_obs = Observation()
            old = self.labels
            self.labels = (
                joined.select(
                    "vertex", root.alias("root"),
                    F.coalesce("_nz", F.lit(False)).alias("act"),
                )
                # next round's adaptive-k input, read off this checkpoint's
                # own materialization: approximate count of distinct active
                # roots (nulls — inactive vertices — are ignored)
                .observe(
                    lbl_obs,
                    F.approx_count_distinct(F.when(F.col("act"), F.col("root"))).alias("ac"),
                )
                .localCheckpoint(eager=True)
            )
            free_local_checkpoint(old)
            self.active = int(lbl_obs.get["ac"])
            if self.active <= 4:
                # approx_count_distinct errs by ~2-5%: confirm small counts
                # exactly (cheap, over the checkpointed table) so the stop at
                # <= 1 active component is exact
                self.active = self.labels.where(F.col("act")).select("root").distinct().count()
        free_local_checkpoint(comp_edges)
        free_local_checkpoint(samples)
        return counts

    def _remap_from_edges_driver(self, comp_edges: DataFrame) -> DataFrame:
        """(root, new_root) remap for a BOUNDED component-edge set, solved on
        the driver in numpy (size gated by the caller on the actual edge
        count, never Θ(num_vertices)). Labels are canonical (min component
        id) because ids are sorted before the local DSU runs."""
        pdf = comp_edges.toPandas()
        src = pdf["src"].to_numpy(np.int64)
        dst = pdf["dst"].to_numpy(np.int64)
        ids = np.unique(np.concatenate([src, dst]))
        local = NumpyDSU(len(ids))
        local.union_edges_bulk(
            np.searchsorted(ids, src), np.searchsorted(ids, dst)
        )
        new_root = ids[local.labels()]
        changed = new_root != ids
        return self.alg.spark.createDataFrame(
            pd.DataFrame({"root": ids[changed], "new_root": new_root[changed]})
        )


class _SliceGeom:
    """Geometry view for a pruned k-sample-group slice: the slice looks like
    a sketch with num_samples=k whose columns are those groups' columns
    (contiguous in the bucket layout), det bucket in the last slot."""

    def __init__(self, full: SketchGeometry, slice_nbuckets: int, k: int = 1):
        self.num_vertices = full.num_vertices
        self.seed = full.seed
        self.variant = full.variant
        self.bkt_per_col = full.bkt_per_col
        self.cols_per_sample = full.cols_per_sample
        self.num_samples = k
        self.num_columns = k * full.cols_per_sample
        self.num_buckets = slice_nbuckets
        self.checksum_seed = full.checksum_seed

    def column_seed(self, col):
        raise NotImplementedError("pruned slices are query-only")


def _concat(batches):
    """Coalesce an iterator of small Arrow batches into one pandas frame."""
    pdfs = list(batches)
    if not pdfs:
        return
    yield pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
