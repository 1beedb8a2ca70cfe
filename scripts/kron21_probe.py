"""Next-scale-decade probe for the distributed-CC path (VERDICT r5 item 7).

kron_21-style state: 2^21 = 2M vertices, ef=256 → ~0.57B insert+delete
updates — ~4x kron_19's 143M, the next decade. Measures where the
distributed-labels path's costs move as state grows another 4x:

- per-round stats (labels-join width, sampled-edge counts, adaptive-k
  decisions, wall per round) from `last_boruvka_stats`;
- whether adaptive-k's budget reserve ever triggers on a real stream;
- driver-DSU boruvka at the same scale for the crossover comparison
  (current guidance says driver-DSU wins below ~10^8 vertices — this adds
  a second measured point behind that paragraph instead of extrapolation).

Writes BENCH/kron21.json. Generation is distributed (mapInPandas) and the
stream parquet is cached in /tmp for reuse. Expect ~10 GB parquet and a
state roughly 2x kron_19's; driver RSS stays bounded (labels stay
DataFrame-resident in the distributed path).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SCALE = int(os.environ.get("SPARK_GRAFT_K21_SCALE", "21"))
EF = int(os.environ.get("SPARK_GRAFT_K21_EF", "256"))
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
RUNS = int(os.environ.get("SPARK_GRAFT_K21_RUNS", "2"))


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return -1


def main() -> None:
    import numpy as np

    from graphzeppelin_spark import get_spark
    from graphzeppelin_spark.operators.sketch_cc import SketchCC
    from graphzeppelin_spark.session import aqe_off

    spark = get_spark(app_name="gz_kron21", cores=CPUS, shuffle_partitions=2 * CPUS)
    n = 1 << SCALE
    cache = f"/tmp/gz_bench_kron_{SCALE}_{EF}.parquet"
    if not os.path.exists(cache):
        from graphzeppelin_spark.sources.generators import kron_stream_distributed

        t0 = time.time()
        kron_stream_distributed(spark, scale=SCALE, edge_factor=EF, seed=42) \
            .repartition(8 * CPUS).write.mode("overwrite").parquet(cache)
        print(f"generated (distributed) in {time.time() - t0:.0f}s", file=sys.stderr)
    stream = spark.read.parquet(cache)
    n_updates = stream.count()
    print(f"n_updates={n_updates}", file=sys.stderr)

    alg = SketchCC(spark, num_vertices=n, seed=42, samples_factor=0.5,
                   num_partitions=256)
    out: dict = {"scale": SCALE, "edge_factor": EF,
                 "n_updates": int(n_updates), "cpus": CPUS,
                 "num_samples": alg.geom.num_samples}

    from graphzeppelin_spark.hostmeter import StealMeter

    ingest_steal = []
    with aqe_off(spark):
        meter = StealMeter()
        t0 = time.time()
        state = alg.build_state(stream).persist()
        state.count()
        out["ingest_first_sec"] = round(time.time() - t0, 2)
        ingest_steal.append(meter.steal_pct())
        ingest_runs = [out["ingest_first_sec"]]
        for _ in range(max(RUNS - 1, 0)):
            state.unpersist()
            spark.sparkContext._jvm.System.gc()
            meter = StealMeter()
            t0 = time.time()
            state = alg.build_state(stream).persist()
            state.count()
            ingest_runs.append(round(time.time() - t0, 2))
            ingest_steal.append(meter.steal_pct())
    out["ingest_runs_sec"] = ingest_runs
    # per-run hypervisor steal% (record discipline: every timed number
    # carries its contention covariate — BENCH_r06/multiexec format)
    out["ingest_steal_pcts"] = ingest_steal
    out["ingest_sec"] = min(ingest_runs)
    out["updates_per_sec"] = round(n_updates / min(ingest_runs), 1)
    out["state_rows"] = int(state.count())
    print(f"ingest: {out['ingest_sec']}s = "
          f"{out['updates_per_sec']/1e6:.2f}M upd/s", file=sys.stderr)

    # driver-DSU path (crossover comparison point)
    dsu_runs = []
    labels = None
    for _ in range(RUNS):
        t0 = time.time()
        labels, forest = alg.boruvka(state)
        dsu_runs.append(round(time.time() - t0, 2))
    out["dsu_cc_runs_sec"] = dsu_runs
    out["dsu_cc_sec"] = min(dsu_runs)
    out["n_components"] = int(len(np.unique(labels)))
    out["forest_edges"] = int(len(forest))
    print(f"driver-DSU CC: {out['dsu_cc_sec']}s, "
          f"{out['n_components']} components", file=sys.stderr)

    # distributed-labels path with per-round stats
    dist_runs, dist_steal = [], []
    for i in range(RUNS):
        meter = StealMeter()
        t0 = time.time()
        dcc = alg.connected_components_distributed(state, complete=True)
        n_comp = int(dcc.select("component").distinct().count())
        dist_runs.append(round(time.time() - t0, 2))
        dist_steal.append(meter.steal_pct())
        if i == 0:
            out["distributed_round_stats"] = alg.last_boruvka_stats["rounds"]
            out["distributed_budget_exhausted"] = alg.last_boruvka_stats["exhausted"]
            out["distributed_cc_components"] = n_comp
    out["distributed_cc_runs_sec"] = dist_runs
    out["distributed_cc_steal_pcts"] = dist_steal
    out["distributed_cc_sec"] = min(dist_runs)
    out["cc_paths_agree"] = out["distributed_cc_components"] == out["n_components"]
    out["dist_over_dsu"] = round(out["distributed_cc_sec"] / out["dsu_cc_sec"], 2)
    print(f"distributed CC: {out['distributed_cc_sec']}s "
          f"({out['dist_over_dsu']}x driver-DSU), paths agree: "
          f"{out['cc_paths_agree']}", file=sys.stderr)

    out["driver_peak_rss_mb"] = _vm_hwm_kb(os.getpid()) // 1024
    def _comm(pid: str) -> str:
        # a process can exit between listdir and the read — skip it rather
        # than crash the probe after hours of benchmarking (same pattern as
        # _vm_hwm_kb)
        try:
            with open(f"/proc/{pid}/comm") as fh:
                return fh.read().strip()
        except OSError:
            return ""

    jvm = [int(p) for p in os.listdir("/proc") if p.isdigit()
           and _comm(p) == "java"]
    if jvm:
        out["jvm_peak_rss_mb"] = max(_vm_hwm_kb(p) for p in jvm) // 1024

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "BENCH", "kron21.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: v for k, v in out.items()
                      if k != "distributed_round_stats"}))


if __name__ == "__main__":
    main()
