"""Extra (non-contract) benchmarks: per-phase isolation of the heavy paths.

The official bench.py is frozen for measurement; this file exists for guide
§1.4-style noop-sink isolation so OPTIMIZATION_r08.md can cite where the
seconds actually go. Usage:

    SPARK_GRAFT_CPUS=32 python bench_extra.py kron17   # ingest phase split
    SPARK_GRAFT_CPUS=32 python bench_extra.py boruvka  # CC round stats
    SPARK_GRAFT_CPUS=32 python bench_extra.py queries cc_chain pagerank_chain

Prints one human-readable line per phase (stderr) + a JSON dict (stdout).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(label, fn, n=2):
    runs = []
    for _ in range(n):
        t0 = time.time()
        out = fn()
        runs.append(round(time.time() - t0, 3))
    log(f"{label}: best {min(runs)}s runs {runs}")
    return min(runs), out


def get_spark():
    from graphzeppelin_spark import get_spark

    return get_spark(
        app_name="gz_bench_extra", cores=CPUS, shuffle_partitions=max(2 * CPUS, 16)
    )


def kron17_phases(spark):
    """Ingest phase split on the cached kron_17 stream."""
    from graphzeppelin_spark.operators.sketch_cc import SketchCC
    from graphzeppelin_spark.session import aqe_off

    cache = "/tmp/gz_bench_kron_17_256.parquet"
    stream = spark.read.parquet(cache)
    n_updates = stream.count()
    alg = SketchCC(spark, num_vertices=1 << 17, seed=42, samples_factor=0.5,
                   num_partitions=128)
    out = {"n_updates": int(n_updates)}
    with aqe_off(spark):
        # warm-up
        alg.build_state(stream).count()
        sc = spark.sparkContext
        sc.setJobDescription("scan-only")
        out["scan_only"], _ = timed("scan-only (noop)", lambda: noop(stream))
        sc.setJobDescription("canonical+generate (pre-exchange)")
        canon = alg._packed_skeys(stream)
        sc.setJobDescription("packed_skeys (exchange + net agg)")
        out["packed_skeys"], _ = timed("packed_skeys (noop)", lambda: noop(canon))
        sc.setJobDescription("build_state (full)")
        out["build_state"], _ = timed(
            "build_state count", lambda: alg.build_state(stream).count()
        )
        sc.setJobDescription(None)
    print(json.dumps(out))


def boruvka_stats(spark):
    """Per-round stats for kron17 boruvka + cc_sketch_chain-scale run."""
    from graphzeppelin_spark.operators.sketch_cc import SketchCC
    from graphzeppelin_spark.session import aqe_off

    cache = "/tmp/gz_bench_kron_17_256.parquet"
    stream = spark.read.parquet(cache)
    alg = SketchCC(spark, num_vertices=1 << 17, seed=42, samples_factor=0.5,
                   num_partitions=128)
    out = {}
    with aqe_off(spark):
        state = alg.build_state(stream).persist()
        state.count()
        for rep in range(2):
            t0 = time.time()
            labels, _ = alg.boruvka(state)
            dt = time.time() - t0
            out[f"kron17_cc_run{rep}"] = {
                "sec": round(dt, 3),
                "stats": alg.last_boruvka_stats,
            }
            log(f"kron17 boruvka run{rep}: {dt:.2f}s "
                f"stats={alg.last_boruvka_stats}")
        state.unpersist()
    print(json.dumps(out))


def chain_sketch_phases(spark):
    """cc_sketch_chain phase split at SF_DIR scale."""
    from pyspark.sql import functions as F

    from graphzeppelin_spark.operators.sketch_cc import SketchCC

    import __spark_entry__ as e

    edges = e._chain_edges(spark, SF_DIR)
    n = edges.agg(F.max("dst")).collect()[0][0] + 1
    stream = edges.select(
        F.monotonically_increasing_id().alias("seq"),
        F.lit(0).alias("type"), "src", "dst",
    )
    out = {"n": int(n)}
    alg = SketchCC(spark, num_vertices=int(n), seed=42)
    out["build_state"], _ = timed(
        "chain build_state count", lambda: alg.build_state(stream).count()
    )
    state = alg.build_state(stream).persist()
    state.count()
    t0 = time.time()
    labels, _ = alg.boruvka(state)
    out["boruvka"] = round(time.time() - t0, 3)
    out["stats"] = alg.last_boruvka_stats
    log(f"chain boruvka: {out['boruvka']}s stats={alg.last_boruvka_stats}")
    state.unpersist()
    t0 = time.time()
    df = e.queries()["cc_sketch_chain"](spark, SF_DIR)
    df.count()
    out["cc_sketch_chain_total"] = round(time.time() - t0, 3)
    log(f"cc_sketch_chain total: {out['cc_sketch_chain_total']}s")
    print(json.dumps(out))


def query_times(spark, names):
    import __spark_entry__ as e

    qs = e.queries()
    out = {}
    for name in names:
        sec, _ = timed(name, lambda: qs[name](spark, SF_DIR).count(), n=2)
        out[name] = sec
    print(json.dumps(out))


def main():
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    spark = get_spark()
    if mode == "kron17":
        kron17_phases(spark)
    elif mode == "boruvka":
        boruvka_stats(spark)
    elif mode == "chain_sketch":
        chain_sketch_phases(spark)
    else:
        query_times(spark, sys.argv[2:])


if __name__ == "__main__":
    main()
