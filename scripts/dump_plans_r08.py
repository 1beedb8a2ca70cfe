"""Dump .explain("formatted") for every query touched in round 8 into
plans/r08/<name>_{before|after}.txt (stage = sys.argv[1]).

Iterative operators (cc_chain, pagerank, labelprop) execute their loop while
the final DataFrame is constructed; the dumped plan is the final labeling/
ranks job — the per-iteration shape is captured separately via the operator
internals (build_state and the round reduce `_reduce`).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
STAGE = sys.argv[1] if len(sys.argv) > 1 else "before"
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "plans", "r08")
ONLY = set(sys.argv[2:])


def fmt(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def main() -> None:
    os.makedirs(OUT, exist_ok=True)
    from graphzeppelin_spark import get_spark

    spark = get_spark(app_name="dump_plans_r08", cores=8, shuffle_partitions=16)
    import __spark_entry__ as e

    qs = e.queries()
    plans = {}
    for name in [
        "rel_scan_agg", "rel_join_topk", "rel_window_last_event",
        "stream_parity_events", "dedup_exact", "text_profile", "pages_edges",
        "multimodal_meta", "dedup_simhash", "dedup_minhash", "ann_cosine_topk",
        "triangle_count_circulant", "pagerank_chain", "labelprop_chain",
        "cc_chain",
    ]:
        if ONLY and name not in ONLY:
            continue
        plans[name] = fmt(qs[name](spark, SF))

    # sketch internals at a small scale (plan shape is size-independent)
    if not ONLY or "sketch" in ONLY:
        from graphzeppelin_spark.operators.sketch_cc import SketchCC
        from graphzeppelin_spark.sources.generators import multiples_graph_stream

        stream = spark.createDataFrame(multiples_graph_stream(1024))
        alg = SketchCC(spark, num_vertices=1024, seed=7)
        plans["sketch_build_state"] = fmt(alg.build_state(stream))
        state = alg.build_state(stream).localCheckpoint(eager=True)
        labels_df = alg._labels_df(np.arange(1024, dtype=np.int64), None)
        plans["sketch_boruvka_round"] = fmt(alg._reduce(state, labels_df, 0, 1))
        plans["sketch_round0_sample"] = fmt(alg._reduce(state, None, 0, 1))
        plans["sketch_driver_finish_reduce"] = fmt(
            alg._reduce(state, labels_df, 1, alg.geom.num_samples, sample=False)
        )

    for name, plan in plans.items():
        path = os.path.join(OUT, f"{name}_{STAGE}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan.splitlines())} lines)")


if __name__ == "__main__":
    main()
