"""The sketch kernel timed in-process, on the generator's net-update sample.

Each kernel entry point is called REPEATS times on the same input and the
median call time is kept. The first encode's bytes are the reference every
later encode must reproduce exactly, and decode must give back the matrix
that was encoded.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from graphzeppelin_spark.sketch.kernel import (
    SketchGeometry,
    SketchMatrix,
    decode_group_rows,
    encode_group_rows,
)

REPEATS = 5


def _median_call(fn) -> tuple[float, object]:
    times, out = [], None
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), out


def kernel_metrics(sample: dict, num_vertices: int, seed: int, samples_factor: float
                   ) -> tuple[dict[str, float], bool]:
    """Returns (kernel.* metrics, outputs-correct flag)."""
    geom = SketchGeometry(num_vertices=num_vertices, seed=seed,
                          samples_factor=samples_factor, variant="cameo")
    rows, eids, signs = sample["rows"], sample["eids"], sample["signs"]
    n_rows = int(sample["num_rows"])
    gsz = geom.cols_per_sample * geom.bkt_per_col
    n_groups = geom.num_samples

    def _update():
        sm = SketchMatrix(geom, n_rows)
        sm.update_many(rows, eids, signs=signs)
        return sm

    t_upd, sm = _median_call(_update)
    ref_dets, ref_grps = encode_group_rows(sm.buckets, gsz, n_groups)
    t_enc, (dets, grps) = _median_call(lambda: encode_group_rows(sm.buckets, gsz, n_groups))
    same_bytes = dets == ref_dets and grps == ref_grps
    t_dec, dec = _median_call(
        lambda: decode_group_rows(dets, grps, n_groups, gsz, geom.num_buckets)
    )
    round_trip = bool(np.array_equal(dec, sm.buckets))
    dense = SketchMatrix(geom, n_rows, dec)
    t_smp, _ = _median_call(lambda: dense.sample_many(0))
    metrics = {
        "kernel.update_many.updates_per_s": len(eids) / t_upd,
        "kernel.encode_group_rows.rows_per_s": n_rows / t_enc,
        "kernel.decode_group_rows.rows_per_s": n_rows / t_dec,
        "kernel.sample_many.rows_per_s": n_rows / t_smp,
    }
    return metrics, same_bytes and round_trip
