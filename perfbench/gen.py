"""Input generator and oracle: writes one workload's inputs and expected answers.

Runs in its own process before the measured one, so the measured program
receives only the parquet inputs and the expected answers, never the seed's
generator state. Every expected answer comes from graphzeppelin_spark.oracle.

    python3 perfbench/gen.py --workload kron_ingest --seed 1 --out DIR [--trace 1]
"""

from __future__ import annotations

import argparse
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spec import PAGERANK_ITERS, PROBE_BATCHES, WORKLOADS  # noqa: E402

# sketch rows in the kernel sample: one dense sketch row is ~14 KB at
# scale 14, so 2048 rows keep the in-process kernel calls near 30 MB
KERNEL_SAMPLE_VERTICES = 2048


def _kernel_sample(live: np.ndarray, n: int, seed: int) -> dict[str, np.ndarray]:
    """A seeded net-update sample in the sketch's signed-incidence form
    (each live edge (lo, hi) is +eid at lo and -eid at hi): every net update
    of KERNEL_SAMPLE_VERTICES seeded vertices."""
    lo, hi = live[:, 0], live[:, 1]
    eids = (lo * n + hi).astype(np.uint64)
    verts = np.concatenate([lo, hi])
    eids = np.concatenate([eids, eids])
    signs = np.concatenate([np.ones(len(lo), np.int64), -np.ones(len(lo), np.int64)])
    uniq = np.unique(verts)
    rng = np.random.default_rng([seed, 7])
    picked = rng.choice(uniq, size=min(len(uniq), KERNEL_SAMPLE_VERTICES), replace=False)
    keep = np.isin(verts, picked)
    _, rows = np.unique(verts[keep], return_inverse=True)
    return {
        "rows": rows.astype(np.int64),
        "eids": eids[keep],
        "signs": signs[keep],
        "num_rows": np.int64(len(picked)),
    }


def _watermark_labels(pdf, n: int, batches: int) -> dict[str, np.ndarray]:
    """Oracle CC labels after each of `batches` equal micro-batches."""
    from graphzeppelin_spark import oracle

    marks = [(b + 1) * len(pdf) // batches for b in range(batches)]
    labels = np.stack(
        [oracle.connected_components(oracle.live_edges(pdf, n, upto_seq=m), n) for m in marks]
    )
    return {"watermarks": np.array(marks, np.int64), "labels": labels}


def gen_kron(w, seed: int, out: str, traced: bool) -> None:
    from graphzeppelin_spark import oracle
    from graphzeppelin_spark.sources.generators import kron_stream

    n = w.num_vertices
    pdf = kron_stream(scale=w.scale, edge_factor=w.edge_factor, seed=seed)
    pdf.to_parquet(os.path.join(out, "stream.parquet"), index=False)
    live = oracle.live_edges(pdf, n)
    np.savez(os.path.join(out, "expected.npz"),
             labels=oracle.connected_components(live, n), updates=np.int64(len(pdf)))
    np.savez(os.path.join(out, "kernel.npz"), **_kernel_sample(live, n, seed))
    if traced:  # the streaming probe replays this stream in micro-batches
        np.savez(os.path.join(out, "stream_expected.npz"),
                 **_watermark_labels(pdf, n, PROBE_BATCHES))


def gen_pages(w, seed: int, out: str, traced: bool) -> None:
    from graphzeppelin_spark import oracle
    from graphzeppelin_spark.sources.generators import kron_stream, pages_table

    n = w.num_vertices
    pdf = kron_stream(scale=w.scale, edge_factor=w.edge_factor, seed=seed)
    ins = pdf[pdf["type"] == 0][["src", "dst"]].to_numpy(np.int64)
    edges = np.unique(np.stack([ins.min(axis=1), ins.max(axis=1)], axis=1), axis=0)
    pages = pages_table(edges, n, seed=seed)
    # Spark reads parquet timestamps at microsecond precision only
    pages.to_parquet(os.path.join(out, "pages.parquet"), index=False,
                     coerce_timestamps="us", allow_truncated_timestamps=True)
    # pagerank_df's default universe is the set of edge endpoints
    verts = np.unique(edges)
    compact = np.searchsorted(verts, edges)
    pr = oracle.pagerank(compact, len(verts), num_iters=PAGERANK_ITERS)
    np.savez(
        os.path.join(out, "expected.npz"),
        edges=edges,
        vertices=verts,
        pagerank=pr,
        labels=oracle.connected_components(edges, n)[verts],
        triangles=np.int64(oracle.triangle_count(edges, n)),
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0,
                    help="also write what only the traced run checks")
    args = ap.parse_args(argv)
    w = WORKLOADS[args.workload]
    os.makedirs(args.out, exist_ok=True)
    gen = {"kron": gen_kron, "pages": gen_pages}[w.kind]
    # numpy seeds must be non-negative; this leaves seeds 0..2**32-1 as given
    gen(w, args.seed % (1 << 32), args.out, bool(args.trace))
    return 0


if __name__ == "__main__":
    sys.exit(main())
