"""Workload definitions shared by the input generator and the measured run.

Each workload is a fixed input shape; the seed passed on the command line
picks the concrete graph. Sizes are chosen so that one run (input
generation, Spark start, set-up and a measured window holding several
passes) takes about a minute on a 4-core host.
"""

from __future__ import annotations

from dataclasses import dataclass

CORES = 4
SHUFFLE_PARTITIONS = 4
DRIVER_MEM = "3g"

# SketchCC parameters of bench.py's kron block
SKETCH_SEED = 42
SAMPLES_FACTOR = 0.5

# lockstep PageRank: pagerank_df's driver-finish gate only applies with a
# fixed iteration count, so this is what lets pages_graph finish in numpy on
# the driver like the other three operators
PAGERANK_ITERS = 10
PAGERANK_ATOL = 1e-6

# micro-batches of the streaming probe a kron_ingest traced run adds
PROBE_BATCHES = 4


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "kron" | "pages"
    scale: int  # RMAT scale: 2**scale vertices
    edge_factor: int
    # unchecked passes before the measured window: passes keep getting
    # faster while the JVM compiles hot code; kron_ingest is level from its
    # third pass, pages_graph's CPU time per pass keeps falling for longer
    warmup_passes: int

    @property
    def num_vertices(self) -> int:
        return 1 << self.scale


WORKLOADS = {
    w.name: w
    for w in (
        Workload("kron_ingest", "kron", scale=14, edge_factor=64, warmup_passes=3),
        Workload("pages_graph", "pages", scale=12, edge_factor=8, warmup_passes=4),
    )
}
