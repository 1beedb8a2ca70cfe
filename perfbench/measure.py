"""The measured process: one workload in a closed loop on local[4].

Reads only what perfbench/gen.py wrote (inputs and expected answers). It
starts Spark, loads the inputs three times, runs the workload's unchecked
warm-up passes, then runs whole passes of the workload until the measurement
window is used up. Each operation is issued after the previous one
returns. Every answer is checked against the oracle's.

With --trace 0 it prints the end-to-end metrics. With --trace 1 a window
of half the seconds runs with the event log on and the span wrappers
installed; then Spark restarts untraced and runs as many passes again. It
prints the per-layer metrics, including the traced-minus-untraced overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import spec  # noqa: E402
from tracing import Tracer, fold_event_log, install_wrappers, restore_wrappers  # noqa: E402

LOADS = 3
# job descriptions of work that is not a timed operation
UNTIMED = ("warmup", "input.load", "check", "-")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def start_spark(work: str, event_log_dir: str | None):
    from graphzeppelin_spark import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file under the system temp dir
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            # Spark 4 defaults roll and zstd-compress the log; the offline
            # fold reads plain JSON lines
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", cores=spec.CORES,
                     shuffle_partitions=spec.SHUFFLE_PARTITIONS, extra_conf=conf)


class Outcome:
    """Wrong answers and raised operations of a run."""

    def __init__(self):
        self.wrong = 0
        self.raised = 0

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.wrong += 1
            log(f"WRONG ANSWER: {what}")


# ---------------------------------------------------------------- workloads

class KronIngest:
    """Whole-stream sketch ingest, then Boruvka twice on the persisted state."""

    WRITE, QUERY = "sketch_cc.ingest", "sketch_cc.query"
    TIMED = (WRITE, QUERY)
    QUERIES_PER_PASS = 2

    def __init__(self, w, inputs: str):
        self.w = w
        self.inputs = inputs
        exp = np.load(os.path.join(inputs, "expected.npz"))
        self.labels = exp["labels"]
        self.updates = int(exp["updates"])

    def load(self, spark):
        from graphzeppelin_spark.operators.sketch_cc import SketchCC

        self.spark = spark
        self.stream = spark.read.parquet(os.path.join(self.inputs, "stream.parquet")).persist()
        self.stream.count()
        self.alg = SketchCC(spark, num_vertices=self.w.num_vertices, seed=spec.SKETCH_SEED,
                            samples_factor=spec.SAMPLES_FACTOR)
        self.boruvka_stats = []
        self.state_bytes = []

    def unload(self) -> None:
        self.stream.unpersist()

    def _ingest(self):
        from graphzeppelin_spark.session import aqe_off

        with aqe_off(self.spark):  # as bench.py times the kron ingest
            state = self.alg.build_state(self.stream).persist()
            state.count()
        return state

    def run_pass(self, tr, out: Outcome) -> list:
        with tr.span(self.WRITE):
            state = self._ingest()
        results = []
        for _ in range(self.QUERIES_PER_PASS):
            with tr.span(self.QUERY):
                labels, _ = self.alg.boruvka(state)
            if tr.traced:
                self.boruvka_stats.append(self.alg.last_boruvka_stats)
            results.append(labels)
        self.last_state = state

        def _check():
            for lab in results:
                out.check(np.array_equal(lab, self.labels), "boruvka labels")
            if tr.traced:
                with tr.span("check"):
                    self.state_bytes.append(state_payload_bytes(state))
        return [_check]

    def end_pass(self) -> None:
        self.last_state.unpersist()

    def end_to_end(self, tr) -> dict:
        return {
            "ingest_rows_per_s": self.updates / median([s.wall_s for s in tr.named(self.WRITE)]),
            "query_s": median([s.wall_s for s in tr.named(self.QUERY)]),
        }

    def op_table(self, tr) -> dict:
        """Operation metric name -> (unit, timing span, samples)."""
        return {
            "ingest_updates_per_s": ("updates/s", self.WRITE,
                                     [self.updates / s.wall_s for s in tr.named(self.WRITE)]),
            "cc_query_s": ("s", self.QUERY, [s.wall_s for s in tr.named(self.QUERY)]),
        }


class StreamProbe:
    """One pass of GraphStreamDriver with a checkpoint dir over kron_ingest's
    stream: PROBE_BATCHES micro-batches, a CC query after each, then a resume
    from the last snapshot and one query."""

    WRITE, QUERY, RESUME = "streaming.batch", "streaming.query", "streaming.resume"
    TIMED = (WRITE, QUERY, RESUME)

    def __init__(self, num_vertices: int, inputs: str, work: str):
        self.num_vertices = num_vertices
        self.inputs = inputs
        self.ckdir = os.path.join(work, "checkpoints")
        exp = np.load(os.path.join(inputs, "stream_expected.npz"))
        self.marks = exp["watermarks"].tolist()
        self.labels = exp["labels"]
        self.hits = []  # per query: answered without a Boruvka call

    def load(self, spark):
        self.spark = spark
        self.stream = spark.read.parquet(os.path.join(self.inputs, "stream.parquet")).persist()
        self.stream.count()

    def unload(self) -> None:
        self.stream.unpersist()

    def run_pass(self, tr, out: Outcome) -> list:
        from graphzeppelin_spark.streaming.driver import GraphStreamDriver

        drv = GraphStreamDriver(self.spark, self.stream, num_vertices=self.num_vertices,
                                seed=spec.SKETCH_SEED, checkpoint_dir=self.ckdir)
        got = []
        for mark in self.marks:
            with tr.span(self.WRITE):
                drv.process_stream_until(mark)
            before = getattr(drv.alg, "last_boruvka_stats", None)
            with tr.span(self.QUERY):
                got.append(drv.connected_components())
            # boruvka() starts a fresh stats record; none means an eager hit
            self.hits.append(getattr(drv.alg, "last_boruvka_stats", None) is before)
        with tr.span(self.RESUME):
            resumed = GraphStreamDriver.resume(self.spark, self.stream, self.ckdir)
            final = resumed.connected_components()
        self.drivers = (drv, resumed)

        def _check():
            for b, lab in enumerate(got):
                out.check(np.array_equal(lab, self.labels[b]), f"labels after batch {b}")
            out.check(np.array_equal(final, self.labels[-1]), "labels after resume")
        return [_check]

    def end_pass(self) -> None:
        """Unpersist both drivers' states; measure the last snapshot
        (self.snapshot = bytes, data files), then delete the checkpoints."""
        for drv in self.drivers:
            drv.state.unpersist()
        last = sorted(d for d in os.listdir(self.ckdir) if d.startswith("snap-"))[-1]
        size = files = 0
        for root, _, names in os.walk(os.path.join(self.ckdir, last)):
            for name in names:
                size += os.path.getsize(os.path.join(root, name))
                files += name.startswith("part-") and name.endswith(".parquet")
        self.snapshot = (size, files)
        shutil.rmtree(self.ckdir, ignore_errors=True)

    def op_table(self, tr) -> dict:
        """Operation metric name -> (unit, timing span, samples)."""
        return {
            "batch_commit_s": ("s", self.WRITE, [s.wall_s for s in tr.named(self.WRITE)]),
            "stream_query_s": ("s", self.QUERY, [s.wall_s for s in tr.named(self.QUERY)]),
            "resume_s": ("s", self.RESUME, [s.wall_s for s in tr.named(self.RESUME)]),
        }


PAGE_OPS = ("pagerank", "cc_exact", "labelprop", "triangles")


def _positions(verts: np.ndarray, pages: np.ndarray) -> np.ndarray | None:
    """Index of each page in the sorted oracle vertex list, or None unless
    `pages` is exactly a permutation of `verts`."""
    if len(pages) != len(verts):
        return None
    idx = np.minimum(np.searchsorted(verts, pages), len(verts) - 1)
    if not np.array_equal(verts[idx], pages) or len(np.unique(idx)) != len(idx):
        return None
    return idx


class PagesGraph:
    """pages parquet -> edge table, then PageRank, exact CC, label
    propagation and triangle count on it, each at its default budgets."""

    WRITE = "pages.edge_table"
    TIMED = (WRITE,) + PAGE_OPS

    def __init__(self, w, inputs: str):
        self.w = w
        self.inputs = inputs
        exp = np.load(os.path.join(inputs, "expected.npz"))
        self.exp = {k: exp[k] for k in exp.files}

    def load(self, spark):
        self.spark = spark
        self.pages = spark.read.parquet(os.path.join(self.inputs, "pages.parquet")).persist()
        self.pages.count()

    def unload(self) -> None:
        self.pages.unpersist()

    def _extract(self):
        from graphzeppelin_spark.sources.pages import edge_table, url_dictionary

        ud = url_dictionary(self.pages).persist()
        edges = edge_table(self.pages, ud).persist()
        m = edges.count()
        return ud, edges, m

    def run_pass(self, tr, out: Outcome) -> list:
        from graphzeppelin_spark.operators.connectivity import connected_components_df
        from graphzeppelin_spark.operators.labelprop import label_propagation_df
        from graphzeppelin_spark.operators.pagerank import pagerank_df
        from graphzeppelin_spark.operators.triangles import triangle_count_df

        with tr.span(self.WRITE):
            ud, edges, m = self._extract()
        self.edges_out = m
        res = {}
        with tr.span("pagerank"):
            res["pagerank"] = pagerank_df(edges, num_iters=spec.PAGERANK_ITERS).toPandas()
        with tr.span("cc_exact"):
            res["cc_exact"] = connected_components_df(edges).toPandas()
        with tr.span("labelprop"):
            res["labelprop"] = label_propagation_df(edges, rule="min").toPandas()
        with tr.span("triangles"):
            res["triangles"] = int(triangle_count_df(edges).collect()[0][0])
        self.cached = (ud, edges)
        return [lambda: self._check(tr, out, ud, edges, res)]

    def _check(self, tr, out: Outcome, ud, edges, res) -> None:
        from pyspark.sql import functions as F

        exp = self.exp
        with tr.span("check"):
            # vid -> page id through the url dictionary (urls end in /page/<id>)
            pid = ud.select("vid", F.regexp_extract("url", r"/page/(\d+)$", 1)
                            .cast("long").alias("page")).toPandas()
            got_edges = edges.toPandas()
        page_of = np.empty(int(pid["vid"].max()) + 1, dtype=np.int64)
        page_of[pid["vid"].to_numpy()] = pid["page"].to_numpy()
        s = page_of[got_edges["src"].to_numpy()]
        d = page_of[got_edges["dst"].to_numpy()]
        e = np.unique(np.stack([np.minimum(s, d), np.maximum(s, d)], axis=1), axis=0)
        out.check(len(got_edges) == len(e) and np.array_equal(e, exp["edges"]), "edge table")
        verts = exp["vertices"]
        pr = res["pagerank"]
        idx = _positions(verts, page_of[pr["v"].to_numpy()])
        ok = idx is not None
        if ok:
            score = np.empty(len(verts))
            score[idx] = pr["score"].to_numpy()
            ok = bool(np.allclose(score, exp["pagerank"], rtol=0, atol=spec.PAGERANK_ATOL))
        out.check(ok, "pagerank")
        for op, col in (("cc_exact", "component"), ("labelprop", "label")):
            out.check(self._same_partition(res[op], col, page_of, verts, exp["labels"]), op)
        out.check(res["triangles"] == int(exp["triangles"]), "triangles")

    @staticmethod
    def _same_partition(pdf, col, page_of, verts, want) -> bool:
        """Labels name components by a vid; canonicalize each component to
        its smallest page id and compare with the oracle's labels."""
        pages = page_of[pdf["v"].to_numpy()]
        idx = _positions(verts, pages)
        if idx is None:
            return False
        uniq, inv = np.unique(pdf[col].to_numpy(), return_inverse=True)
        smallest = np.full(len(uniq), np.iinfo(np.int64).max)
        np.minimum.at(smallest, inv, pages)
        got = np.empty(len(verts), dtype=np.int64)
        got[idx] = smallest[inv]
        return bool(np.array_equal(got, want))

    def end_pass(self) -> None:
        for df in self.cached:
            df.unpersist()

    def end_to_end(self, tr) -> dict:
        ops = [sum(s.wall_s for s in self._children(tr, p)) for p in tr.named("pass")]
        return {
            "ingest_rows_per_s": self.edges_out / median([s.wall_s for s in tr.named(self.WRITE)]),
            "query_s": median(ops),
        }

    @staticmethod
    def _children(tr, parent):
        return [s for s in tr.spans if s.parent == parent.id and s.name in PAGE_OPS]

    def op_table(self, tr) -> dict:
        """Operation metric name -> (unit, timing span, samples)."""
        table = {"edge_extract_s": ("s", self.WRITE, [s.wall_s for s in tr.named(self.WRITE)])}
        for op in PAGE_OPS:
            table[f"{op}_s"] = ("s", op, [s.wall_s for s in tr.named(op)])
        return table


def state_payload_bytes(state) -> int:
    """Exact payload of a sketch state table: 8-byte vertex + det + groups."""
    from pyspark.sql import functions as F

    grp_bytes = F.aggregate(F.transform("grp", lambda b: F.length(b).cast("long")),
                            F.lit(0).cast("long"), lambda acc, x: acc + x)
    row = state.select(F.sum(F.length("det") + grp_bytes + F.lit(8)).alias("b")).collect()[0]
    return int(row["b"] or 0)


def make_workload(w, inputs: str):
    return KronIngest(w, inputs) if w.kind == "kron" else PagesGraph(w, inputs)


# ------------------------------------------------------------------- runner

def shutdown_jvm() -> None:
    """End the Spark JVM this process launched and wait for it: the JVM
    exits when its stdin pipe closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None or proc is None:
        return
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc.stdin:
        proc.stdin.close()
    proc.wait(timeout=30)


def set_up(wl, work: str, event_log_dir: str | None, traced: bool):
    """Start Spark, load the inputs LOADS times (the median counts), run
    the workload's unchecked warm-up passes. Returns (spark, tracer, set-up
    seconds, session-start seconds)."""
    t0 = time.perf_counter()
    spark = start_spark(work, event_log_dir)
    t_session = time.perf_counter() - t0
    tr = Tracer(spark.sparkContext, traced=traced)
    loads = []
    for i in range(LOADS):
        if i:
            wl.unload()
        with tr.span("input.load") as s:
            wl.load(spark)
        loads.append(s.wall_s)
    with tr.span("warmup") as s:
        for _ in range(wl.w.warmup_passes):
            wl.run_pass(Tracer(tr.sc, prefix="warmup:"), Outcome())
            wl.end_pass()
    return spark, tr, t_session + median(loads) + s.wall_s, t_session


def window(wl, tr, seconds: float, out: Outcome, passes: int | None = None
           ) -> tuple[int, float | None]:
    """Whole passes for `seconds`: a pass starts only if one more pass as
    long as the last one still ends inside the window; the first two always
    run. With `passes`, exactly that many passes run instead. Returns
    (passes run, % CPU steal over the window)."""
    from graphzeppelin_spark.hostmeter import StealMeter

    meter = StealMeter()
    t0 = time.perf_counter()
    done, last = 0, 0.0
    while (done < passes if passes else
           done < 2 or time.perf_counter() - t0 + last <= seconds):
        t_pass = time.perf_counter()
        try:
            with tr.span("pass"):
                checks = wl.run_pass(tr, out)
        except Exception:
            traceback.print_exc()
            out.raised += 1
            break
        for check in checks:
            check()
        wl.end_pass()
        done += 1
        last = time.perf_counter() - t_pass
    return done, meter.steal_pct()


def end_to_end(wl, tr) -> dict[str, float]:
    m = {"pass_s": median([s.wall_s for s in tr.named("pass")])}
    m.update(wl.end_to_end(tr))
    return m


def op_summary(wl, tr) -> dict[str, tuple[float, str, str, list]]:
    """The workload's operation latencies under their metric names:
    name -> (value, unit, timing span, samples). stream_query_s mixes
    eager-cache hits and Boruvka misses, so it is a mean; the rest are
    medians."""
    out = {}
    for name, (unit, span, xs) in wl.op_table(tr).items():
        value = float(np.mean(xs)) if name == "stream_query_s" else median(xs)
        out[name] = (value, unit, span, xs)
    return out


def print_table(title: str, wl, tr, e2e: dict, units: dict, steal) -> None:
    log(f"== {title}")
    log(f"{'metric':<28}{'value':>14}  {'unit':<10}{'n':>4}  spread (min..max), steal %")
    for name, value in e2e.items():
        log(f"{name:<28}{value:>14.5g}  {units.get(name, ''):<10}")
    for name, (value, unit, span, xs) in op_summary(wl, tr).items():
        steals = [s.steal_pct for s in tr.named(span) if s.steal_pct is not None]
        rng = f"{min(xs):.4g}..{max(xs):.4g}" if xs else "-"
        st = f"{np.mean(steals):.2f}" if steals else "-"
        log(f"{name:<28}{value:>14.5g}  {unit:<10}{len(xs):>4}  {rng}, {st}")
    log(f"window CPU steal: {steal}%")


# ---------------------------------------------------------- per-layer metrics

def _per(total: float, n: int) -> float:
    return total / n if n else 0.0


def layer_metrics(wl, tr, folds, udfs, passes: int, steal, probe=None) -> dict[str, float]:
    """Every per-layer metric of the traced window; 0 where the workload
    does not exercise the layer. `probe` is the (tracer, StreamProbe) of the
    streaming probe a kron_ingest traced run adds after its window."""
    from tracing import Fold

    def fold(desc: str) -> Fold:
        return folds.get(desc, Fold())

    m: dict[str, float] = {}
    timed = [d for d in folds if d not in UNTIMED and not d.startswith(("warmup", "stream:"))]

    # sources.pages
    et = fold("pages.edge_table")
    n_et = len(tr.named("pages.edge_table"))
    m["pages.edge_table.wall_s"] = median([s.wall_s for s in tr.named("pages.edge_table")])
    m["pages.edge_table.shuffle_write_bytes"] = _per(et.shuffle_write_bytes, n_et)
    m["pages.edge_table.edges_out"] = float(getattr(wl, "edges_out", 0)) if n_et else 0.0
    m["pages.edge_table.python_worker_s"] = _per(et.py_run_ms / 1000, n_et)

    # operators.sketch_cc ingest: the _build runner and the stages around it
    n_build = len(tr.named("sketch_cc.build_state"))
    b = udfs.get(("sketch_cc.ingest", "_build"), {})
    stages = fold("sketch_cc.ingest").stages
    map_st = [st for st in stages if ("_build", "shuffle_bytes") in st.tags]
    red_st = [st for st in stages if ("_build", "run_ms") in st.tags]
    m["build_state.map_stage_s"] = _per(sum(st.duration_s for st in map_st), n_build)
    m["build_state.reduce_stage_s"] = _per(sum(st.duration_s for st in red_st), n_build)
    m["build_state.shuffle_write_bytes"] = _per(b.get("shuffle_bytes", 0), n_build)
    m["build_state.shuffle_records"] = _per(b.get("shuffle_records", 0), n_build)
    m["build_state.bytes_per_shuffle_record"] = _per(b.get("shuffle_bytes", 0),
                                                     b.get("shuffle_records", 0))
    m["build_state.arrow_bytes_to_python"] = _per(b.get("sent", 0), n_build)
    m["build_state.arrow_bytes_from_python"] = _per(b.get("returned", 0), n_build)
    m["build_state.rows_to_python"] = _per(b.get("rows_in", 0), n_build)
    m["build_state.python_worker_s"] = _per(b.get("run_ms", 0) / 1000, n_build)
    m["build_state.task_skew"] = max((st.skew() for st in red_st), default=0.0)
    m["build_state.gc_s"] = _per(sum(st.gc_ms for st in map_st + red_st) / 1000, n_build)
    m["build_state.state_bytes"] = median(getattr(wl, "state_bytes", []))

    # sketch.kernel (filled in by the caller for the sketch workloads)
    for name in ("update_many.updates_per_s", "encode_group_rows.rows_per_s",
                 "decode_group_rows.rows_per_s", "sample_many.rows_per_s"):
        m[f"kernel.{name}"] = 0.0

    # operators.sketch_cc query
    stats = [st for st in getattr(wl, "boruvka_stats", []) if st]
    bf = fold("sketch_cc.boruvka")
    n_b = len(tr.named("sketch_cc.boruvka"))
    from graphzeppelin_spark.operators.sketch_cc import ROUND0_GROUPS

    good = tried = 0
    for st in stats:
        for r in st["rounds"]:
            if r["kind"] == "distributed":
                good += r["good_samples"]
                tried += r["active"] * (ROUND0_GROUPS if r["round"] == 0 else 1)

    def per_query(fn) -> float:
        return float(np.mean([fn(st) for st in stats])) if stats else 0.0

    m["boruvka.rounds"] = per_query(lambda st: len(st["rounds"]))
    m["boruvka.distributed_rounds_s"] = per_query(
        lambda st: sum(r["sec"] for r in st["rounds"] if r["kind"] == "distributed"))
    m["boruvka.driver_finish_s"] = per_query(
        lambda st: sum(r["sec"] for r in st["rounds"] if r["kind"] == "driver_finish"))
    m["boruvka.driver_finish_components"] = per_query(
        lambda st: st.get("driver_finish_components") or 0)
    m["boruvka.good_sample_ratio"] = _per(good, tried)
    m["boruvka.collect_bytes"] = _per(bf.result_bytes, n_b)
    m["boruvka.python_worker_s"] = _per(bf.py_run_ms / 1000, n_b)

    # streaming.driver, streaming.checkpoint and operators.sketch_cc merge:
    # from the streaming probe, whose job descriptions carry the "stream:" prefix
    ptr, pwl = probe or (Tracer(tr.sc), None)
    n_batch = len(ptr.named("streaming.batch"))
    batch_descs = ["stream:" + d for d in ("streaming.batch", "checkpoint.commit",
                                            "checkpoint.read", "sketch_cc.build_state",
                                            "sketch_cc.merge_states")]
    m["driver.eager_hit_ratio"] = float(np.mean(pwl.hits)) if pwl else 0.0
    m["driver.jobs_per_batch"] = _per(sum(fold(d).jobs for d in batch_descs), n_batch)
    m["driver.stages_per_batch"] = _per(sum(len(fold(d).stages) for d in batch_descs), n_batch)
    m["checkpoint.commit_s"] = median([s.wall_s for s in ptr.named("checkpoint.commit")])
    m["checkpoint.read_s"] = median([s.wall_s for s in ptr.named("checkpoint.read")])
    size, files = pwl.snapshot if pwl else (0, 0)
    m["checkpoint.snapshot_bytes"] = float(size)
    m["checkpoint.files_per_snapshot"] = float(files)
    n_merge = len(ptr.named("sketch_cc.merge_states"))
    mg = udfs.get(("stream:checkpoint.commit", "_merge"), {})
    m["merge_states.shuffle_write_bytes"] = _per(mg.get("shuffle_bytes", 0), n_merge)
    m["merge_states.arrow_bytes_to_python"] = _per(mg.get("sent", 0), n_merge)
    m["merge_states.python_worker_s"] = _per(mg.get("run_ms", 0) / 1000, n_merge)

    # operators.{pagerank,connectivity,labelprop,triangles}
    for op in PAGE_OPS:
        fo = fold(op)
        n_op = len(tr.named(op))
        m[f"{op}.jobs"] = _per(fo.jobs, n_op)
        m[f"{op}.stages"] = _per(len(fo.stages), n_op)
        m[f"{op}.tasks"] = _per(fo.tasks, n_op)
        m[f"{op}.shuffle_write_bytes"] = _per(fo.shuffle_write_bytes, n_op)
        m[f"{op}.collect_bytes"] = _per(fo.result_bytes, n_op)
        m[f"{op}.task_skew"] = fo.task_skew()

    # Spark and host
    m["spark.task_failures"] = float(sum(folds[d].task_failures for d in timed))
    m["spark.gc_s"] = _per(sum(folds[d].gc_ms for d in timed) / 1000, passes)
    m["host.steal_pct"] = float(steal or 0.0)

    # how much of the write step's wall time Spark stages account for
    write = wl.WRITE
    write_wall = sum(s.wall_s for s in tr.named(write))
    write_stage = sum(st.duration_s for st in fold(write).stages)
    m["trace.write_stage_s"] = _per(write_stage, passes)
    m["trace.unattributed_s"] = _per(write_wall - write_stage, passes)
    return m


def stream_probe(spark, args, out: Outcome):
    """One checkpointed streaming pass over kron_ingest's own stream, traced
    with its own job-description prefix, so a kron_ingest traced run also
    measures the merge, checkpoint and streaming-driver layers. Returns
    (tracer, StreamProbe) for layer_metrics."""
    probe = StreamProbe(spec.WORKLOADS["kron_ingest"].num_vertices, args.inputs, args.work)
    ptr = Tracer(spark.sparkContext, traced=True, prefix="stream:")
    with ptr.span("input.load"):
        probe.load(spark)
    saved = install_wrappers(ptr)
    try:
        checks = probe.run_pass(ptr, out)
    finally:
        restore_wrappers(saved)
    for check in checks:
        check()
    probe.end_pass()
    probe.unload()
    return ptr, probe


# --------------------------------------------------------------------- main

def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(spec.WORKLOADS))
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inputs", required=True, help="directory perfbench/gen.py wrote")
    ap.add_argument("--work", required=True, help="scratch directory for Spark")
    ap.add_argument("--results", required=True, help="directory for spans and tables")
    ap.add_argument("--bench-json", required=True, help="BENCHMARK.json with the metric list")
    args = ap.parse_args(argv)

    with open(args.bench_json) as f:
        bench = json.load(f)
    w = spec.WORKLOADS[args.workload]
    wl = make_workload(w, args.inputs)
    out = Outcome()
    os.makedirs(args.results, exist_ok=True)
    tag = f"{w.name}-trace{args.trace}"

    # a traced run spends half of --seconds on the traced window, then runs
    # as many untraced passes in a second Spark session for the overhead
    event_dir = os.path.join(args.work, "eventlog") if args.trace else None
    spark, tr, setup_s, session_s = set_up(wl, args.work, event_dir, traced=bool(args.trace))
    saved = install_wrappers(tr) if args.trace else []
    try:
        passes, steal = window(wl, tr, args.seconds / 2 if args.trace else args.seconds, out)
    finally:
        restore_wrappers(saved)
    tr.dump(os.path.join(args.results, f"{tag}-spans.jsonl"))
    if passes == 0:
        spark.stop()
        log("no pass completed")
        return 1
    e2e = {"setup_s": setup_s, **end_to_end(wl, tr),
           "driver_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024}
    e2e_units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    print_table(f"{w.name}: {'traced window' if args.trace else 'end to end'} ({passes} passes)",
                wl, tr, e2e, e2e_units, steal)
    timed_ops = sum(1 for s in tr.spans if s.name in wl.TIMED)

    if args.trace:
        probe = stream_probe(spark, args, out) if w.kind == "kron" else None
        wl.unload()
        spark.stop()
        logs = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
        folds, udfs = fold_event_log(logs[0])
        values = layer_metrics(wl, tr, folds, udfs, passes, steal=steal, probe=probe)
        values["session.start_s"] = session_s
        if w.kind == "kron":
            from kernel_layer import kernel_metrics

            sample = dict(np.load(os.path.join(args.inputs, "kernel.npz")))
            kvals, kernel_ok = kernel_metrics(sample, w.num_vertices, spec.SKETCH_SEED,
                                              spec.SAMPLES_FACTOR)
            values.update(kvals)
            out.check(kernel_ok, "kernel encode bytes / decode round trip")
        # the same pass indices untraced, each counted from its own session's
        # set-up; the JVM stays up across sessions and keeps warming, so the
        # later untraced session also gains that drift and the overhead is an
        # upper estimate
        spark, utr, _, _ = set_up(wl, args.work, None, traced=False)
        u_passes, u_steal = window(wl, utr, args.seconds, out, passes=passes)
        spark.stop()
        if u_passes < passes:
            log("untraced window stopped early")
            return 1
        traced, untraced = end_to_end(wl, tr), end_to_end(wl, utr)
        for name in ("pass_s", "query_s"):
            values[f"trace.overhead.{name}_pct"] = 100 * (traced[name] / untraced[name] - 1)
        values["trace.overhead.ingest_pct"] = 100 * (
            untraced["ingest_rows_per_s"] / traced["ingest_rows_per_s"] - 1)
        print_table(f"{w.name}: untraced window ({u_passes} passes)", wl, utr,
                    untraced, e2e_units, u_steal)
        traced_ops = op_summary(wl, tr)
        timed_ops += sum(1 for s in utr.spans if s.name in wl.TIMED)
        if probe:
            traced_ops.update(op_summary(probe[1], probe[0]))
            timed_ops += sum(1 for s in probe[0].spans if s.name in probe[1].TIMED)
        # op.* metrics the workload does not run are 0
        for m in bench["per_layer"]:
            if m["name"].startswith("op.") and m["name"] != "op.failed_ratio":
                op = m["name"][len("op."):]
                values[m["name"]] = traced_ops[op][0] if op in traced_ops else 0.0
        values["op.failed_ratio"] = (out.wrong + out.raised) / max(timed_ops, 1)
        wanted = bench["per_layer"]
    else:
        spark.stop()
        values = e2e
        wanted = bench["end_to_end"]

    failed = out.wrong + out.raised
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted}
    result = {"correct": failed == 0, "attempted": max(timed_ops, 1), "failed": failed,
              "metrics": metrics}
    with open(os.path.join(args.results, f"{tag}-result.json"), "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    try:
        code = main()
    finally:
        shutdown_jvm()
    sys.exit(code)
