"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload kron_ingest --seed 1 --seconds 20 --trace 0

Run from the repository root. It generates the workload's inputs and oracle
answers from the seed in one process (perfbench/gen.py), then measures the
workload in a second process (perfbench/measure.py) that sees only those
files, and prints the result as one JSON line, the last line on stdout.
Human-readable tables go to stderr; spans and results of the latest run stay
in .perfbench/results/. Both processes run in their own process group, and
every process left in a group is stopped before the next step starts.

Environment pinning (the measured program itself is not changed):
PYTHONPATH carries the repository so Spark's Python workers can import
graphzeppelin_spark; SPARK_DRIVER_MEM is sized for a 15 GB host; Spark's
scratch and temporary files stay inside .perfbench/work/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from spec import DRIVER_MEM, WORKLOADS  # noqa: E402

# the whole run, generation included, must end well inside 180 s
DEADLINE_S = 170


def _group_members(pgid: int) -> list[int]:
    """Live (non-zombie) processes of a process group."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        if fields[0] != "Z" and int(fields[2]) == pgid:
            pids.append(int(entry))
    return pids


def _stop_group(pgid: int) -> None:
    """TERM, then KILL, every process left in the group; wait until none is left."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_members(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + grace
        while _group_members(pgid) and time.monotonic() < end:
            time.sleep(0.1)


def _run(cmd: list[str], env: dict, timeout: float, capture: bool) -> tuple[int, str]:
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True,
                            stdout=subprocess.PIPE if capture else None, text=True)
    try:
        out, _ = proc.communicate(timeout=max(timeout, 1.0))
    except subprocess.TimeoutExpired:
        _stop_group(proc.pid)
        proc.wait()
        raise
    finally:
        _stop_group(proc.pid)
    return proc.returncode, out or ""


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t0 = time.monotonic()

    if not os.path.isfile(os.path.join(ROOT, "graphzeppelin_spark", "__init__.py")):
        print("graphzeppelin_spark/ not found next to perfbench/", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    for d in (inputs, os.path.join(work, "tmp"), os.path.join(work, "spark-local")):
        os.makedirs(d)

    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join([ROOT] + [p for p in [env.get("PYTHONPATH")] if p])
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env["SPARK_DRIVER_MEM"] = DRIVER_MEM
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = os.path.join(work, "tmp")
    # spark-submit's launcher JVM would write an hsperfdata file under /tmp
    env["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    env.pop("SPARK_GRAFT_AQE", None)  # keep the library's default plan choice

    try:
        code, _ = _run([sys.executable, os.path.join(HERE, "gen.py"), "--workload",
                        args.workload, "--seed", str(args.seed), "--out", inputs,
                        "--trace", str(args.trace)],
                       env, DEADLINE_S - (time.monotonic() - t0), capture=False)
        if code != 0:
            print(f"input generation failed ({code})", file=sys.stderr)
            return 1
        code, out = _run(
            [sys.executable, os.path.join(HERE, "measure.py"), "--workload", args.workload,
             "--seconds", str(args.seconds), "--trace", str(args.trace), "--inputs", inputs,
             "--work", work, "--results", os.path.join(base, "results"),
             "--bench-json", os.path.join(ROOT, "BENCHMARK.json")],
            env, DEADLINE_S - (time.monotonic() - t0), capture=True)
    except subprocess.TimeoutExpired:
        print(f"run exceeded {DEADLINE_S} s", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    for ln in lines[:-1]:
        print(ln, file=sys.stderr)
    if code != 0 or not lines:
        print(f"measured run failed ({code})", file=sys.stderr)
        return 1
    result = json.loads(lines[-1])
    print(f"run took {time.monotonic() - t0:.1f} s", file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
