"""Benchmark entry point.

    python3 perfbench/run.py --workload etl --seed 1 --seconds 10 --trace 0

Runs ``bench.py`` for one workload in a process group of its own, with
Spark pinned to ``local[<cores this process may use>]`` through
``SPARK_GRAFT_CPUS`` and every scratch file under ``perfbench/work``.
Before and after the run it reads a fixed CPU probe, so a run taken while
neighbours load the machine shows in its artifact. The artifact (result,
probes, per-op detail) and the run's stderr are kept in ``perfbench/runs``.
The last line of stdout is the result JSON. Exit code 0 means the run
completed; anything else means no result was printed.
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
WORKLOADS = ("etl", "dashboard")
#: a run must finish within 180 s; the child gets the rest after probes
CHILD_TIMEOUT_S = 165


def cpu_probe() -> float:
    """Seconds for a fixed pure-Python loop, best of three."""
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        x = 0
        for i in range(1_000_000):
            x += i * i % 7
        best = min(best, time.perf_counter() - t)
    return best


def stop_group(pgid: int) -> None:
    """Terminate what is left of the run's process group (the JVM and
    Python workers) and wait until it is gone."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)


def exit_on_signal(signum, frame):
    """SIGTERM/SIGHUP end the run through ``main``'s cleanup, which stops
    the child's process group before this process exits."""
    raise SystemExit(128 + signum)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {WORKLOADS}", file=sys.stderr)
        return 2
    needed = ["ups_crossref_etl_spark/engine.py", "tests/bibliometric_oracle.py",
              "BENCHMARK.json"]
    missing = [p for p in needed if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"not a checkout of the program: missing {missing}", file=sys.stderr)
        return 2

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}"
    runs_dir = os.path.join(HERE, "runs")
    work = os.path.join(HERE, "work", tag)
    os.makedirs(runs_dir, exist_ok=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        PYTHONPATH=os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=os.path.join(work, "tmp"),
        # also for the launcher JVM spark-submit starts, which would write
        # its perf counters under /tmp
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
    )
    out_path = os.path.join(work, "result.json")
    err_path = os.path.join(runs_dir, tag + ".stderr")
    cmd = [sys.executable, os.path.join(HERE, "bench.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", work, "--out", out_path]

    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, exit_on_signal)
    probe_before, load_before = cpu_probe(), os.getloadavg()
    t0 = time.perf_counter()
    with open(err_path, "w") as err:
        proc = subprocess.Popen(cmd, stdout=err, stderr=err, env=env, cwd=ROOT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            stop_group(proc.pid)
            proc.wait()
    wall = time.perf_counter() - t0
    probe_after, load_after = cpu_probe(), os.getloadavg()

    out = None
    if code == 0 and os.path.exists(out_path):
        with open(out_path) as f:
            out = json.load(f)
    if args.trace and os.path.exists(os.path.join(work, "spans.json")):
        shutil.copy(os.path.join(work, "spans.json"), os.path.join(runs_dir, tag + ".spans.json"))
    shutil.rmtree(work, ignore_errors=True)
    artifact = {
        "args": vars(args), "cpus": cpus, "exit": code, "wall_s": wall,
        "cpu_probe_s": {"before": probe_before, "after": probe_after},
        "loadavg": {"before": load_before, "after": load_after},
        "stderr": os.path.relpath(err_path, ROOT), **(out or {}),
    }
    with open(os.path.join(runs_dir, tag + ".json"), "w") as f:
        json.dump(artifact, f, indent=1)
    if out is None:
        with open(err_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        print(f"run failed ({code}); stderr kept in {err_path}", file=sys.stderr)
        return 1
    print(f"cpu probe {probe_before:.3f}s before, {probe_after:.3f}s after; "
          f"wall {wall:.1f}s; artifact {os.path.relpath(runs_dir, ROOT)}/{tag}.json")
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
