"""Run the benchmark over several seeds and summarize the spread.

    python3 perfbench/repeat.py --workload etl --seeds 1-10 [--trace 1] [--out FILE]

For each metric: median, quartiles (``statistics.quantiles(n=4)``) and the
spread (q3 - q1) / median, next to the bound in BENCHMARK.json. With
``--trace 1 --untraced FILE`` it also prints the tracing overhead: the
traced ``trace.append_ms`` (etl) or ``trace.op_p50_ms`` (dashboard) median
against the ``op_p50_ms`` median of FILE, an untraced summary this tool
wrote with ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else [values[0]] * 3
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "values": values}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--untraced", default=None, help="untraced summary, for the overhead")
    ap.add_argument("--out", default=None)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    per_metric: dict[str, list[float]] = {}
    runs = []
    for seed in seeds(args.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)]
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: failed ({p.returncode})\n{p.stderr[-2000:]}", file=sys.stderr)
            runs.append({"seed": seed, "exit": p.returncode})
            continue
        res = json.loads(lines[-1])
        runs.append({"seed": seed, "info": lines[0], **res})
        for k, v in res["metrics"].items():
            per_metric.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} {lines[0]}", flush=True)

    summary = {k: summarize(v) for k, v in per_metric.items()}
    for k, s in summary.items():
        b = bounds.get(k)
        flag = "" if b is None or s["spread"] is None else (
            " ok" if s["spread"] < b / 3 else " WIDE" if s["spread"] > b else " within")
        print(f"{k:48s} median {s['median']:.6g} q1 {s['q1']:.6g} q3 {s['q3']:.6g} "
              f"spread {s['spread'] if s['spread'] is None else round(s['spread'], 4)}"
              f" bound {b}{flag}")
    out = {"workload": args.workload, "seconds": seconds, "trace": args.trace,
           "runs": runs, "summary": summary}
    if args.trace and args.untraced:
        with open(args.untraced) as f:
            base = json.load(f)["summary"]["op_p50_ms"]["median"]
        key = "trace.append_ms" if args.workload == "etl" else "trace.op_p50_ms"
        traced, untraced = summary[key]["median"], base
        out["tracing_overhead"] = {"traced": traced, "untraced": untraced,
                                   "ratio": traced / untraced}
        print(f"tracing overhead: traced {traced:.1f} vs untraced {untraced:.1f} "
              f"({traced / untraced:.3f}x)")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
