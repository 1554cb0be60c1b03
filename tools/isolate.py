"""Query isolation harness: time individual queries with the noop sink
(guide §1.4 — computation only, no result serialization to the driver) and
dump their .explain('formatted') to <out_dir>/<query>_<tag>.txt.

Usage:
    python tools/isolate.py <out_dir> <tag> <query> [query ...]
    python tools/isolate.py <out_dir> --time-only <tag> <query> [...]
    python tools/isolate.py <out_dir> --plans-only <tag> <query> [...]

``tag`` is 'before' or 'after' (anything else works too, e.g. 'probe').
Prints one JSON line {query: {"noop_s": best-of-2, "collect_s": best-of-2}}.
The collect timing replicates bench.py methodology so numbers are
comparable with BENCH_LOCAL.json; the noop timing isolates compute.
Jobs are labelled (guide §1.5) so the UI/event log attributes time.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _best_of  # noqa: E402
from ups_crossref_etl_spark.plans.registry import load_all  # noqa: E402
from ups_crossref_etl_spark.session import get_spark  # noqa: E402


def main() -> None:
    out_dir, args = sys.argv[1], sys.argv[2:]
    time_only = plans_only = False
    if args and args[0] == "--time-only":
        time_only = True
        args = args[1:]
    if args and args[0] == "--plans-only":
        plans_only = True
        args = args[1:]
    tag, names = args[0], args[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("isolate")
    specs = load_all()
    # warmup: JVM/codegen/parquet-footer caches (same as bench.py)
    specs["q1_pricing_summary"].fn(spark, sf_dir).count()

    res: dict[str, dict[str, float]] = {}
    for name in names:
        fn = specs[name].fn
        entry: dict[str, float] = {}
        sc = spark.sparkContext
        if not time_only:
            df = fn(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
                f.write(buf.getvalue())
        if plans_only:
            continue
        if name.startswith("q_stream_"):
            # streaming gates execute eagerly inside fn(); noop is moot
            sc.setJobDescription(f"isolate {name} collect")
            entry["collect_s"] = _best_of(lambda: fn(spark, sf_dir).collect())
        else:
            sc.setJobDescription(f"isolate {name} noop")
            entry["noop_s"] = _best_of(
                lambda: fn(spark, sf_dir)
                .write.format("noop").mode("overwrite").save()
            )
            sc.setJobDescription(f"isolate {name} collect")
            entry["collect_s"] = _best_of(lambda: fn(spark, sf_dir).collect())
        sc.setJobDescription(None)
        res[name] = entry
        print(json.dumps({name: entry}), flush=True)
    print("RESULT " + json.dumps(res))


if __name__ == "__main__":
    main()
