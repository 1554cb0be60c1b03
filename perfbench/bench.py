"""One benchmark run of one workload, in this process.

``run.py`` starts this file in a process group of its own, keeps its
stderr, and prints the result line; README.md describes the workloads and
metrics. Run it through ``run.py``, not directly.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]

import corpus  # noqa: E402
import dashboard  # noqa: E402
import spans  # noqa: E402

#: corpus A (the lake a window's first run built) and batch B (a re-run)
N_A, N_B = 200, 20
#: dashboard timed passes over the op mix per run at least. Latency is
#: still falling as the JVM compiles the query paths, so the timed region
#: is a fixed number of whole passes (it outlasts ``--seconds`` at about
#: 2.5 s a pass): a slow run then covers the same stretch of that curve as
#: a fast one instead of fewer, slower ops
MIN_PASSES = 6
#: dashboard input preparations in set-up (the first is the warm-up
#: input); set-up reports their median. ``etl`` prepares once: its lake
#: write costs about 4 s, and repeats would not fit the run budget
PREP_REPEATS = 3
#: dashboard warm-up passes over the op mix; the first compiles every
#: op's path (about 9 s), the second halves the latency again
WARMUP_PASSES = 2

VISTA_COLS = ("DOI", "Titulo", "Anio", "Revista", "Editorial", "Tipo", "Citas",
              "Referencias", "FechaPublicacion", "Autores", "Afiliaciones", "Sedes",
              "Areas", "Paises", "PaisesCodigo", "UPS_Flag", "Temas")
VISTA_SCHEMA = (
    "DOI string, Titulo string, Anio int, Revista string, Editorial string, "
    "Tipo string, Citas bigint, Referencias bigint, FechaPublicacion string, "
    "Autores string, Afiliaciones string, Sedes string, Areas string, Paises string, "
    "PaisesCodigo string, UPS_Flag int, Temas string"
)
#: lake table -> oracle output with one entry per row
ORACLE_OF = {"obras": "obras", "obra_tema": "obra_tema", "autores": "autores",
             "afiliaciones": "afiliaciones", "obra_autor_afiliacion": "oaa"}


def now() -> float:
    return time.perf_counter()


T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr,
          flush=True)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            files += n.endswith(".parquet")
    return total, files


def start_spark(work: str, trace: bool):
    import tempfile

    from ups_crossref_etl_spark.session import get_spark

    # the session's own warehouse path, repeated because this overrides
    # the driver options that carry it
    warehouse = os.path.join(tempfile.gettempdir(), f"spark-warehouse-{os.getpid()}")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={warehouse} -Djava.io.tmpdir={tempfile.gettempdir()}"
        ),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t = now()
    spark = get_spark("perfbench", extra_conf=conf)
    return spark, now() - t


# -- inputs, the lake they start from, and expected results --------------------


def oracle(items_a: list[dict], items_b: list[dict] | None = None) -> dict:
    """``tests/bibliometric_oracle.run_oracle`` over the items in canonical
    order; a re-run batch is replayed after the batch it follows."""
    from bibliometric_oracle import run_oracle
    from test_bibliometric_e2e import canonical_key
    from ups_crossref_etl_spark.sources.catalog import SEED_ROWS

    ordered = sorted(items_a, key=canonical_key)
    if items_b:
        ordered += sorted(items_b, key=canonical_key)
    return run_oracle(ordered, SEED_ROWS)


def write_oracle_lake(spark, exp: dict, lake: str, tables: bool) -> None:
    """Write the oracle's result for corpus A as the lake ``Engine.run``
    would have built from it, with the program's own sink writers: the
    five tables an append reads (surrogate ids are ``xxhash64`` of the
    natural keys, as in the program) when ``tables``, else the vista the
    dashboard reads."""
    from pyspark.sql import functions as F

    from ups_crossref_etl_spark import schemas
    from ups_crossref_etl_spark.sources import sinks

    if tables:
        h = F.xxhash64
        autores = spark.createDataFrame(
            [(a["NombreBusqueda"], a["NombreLimpio"], a["Orcid"]) for a in exp["autores"]],
            "NombreBusqueda string, NombreLimpio string, Orcid string")
        afis = spark.createDataFrame(
            [(a["AfiliacionBusqueda"], a["CadenaLiteral"], a["SedeID"], a["CountryCode"],
              a["CountryName"], a["EsUPS"]) for a in exp["afiliaciones"]],
            "AfiliacionBusqueda string, CadenaLiteral string, SedeID int, "
            "CountryCode string, CountryName string, EsUPS int")
        oaa = spark.createDataFrame(
            exp["oaa"], "DOI string, NombreBusqueda string, AfiliacionBusqueda string, "
            "AutorSecuencia string")
        sinks.write_lake(spark, {
            "obras": spark.createDataFrame(
                [tuple(o[c] for c in schemas.obras_schema.names) for o in exp["obras"]],
                schemas.obras_schema),
            "obra_tema": spark.createDataFrame(exp["obra_tema"], schemas.obra_tema_schema),
            "autores": autores.select(h("NombreBusqueda").alias("AutorID"), "NombreLimpio",
                                      "NombreBusqueda", "Orcid"),
            "afiliaciones": afis.select(
                h("AfiliacionBusqueda").alias("AfiliacionID"), "CadenaLiteral",
                "AfiliacionBusqueda", "SedeID", "CountryCode", "CountryName", "EsUPS"),
            "obra_autor_afiliacion": oaa.select(
                "DOI", h("NombreBusqueda").alias("AutorID"),
                h("AfiliacionBusqueda").alias("AfiliacionID"), "AutorSecuencia"),
        }, lake)
        return
    vista = spark.createDataFrame([tuple(v[c] for c in VISTA_COLS) for v in exp["vista"]],
                                  VISTA_SCHEMA)
    sinks.write_table(vista, os.path.join(lake, "vista_analisis"), partition_by=["Anio"])


def prepare(spark, seed: int, work: str, tag: str, kind: str, tables: bool) -> dict:
    """Generate A and B, write them as JSONL, and write A's lake."""
    a, b = corpus.make_corpus(seed, N_A, N_B, kind)
    d = os.path.join(work, f"input-{tag}")
    os.makedirs(d, exist_ok=True)
    pb = os.path.join(d, "b.jsonl")
    nbytes = corpus.write_jsonl(a, os.path.join(d, "a.jsonl")) + corpus.write_jsonl(b, pb)
    exp_a = oracle(a)
    lake = os.path.join(work, f"lake-{tag}")
    write_oracle_lake(spark, exp_a, lake, tables)
    return {"lake": lake, "b": pb, "input_bytes": nbytes, "items_a": a, "items_b": b,
            "exp_a": exp_a, "stats": corpus.corpus_stats(a, b)}


def prepare_repeated(spark, args, work: str, setup: dict, kinds: list[str],
                     tables: bool) -> list[dict]:
    times, preps = [], []
    for i, kind in enumerate(kinds):
        t = now()
        preps.append(prepare(spark, args.seed, work, str(i), kind, tables))
        times.append(now() - t)
    setup["prep_s"] = statistics.median(times)
    log(f"inputs prepared {len(kinds)} times")
    setup["corpus"] = preps[-1]["stats"]
    return preps


# -- checks -------------------------------------------------------------------------


def expected_charts(vista_rows: list[dict]) -> dict:
    year, cc, area = {}, {}, {}
    for v in vista_rows:
        if v["Anio"] is not None:
            year[v["Anio"]] = year.get(v["Anio"], 0) + 1
        for c in v["PaisesCodigo"].split("; "):
            if c and c != "EC":
                cc[c] = cc.get(c, 0) + 1
        for a in v["Areas"].split("; "):
            if a:
                area[a] = area.get(a, 0) + 1
    return {"a6": year, "a7": cc, "a8": area}


def check_lake(eng, lake: str, exp: dict) -> list[str]:
    """Compare an ``Engine.run`` result with the oracle: the table counts
    read back from the lake, the vista rows, and the A6/A7/A8 charts.
    Returns the mismatches."""
    bad = []
    for table, df in eng.load_lake(lake).items():
        got, want = df.count(), len(exp[ORACLE_OF[table]])
        if got != want:
            bad.append(f"{table}: {got} rows, oracle {want}")
    got_vista = {r["DOI"]: tuple(r[c] for c in VISTA_COLS) for r in eng.vista().collect()}
    want_vista = {v["DOI"]: tuple(v[c] for c in VISTA_COLS) for v in exp["vista"]}
    if got_vista != want_vista:
        diff = sorted(set(got_vista.items()) ^ set(want_vista.items()), key=str)[:2]
        bad.append(f"vista differs, e.g. {diff}")
    charts = expected_charts(exp["vista"])
    got = {
        "a6": {r["Anio"]: r["n"] for r in eng.publications_per_year().collect()},
        "a7": {r["cc"]: r["n"] for r in eng.publications_per_country().collect()},
        "a8": {r["area"]: r["n"] for r in eng.publications_per_area().collect()},
    }
    bad += [f"{k} chart differs" for k in charts if charts[k] != got[k]]
    return bad


def check_ops(results: list, expected: dict, run: "Run") -> None:
    for op, got in results:
        if got is not None and dashboard.rows(got) != expected[op.name]:
            log(f"wrong result for {op.name}: {dashboard.rows(got)[:3]} vs "
                f"{expected[op.name][:3]}")
            run.failed.append(op.name)


# -- workloads ------------------------------------------------------------------


class Run:
    """Op outcomes of the timed region; checks run outside it."""

    def __init__(self):
        self.latencies_ms: list[float] = []
        self.failed: list[str] = []
        self.attempted = 0
        self.detail: dict = {}

    def op(self, fn):
        """Time ``fn()``; an exception is a failed op. Returns its value."""
        self.attempted += 1
        t = now()
        try:
            out = fn()
        except Exception:  # one failed op must not end the run
            log(traceback.format_exc())
            self.failed.append("exception")
            return None
        self.latencies_ms.append((now() - t) * 1000)
        return out


def append_op(eng, prep: dict, run: Run) -> None:
    """One op: ``Engine.run`` re-runs the window (batch B) onto A's lake,
    checked against the oracle over A then B outside the timed region."""
    if run.op(lambda: eng.run(works_jsonl=prep["b"], lake_root=prep["lake"])) is None:
        return
    t = now()
    bad = check_lake(eng, prep["lake"], oracle(prep["items_a"], prep["items_b"]))
    run.detail["check_s"] = run.detail.get("check_s", 0.0) + now() - t
    if bad:
        log(f"wrong result after the append: {bad}")
        run.failed.append("; ".join(bad))


def run_etl(spark, args, work: str, setup: dict) -> tuple[Run, float]:
    """One op: a cold append takes longer than ``--seconds`` (README.md,
    "Run budget")."""
    from ups_crossref_etl_spark.engine import Engine

    prep = prepare_repeated(spark, args, work, setup, ["a"], tables=True)[0]
    run = Run()
    append_op(Engine(spark), prep, run)
    run.detail.update(lake_bytes=dir_stats(prep["lake"])[0], input_bytes=prep["input_bytes"])
    return run, sum(run.latencies_ms) / 1000


def op_loop(eng, vista, ops: list, seconds: float, min_passes: int, rng: random.Random,
            run: Run, tracer=None) -> tuple[float, list]:
    """Closed loop, one client: whole passes over the op mix, each in a
    shuffled order, until ``seconds`` have passed and ``min_passes`` passes
    ran. Results are kept and checked afterwards."""
    results = []
    passes = 0
    t0 = now()
    while now() - t0 < seconds or passes < min_passes:
        order = ops[:]
        rng.shuffle(order)
        for op in order:
            if tracer is None:
                got = run.op(lambda: op.spark(eng, vista).collect())
            else:
                got = run.op(lambda: traced_op(tracer, eng, vista, op))
            results.append((op, got))
        passes += 1
    return now() - t0, results


def traced_op(tracer, eng, vista, op):
    with tracer.span(f"plans.analytics.{op.kind}"):
        df = op.spark(eng, vista)
        with tracer.span("plans.analytics.plan"):
            df._jdf.queryExecution().executedPlan()
        return df.collect()


def open_vista(spark, lake: str):
    """Read the lake's vista and register the ``vista_*`` views over it."""
    from ups_crossref_etl_spark.plans import analytics

    vista = spark.read.parquet(os.path.join(lake, "vista_analisis"))
    analytics.register_views(spark, vista)
    return vista


def op_mix(exp: dict, seed: int):
    """The op mix and each op's pandas result over the oracle's vista."""
    import pandas as pd

    pv = pd.DataFrame(exp["vista"], columns=list(VISTA_COLS))
    ops = dashboard.make_ops(pv, seed)
    return ops, {op.name: op.pandas(pv) for op in ops}


def run_dashboard(spark, args, work: str, setup: dict) -> tuple[Run, float]:
    from ups_crossref_etl_spark.engine import Engine

    eng, rng = Engine(spark), random.Random(args.seed)
    # the first preparation is the warm-up input: same shape, disjoint DOIs
    kinds = ["w"] + ["a"] * (PREP_REPEATS - 1)
    preps = prepare_repeated(spark, args, work, setup, kinds, tables=False)
    prep = preps[-1]
    ops, expected = op_mix(prep["exp_a"], args.seed)
    t = now()
    # the warm-up runs the timed ops themselves (same literals, so the same
    # generated code) over the warm-up lake
    op_loop(eng, open_vista(spark, preps[0]["lake"]), ops, 0, WARMUP_PASSES, rng, Run())
    vista = open_vista(spark, prep["lake"])
    setup["warmup_s"] = now() - t
    log("warm-up done")

    run = Run()
    wall, results = op_loop(eng, vista, ops, args.seconds, MIN_PASSES, rng, run)
    log("timed region done")
    check_ops(results, expected, run)
    log("checked")
    run.detail = {"ops": [op.name for op, _ in results],
                  "lake_bytes": dir_stats(prep["lake"])[0], "input_bytes": prep["input_bytes"]}
    return run, wall


# -- traced run -------------------------------------------------------------------


def install_spans(tracer) -> None:
    import ups_crossref_etl_spark.engine as engine
    import ups_crossref_etl_spark.operators.graph as graph
    import ups_crossref_etl_spark.plans.entities as entities
    import ups_crossref_etl_spark.plans.flatview as flatview
    import ups_crossref_etl_spark.plans.incremental as incremental
    import ups_crossref_etl_spark.plans.ingest as ingest
    import ups_crossref_etl_spark.sources.sinks as sinks

    def rows(out, args, kwargs):
        return {"rows": out.count()}

    def sink_before(args, kwargs):
        b, f = dir_stats(args[1])
        return {"bytes0": b, "files0": f}

    def sink_after(out, args, kwargs):
        b, f = dir_stats(args[1])
        return {"bytes": b, "files": f}

    t = tracer
    t.wrap(engine.Engine, "run", "engine.run")
    t.wrap(engine, "read_works_fixtures", "sources.crossref.read", after=rows)
    t.wrap(incremental, "ingest", "plans.ingest.tables")
    t.wrap(ingest, "label_sedes", "plans.ingest.mentions", after=rows)
    t.wrap(entities, "resolve_authors", "plans.entities.resolve")
    t.wrap(graph, "connected_components", "operators.graph.cc",
           after=lambda out, a, k: {"components": out.select("component").distinct().count()})
    t.wrap(engine, "append_batch", "plans.incremental.append_batch",
           before=lambda a, k: {"seed_authors": a[1]["autores"].count()})
    t.wrap(flatview, "build_vista_analisis", "plans.flatview")
    t.wrap(sinks, "write_table", "sources.sinks.write", before=sink_before, after=sink_after)


def run_traced(spark, args, work: str, setup: dict) -> tuple[Run, float, "spans.Tracer"]:
    """The append, then the dashboard op mix over the lake it wrote (one
    pass for ``etl``, ``--seconds`` for ``dashboard``), with a span around
    each call into a layer."""
    from ups_crossref_etl_spark.engine import Engine

    prep = prepare_repeated(spark, args, work, setup, ["a"], tables=True)[0]
    tracer = spans.Tracer(spark, f"{args.workload}-{args.seed}")
    install_spans(tracer)
    eng, run = Engine(spark), Run()
    append_op(eng, prep, run)
    with tracer.span("engine.load_lake"):
        for df in eng.load_lake(prep["lake"]).values():
            df.count()
    ops, expected = op_mix(oracle(prep["items_a"], prep["items_b"]), args.seed)
    vista = open_vista(spark, prep["lake"])
    dash = Run()
    seconds, passes = (args.seconds, MIN_PASSES) if args.workload == "dashboard" else (0, 1)
    _, results = op_loop(eng, vista, ops, seconds, passes, random.Random(args.seed),
                         dash, tracer)
    check_ops(results, expected, dash)
    tracer.unwrap_all()
    run.attempted += dash.attempted
    run.failed += dash.failed
    run.detail.update(append_ms=run.latencies_ms[:1], op_ms=dash.latencies_ms)
    return run, sum(run.latencies_ms) / 1000, tracer


def layer_metrics(tracer, stats: dict, session_s: float, run: Run) -> dict:
    """The per-layer metrics. Times are self time (a layer's span minus
    its child spans) summed over its calls; counters are the jobs its own
    spans submitted; ``engine.run_*`` count everything inside
    ``Engine.run``."""
    by_name: dict[str, list] = {}
    for s in tracer.spans:
        by_name.setdefault(s.name, []).append(s)

    def self_s(name):
        return sum(tracer.self_seconds(s) for s in by_name.get(name, []))

    def group(name, inclusive=False):
        g = spans.GroupStats()
        for s in by_name.get(name, []):
            for m in [s] + (tracer.descendants(s) if inclusive else []):
                g.add(stats.get(m.group, spans.GroupStats()))
        return g

    def count(name, key):
        return sum(s.counts.get(key, 0) for s in by_name.get(name, []))

    mb = 1 / (1024 * 1024)
    tables, resolve = group("plans.ingest.tables"), group("plans.entities.resolve")
    runs = group("engine.run", inclusive=True)
    m = {
        "session.get_spark_s": session_s,
        "sources.crossref.read_s": self_s("sources.crossref.read"),
        "sources.crossref.rows": count("sources.crossref.read", "rows"),
        "plans.ingest.mentions_s": self_s("plans.ingest.mentions"),
        "plans.ingest.mentions_rows": count("plans.ingest.mentions", "rows"),
        "plans.ingest.tables_s": self_s("plans.ingest.tables"),
        "plans.ingest.tables_jobs": tables.jobs,
        "plans.ingest.tables_stages": tables.stages,
        "plans.ingest.tables_cpu_s": tables.cpu_ns / 1e9,
        "plans.ingest.tables_shuffle_write_mb": tables.shuffle_write_bytes * mb,
        "plans.entities.resolve_s": self_s("plans.entities.resolve"),
        "plans.entities.resolve_jobs": resolve.jobs,
        "plans.entities.resolve_components": count("operators.graph.cc", "components"),
        "plans.entities.resolve_longest_stage_s": resolve.longest_stage_ms / 1000,
        "plans.entities.resolve_longest_stage_tasks": resolve.longest_stage_tasks,
        "operators.graph.cc_s": self_s("operators.graph.cc"),
        "operators.graph.cc_jobs": group("operators.graph.cc").jobs,
        "plans.incremental.append_batch_s": self_s("plans.incremental.append_batch"),
        "plans.incremental.append_batch_jobs": group("plans.incremental.append_batch").jobs,
        "plans.incremental.append_batch_seed_authors":
            count("plans.incremental.append_batch", "seed_authors"),
        "plans.flatview.s": self_s("plans.flatview"),
        "plans.flatview.jobs": group("plans.flatview").jobs,
        "sources.sinks.write_s": self_s("sources.sinks.write"),
        "sources.sinks.bytes_written":
            count("sources.sinks.write", "bytes") - count("sources.sinks.write", "bytes0"),
        "sources.sinks.files_written":
            count("sources.sinks.write", "files") - count("sources.sinks.write", "files0"),
        "engine.run_jobs": runs.jobs,
        "engine.run_stages": runs.stages,
        "engine.run_spill_mb": runs.spill_bytes * mb,
        "engine.load_lake_s": self_s("engine.load_lake"),
    }
    ops = []
    for kind in ("per_year", "per_country", "per_area", "filtered", "sql"):
        ss = by_name.get(f"plans.analytics.{kind}", [])
        ops += ss
        m[f"plans.analytics.{kind}_ms"] = statistics.median(s.end - s.start for s in ss) * 1000
    m["plans.analytics.plan_ms"] = statistics.median(
        s.end - s.start for s in by_name["plans.analytics.plan"]) * 1000
    m["plans.analytics.jobs_per_op"] = sum(
        stats.get(c.group, spans.GroupStats()).jobs
        for s in ops for c in [s] + tracer.descendants(s)) / len(ops)
    m["trace.append_ms"] = run.detail["append_ms"][0]
    m["trace.op_p50_ms"] = statistics.median(run.detail["op_ms"])
    m["trace.spans"] = len(tracer.spans)
    return m


# -- main ---------------------------------------------------------------------------


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=["etl", "dashboard"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--work", required=True, help="scratch directory of this run")
    ap.add_argument("--out", required=True, help="where the result JSON goes")
    args = ap.parse_args(argv)

    spark, session_s = start_spark(args.work, bool(args.trace))
    log("session started")
    setup = {"session_s": session_s}
    try:
        if args.trace:
            run, timed, tracer = run_traced(spark, args, args.work, setup)
        elif args.workload == "etl":
            run, timed = run_etl(spark, args, args.work, setup)
        else:
            run, timed = run_dashboard(spark, args, args.work, setup)
    finally:
        spark.stop()
        log("session stopped")

    if args.trace:
        tracer.dump(os.path.join(args.work, "spans.json"))
        metrics = layer_metrics(tracer, spans.read_event_log(
            os.path.join(args.work, "eventlog")), session_s, run)
    else:
        lat = run.latencies_ms
        metrics = {
            "setup_s": session_s + setup["prep_s"] + setup.get("warmup_s", 0.0),
            "op_p50_ms": statistics.median(lat),
            "op_p90_ms": percentile(lat, 0.90),
            "ops_per_s": len(lat) / timed,
            "lake_bytes_per_input_byte": run.detail["lake_bytes"] / run.detail["input_bytes"],
        }
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    unit_of = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    result = {
        "correct": not run.failed,
        "attempted": run.attempted,
        "failed": len(run.failed),
        "metrics": {k: {"value": v, "unit": unit_of[k]} for k, v in metrics.items()},
    }
    detail = {"setup": setup, "timed_s": timed, "latencies_ms": run.latencies_ms,
              "failures": run.failed, **run.detail}
    with open(args.out, "w") as f:
        json.dump({"result": result, "detail": detail}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
