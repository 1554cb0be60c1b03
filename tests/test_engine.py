"""End-to-end facade: fresh run, incremental re-run, charts, run audit."""

from __future__ import annotations

import json
import os
import tempfile

from ups_crossref_etl_spark.engine import TABLES, Engine
from ups_crossref_etl_spark.fixtures import make_works
from ups_crossref_etl_spark.sources.catalog import SEED_ROWS

from bibliometric_oracle import run_oracle
from test_bibliometric_e2e import canonical_key

#: lake table → its key
KEYS = {
    "obras": ["DOI"],
    "obra_tema": ["DOI", "Tema"],
    "autores": ["AutorID"],
    "afiliaciones": ["AfiliacionID"],
    "obra_autor_afiliacion": ["DOI", "AutorID", "AfiliacionID"],
}
#: lake table → its rows in ``run_oracle``'s result
ORACLE_ROWS = {
    "obras": "obras",
    "obra_tema": "obra_tema",
    "autores": "autores",
    "afiliaciones": "afiliaciones",
    "obra_autor_afiliacion": "oaa",
}
#: the flat view's columns, as ``run_oracle`` names them
VISTA_COLS = ("DOI", "Titulo", "Anio", "Revista", "Editorial", "Tipo", "Citas",
              "Referencias", "FechaPublicacion", "Autores", "Afiliaciones",
              "Sedes", "Areas", "Paises", "PaisesCodigo", "UPS_Flag", "Temas")
#: (child table, column, parent table) of every lake foreign key
FOREIGN_KEYS = [
    ("obra_autor_afiliacion", "DOI", "obras"),
    ("obra_autor_afiliacion", "AutorID", "autores"),
    ("obra_autor_afiliacion", "AfiliacionID", "afiliaciones"),
    ("obra_tema", "DOI", "obras"),
]


def _write_jsonl(items, path):
    with open(path, "w") as f:
        for it in items:
            f.write(json.dumps(it) + "\n")


def _write_build_and_append(td):
    """JSONL files of the first 120 fixture works and of all of them (a
    superset, so the second run appends only new works), and a lake path."""
    items = make_works()
    w1, w2 = os.path.join(td, "w1.jsonl"), os.path.join(td, "w2.jsonl")
    _write_jsonl(items[:120], w1)
    _write_jsonl(items, w2)
    return w1, w2, os.path.join(td, "lake")


def _jobs_in_group(spark, group, fn):
    """(fn(), number of Spark jobs fn submitted)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _assert_unique_and_closed(tables):
    """The flat view reads the lake tables as they are, so each must be
    unique by its key and every foreign key must exist in its parent."""
    for name, keys in KEYS.items():
        df = tables[name]
        assert df.count() == df.select(*keys).distinct().count(), f"{name} not unique"
    for child, col, parent in FOREIGN_KEYS:
        orphans = tables[child].join(tables[parent], col, "left_anti").count()
        assert orphans == 0, f"{orphans} {child}.{col} missing from {parent}"


def test_engine_end_to_end_and_incremental(spark):
    spark.catalog.clearCache()
    with tempfile.TemporaryDirectory() as td:
        w1, w2, lake = _write_build_and_append(td)

        eng = Engine(spark)
        vista1 = eng.run(works_jsonl=w1, lake_root=lake)
        n1 = vista1.count()
        assert n1 > 0
        assert os.path.exists(os.path.join(lake, "obras"))
        assert eng.publications_per_year().count() > 0

        vista2 = eng.run(works_jsonl=w2, lake_root=lake)  # incremental
        n2 = vista2.count()
        assert n2 >= n1
        appended = eng.load_lake(lake)
        _assert_unique_and_closed(appended)

        # the append equals one sequential pass over both batches: works
        # already in the lake are skipped before their authors are resolved
        items = make_works()
        want = run_oracle(sorted(items[:120], key=canonical_key)
                          + sorted(items, key=canonical_key), SEED_ROWS)
        for name, key in ORACLE_ROWS.items():
            assert appended[name].count() == len(want[key]), name
        got = {tuple(r[c] for c in VISTA_COLS) for r in vista2.collect()}
        assert got == {tuple(v[c] for c in VISTA_COLS) for v in want["vista"]}

        # third run with identical input: no growth (idempotence)
        vista3 = eng.run(works_jsonl=w2, lake_root=lake)
        assert vista3.count() == n2

        # the lake is read with its declared schemas: no inference job, and
        # an append's view keeps the build's column order
        assert vista3.columns == vista1.columns
        tables, jobs = _jobs_in_group(spark, "load_lake", lambda: eng.load_lake(lake))
        assert jobs == 0, f"load_lake submitted {jobs} Spark jobs"
        for name, schema in TABLES.items():
            got = [(f.name, f.dataType) for f in tables[name].schema]
            assert got == [(f.name, f.dataType) for f in schema], name
        _assert_unique_and_closed(tables)

        runs = eng.runs(lake).collect()
        assert {r["RunID"] for r in runs} == {1, 2, 3}
        assert all(r["EndedAt"] is not None for r in runs)

        # SQL surface registered
        assert eng.sql("SELECT count(*) AS n FROM vista_analisis").first()["n"] == n2
        # year partition layout on vista
        assert any(
            d.startswith("Anio=")
            for d in os.listdir(os.path.join(lake, "vista_analisis"))
        )
    # shared stages are materialized with local checkpoints, which the
    # ContextCleaner frees; a persisted DataFrame would stay in the
    # session's cache after every run
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_cli_corpus_subcommand(spark, sf_dir, tmp_path):
    """`python -m ups_crossref_etl_spark corpus` end to end: clean + split
    + pack over the real documents parquet, partitioned output, JSON
    report line."""
    import json

    from ups_crossref_etl_spark.__main__ import main

    out = str(tmp_path / "clean")
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        main([
            "corpus", "--docs", f"{sf_dir}/documents.parquet", "--out", out,
            "--dedup", "transitive", "--split", "--pack", "2048",
        ])
    report = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert report["output_docs"] > 0
    assert report["output_docs"] <= report["input_docs"]
    got = spark.read.parquet(out)
    assert {"split", "pack_bin", "n_tok"} <= set(got.columns)
    assert {r["split"] for r in got.select("split").distinct().collect()} <= {
        "train", "val", "test"
    }


#: Spark jobs of a build plus an append of the fixture corpus: 171
#: measured, with a small margin for adaptive-execution plan changes
JOB_BUDGET = 180


def test_engine_job_budget(spark):
    """Each shared stage of ``Engine.run`` is evaluated once, the flat view
    is built straight from the lake tables and the lake is read with its
    declared schemas, and an append resolves only the works new to the
    lake and unions them in, so a build plus an append of the fixture
    corpus stays within a pinned Spark job count. The same two runs took
    280 jobs before the shared stages were materialized once, 213 with a
    cleanup stage ahead of the flat view and schema inference on every lake
    read, and 188 while an append re-resolved its stored works and merged
    every table with anti-joins; they take 171 now, under local[8] with 8
    shuffle partitions."""

    def build_and_append():
        eng = Engine(spark)
        eng.run(works_jsonl=w1, lake_root=lake)
        eng.run(works_jsonl=w2, lake_root=lake)

    with tempfile.TemporaryDirectory() as td:
        w1, w2, lake = _write_build_and_append(td)
        _, jobs = _jobs_in_group(spark, "test_engine_job_budget", build_and_append)
    print(f"Engine.run build + append: {jobs} Spark jobs")
    assert jobs <= JOB_BUDGET, f"{jobs} Spark jobs > budget {JOB_BUDGET}"
