"""High-level facade — the one-object API a reference user switches to.

The reference is a single script run end-to-end (`python
barrazueta_pipeline_etl_crossref.py` → SQLite file). The equivalent here:

    from ups_crossref_etl_spark.engine import Engine

    eng = Engine()                                # builds the session
    eng.run(works_jsonl="works.jsonl",            # EP1+EP2+EP3 (+K10 audit)
            lake_root="/data/ups_lake")
    eng.publications_per_year().show()            # EP4 charts
    eng.sql("SELECT * FROM vista_analisis WHERE Anio = 2024")

Re-running ``run`` against the same lake is incremental and idempotent
(plans/incremental.py), mirroring the reference's documented multi-run
operation. ``python -m ups_crossref_etl_spark`` wraps this in a CLI.

``run`` materializes the five lake tables once, before it overwrites the
lake, and builds the flat view straight from those materialized tables:
they are unique by key and referentially closed by construction, so no
cleanup stage sits between them (see plans/flatview.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .plans import analytics, flatview
from .plans.incremental import append_batch
from .plans.ingest import ingest
from .plans.runs import current_runs, finish_run, start_run
from .schemas import (
    afiliaciones_schema,
    autores_schema,
    obra_autor_afiliacion_schema,
    obra_tema_schema,
    obras_schema,
    runs_schema,
)
from .session import get_spark
from .sources import sinks
from .sources.catalog import read_catalog_csv, seed_catalog
from .sources.crossref import read_works_fixtures

#: lake table name → its declared schema
TABLES = {
    "obras": obras_schema,
    "obra_tema": obra_tema_schema,
    "autores": autores_schema,
    "afiliaciones": afiliaciones_schema,
    "obra_autor_afiliacion": obra_autor_afiliacion_schema,
}


class Engine:
    def __init__(self, spark: SparkSession | None = None):
        self.spark = spark or get_spark()
        self._vista: DataFrame | None = None

    # -- lake I/O -----------------------------------------------------------

    def _lake_exists(self, lake_root: str) -> bool:
        return os.path.exists(os.path.join(lake_root, "obras"))

    def load_lake(self, lake_root: str) -> dict[str, DataFrame]:
        """The five lake tables, read with their declared schemas (no
        schema-inference job) and in their declared column order (a
        partition column would otherwise come last)."""
        return {
            t: self.spark.read.schema(schema)
            .parquet(os.path.join(lake_root, t))
            .select(*schema.fieldNames())
            for t, schema in TABLES.items()
        }

    # -- the end-to-end run (reference __main__ equivalent) -----------------

    def run(
        self,
        works_jsonl: str | None = None,
        works_raw: DataFrame | None = None,
        catalog_csv: str | None = None,
        lake_root: str = "./ups_lake",
        max_works: int | None = None,
    ) -> DataFrame:
        """Ingest → catalog labeling → flat view → write lake. Returns
        ``vista_analisis``. Incremental when the lake exists; ``max_works``
        caps the accepted works of this run's batch on a build and on an
        append alike."""
        if works_raw is None:
            if works_jsonl is None:
                raise ValueError("pass works_jsonl or works_raw")
            works_raw = read_works_fixtures(self.spark, works_jsonl)
        catalog = (
            read_catalog_csv(self.spark, catalog_csv)
            if catalog_csv
            else seed_catalog(self.spark)
        )

        run_row = start_run(self.spark, run_id=self._next_run_id(lake_root),
                            query_params={"source": works_jsonl or "dataframe"})

        if self._lake_exists(lake_root):
            existing = self.load_lake(lake_root)
            tables = append_batch(self.spark, existing, works_raw, catalog,
                                  max_works=max_works)
        else:
            tables = ingest(self.spark, works_raw, catalog, max_works=max_works)

        # materialize BEFORE overwriting the lake we may be reading from;
        # each table is also read by the flat view and the sink, so the view
        # is built on the checkpoints, not on the ingest DAG
        tables = {k: v.localCheckpoint() for k, v in tables.items()}
        # read by the sink and by every later chart and SQL query
        vista = flatview.build_vista_analisis(
            tables, catalog.select("SedeID", "Sede", "AreaAcademica")
        ).localCheckpoint()

        sinks.write_lake(self.spark, tables, lake_root)
        sinks.write_table(vista, os.path.join(lake_root, "vista_analisis"),
                          partition_by=["Anio"])
        n = tables["obras"].count()
        done = finish_run(run_row, cursor_fin=None, rows_ingested=n, notes="ok")
        sinks.write_table(done, os.path.join(lake_root, "runs"), mode="append")

        self._vista = vista
        analytics.register_views(self.spark, vista)
        return vista

    def _next_run_id(self, lake_root: str) -> int:
        p = os.path.join(lake_root, "runs")
        if not os.path.exists(p):
            return 1
        import pyspark.sql.functions as F

        prev = self.spark.read.schema(runs_schema).parquet(p)
        mx = prev.agg(F.max("RunID").alias("m")).first()["m"]
        return int(mx or 0) + 1

    # -- EP4 analytics ------------------------------------------------------

    def vista(self) -> DataFrame:
        if self._vista is None:
            raise RuntimeError("run() first (or load a lake and set vista)")
        return self._vista

    def publications_per_year(self) -> DataFrame:
        return analytics.publications_per_year(self.vista())

    def publications_per_country(self) -> DataFrame:
        return analytics.publications_per_country(self.vista())

    def publications_per_area(self) -> DataFrame:
        return analytics.publications_per_area(self.vista())

    def filtered(self, **kw) -> DataFrame:
        return analytics.apply_dashboard_filters(self.vista(), **kw)

    def runs(self, lake_root: str) -> DataFrame:
        return current_runs(
            self.spark.read.schema(runs_schema).parquet(os.path.join(lake_root, "runs"))
        )

    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)
