"""Bibliometric-pipeline queries for the driver's gate.

The sf_dir tables don't carry the bibliometric domain, so these queries
run the FULL pipeline (ingest → entity resolution → catalog labeling →
flat view → charts) over the package's deterministic fixture
(``ups_crossref_etl_spark.fixtures``) and compare against VALUES-pinned
oracle constants. The constants were produced by the independent
sequential oracle (tests/bibliometric_oracle.py — a faithful replay of the
reference's per-item semantics) and are additionally re-derived on every
pytest run (tests/test_bibliometric_e2e.py); the driver's check therefore
verifies the distributed pipeline reproduces the reference semantics
end-to-end, not merely that it is self-consistent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fixtures import make_works
from ..schemas import works_raw_schema
from ..sources.catalog import seed_catalog
from .registry import register

_CACHE: dict[str, object] = {}


def _tables(spark: SparkSession) -> dict[str, DataFrame]:
    """Ingest the fixture once per session into the five lake tables,
    each materialized by a local checkpoint (every query below reads
    them)."""
    key = f"tables-{id(spark)}"  # cache is session-scoped: checkpointed DFs die with it
    if key not in _CACHE:
        from .ingest import ingest

        works_raw = spark.createDataFrame(make_works(), schema=works_raw_schema)
        tables = ingest(spark, works_raw, seed_catalog(spark))
        _CACHE[key] = {k: v.localCheckpoint() for k, v in tables.items()}
    return _CACHE[key]


def _vista(spark: SparkSession) -> DataFrame:
    """Build (once per session) the vista_analisis for the fixture."""
    key = f"vista-{id(spark)}"
    if key not in _CACHE:
        from .flatview import build_vista_analisis

        sedes_areas = seed_catalog(spark).select("SedeID", "Sede", "AreaAcademica")
        _CACHE[key] = build_vista_analisis(_tables(spark), sedes_areas).localCheckpoint()
    return _CACHE[key]


@register(
    "q_biblio_publications_per_year",
    """
    SELECT * FROM (VALUES (2021, CAST(4 AS BIGINT)), (2022, 24), (2023, 29),
                          (2024, 19), (2025, 18)) AS t(Anio, n)
    """,
    doc="A6 chart over the full pipeline; oracle = sequential-replay constants.",
)
def q_biblio_publications_per_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .analytics import publications_per_year

    return publications_per_year(_vista(spark)).select(
        F.col("Anio").cast("int").alias("Anio"), F.col("n")
    )


@register(
    "q_biblio_publications_per_country",
    """
    SELECT * FROM (VALUES ('BR', CAST(17 AS BIGINT)), ('CN', 17), ('CO', 26),
                          ('ES', 24), ('IT', 20), ('PE', 27), ('US', 23)) AS t(cc, n)
    """,
    doc="A7 chart (non-EC collaborating countries, multi-counted).",
)
def q_biblio_publications_per_country(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .analytics import publications_per_country

    return publications_per_country(_vista(spark))


@register(
    "q_biblio_publications_per_area",
    """
    SELECT * FROM (VALUES ('Ciencias Sociales y Humanas', CAST(22 AS BIGINT)),
                          ('Ciencias de la Vida', 52),
                          ('Ingenierías y Arquitectura', 16),
                          ('No definida', 76)) AS t(area, n)
    """,
    doc="A8 chart (knowledge areas, multi-counted).",
)
def q_biblio_publications_per_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .analytics import publications_per_area

    return publications_per_area(_vista(spark))


@register(
    "q_biblio_table_counts",
    """
    SELECT CAST(95 AS BIGINT) AS n_obras, CAST(79 AS BIGINT) AS n_temas,
           CAST(283 AS BIGINT) AS n_oaa, CAST(95 AS BIGINT) AS n_vista
    """,
    doc=(
        "Pipeline table cardinalities (gate + dedup); n_oaa counts the lake "
        "bridge table itself, which is referentially closed by construction."
    ),
)
def q_biblio_table_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    tables = _tables(spark)
    return (
        tables["obras"].agg(F.count(F.lit(1)).alias("n_obras"))
        .crossJoin(tables["obra_tema"].agg(F.count(F.lit(1)).alias("n_temas")))
        .crossJoin(
            tables["obra_autor_afiliacion"].agg(F.count(F.lit(1)).alias("n_oaa"))
        )
        .crossJoin(_vista(spark).agg(F.count(F.lit(1)).alias("n_vista")))
    )


@register(
    "q_biblio_dashboard_filtered",
    """
    SELECT CAST(29 AS BIGINT) AS n_2023
    """,
    doc="Dashboard filter parity: year-range filter on vista.",
)
def q_biblio_dashboard_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .analytics import apply_dashboard_filters

    f = apply_dashboard_filters(_vista(spark), year_from=2023, year_to=2023)
    return f.agg(F.count(F.lit(1)).alias("n_2023"))


@register(
    "q_biblio_afiliaciones_table",
    """
    SELECT * FROM (VALUES
      ('grupo gihp4c, universidad politecnica salesiana, cuenca, ecuador', 1, 'EC', 'Ecuador', 1),
      ('instituto ecuador-espana de madrid, spain', 4, 'EC', 'Ecuador', 0),
      ('mit, usa', 4, 'US', 'United States', 0),
      ('nanjing university, china', 4, 'CN', 'China', 0),
      ('politecnico di milano, italy', 4, 'IT', 'Italy', 0),
      ('pontificia universidad catolica del peru, peru', 4, 'PE', 'Peru', 0),
      ('tsinghua university, china', 4, 'CN', 'China', 0),
      ('universidad de cuenca, ecuador', 1, 'EC', 'Ecuador', 0),
      ('universidad de granada, spain', 4, 'ES', 'Spain', 0),
      ('universidad nacional de colombia, colombia', 4, 'CO', 'Colombia', 0),
      ('universidad politecnica salesiana', 4, 'EC', 'Ecuador', 1),
      ('universidad politecnica salesiana - cuenca', 1, 'EC', 'Ecuador', 1),
      ('universidad politecnica salesiana sede guayaquil', 3, 'EC', 'Ecuador', 1),
      ('universidad politecnica salesiana, cuenca, ecuador', 1, 'EC', 'Ecuador', 1),
      ('universidad politecnica salesiana, guayaquil, ecuador', 3, 'EC', 'Ecuador', 1),
      ('universidad politecnica salesiana, quito', 2, 'EC', 'Ecuador', 1),
      ('universidad politecnica salesiana, quito, ecuador', 2, 'EC', 'Ecuador', 1),
      ('universidade de sao paulo, brazil', 4, 'BR', 'Brazil', 0),
      ('universite de paris, france', 4, 'FR', 'France', 0))
    AS t(AfiliacionBusqueda, SedeID, CountryCode, CountryName, EsUPS)
    """,
    doc=(
        "Full afiliaciones table pinned row-by-row: entity dedup, J4 "
        "first-match country (ecuador-espana -> EC), J5 keyword labeling "
        "(non-UPS 'universidad de cuenca' -> SedeID 1), K6 monotone EsUPS."
    ),
)
def q_biblio_afiliaciones_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tables(spark)["afiliaciones"].select(
        "AfiliacionBusqueda", "SedeID", "CountryCode", "CountryName", "EsUPS"
    )


@register(
    "q_biblio_autores_digest",
    """
    SELECT CAST(70 AS BIGINT) AS n_autores,
           CAST(60 AS BIGINT) AS n_with_orcid,
           'bdb88ac8628d1c9c919dbbe533452577' AS digest
    """,
    doc=(
        "Author entity resolution digest: row count, ORCID coverage, and "
        "md5 over the sorted (busqueda, limpio, orcid) triples — pins the "
        "connected-component + sequential-replay resolution end to end."
    ),
)
def q_biblio_autores_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    triple = F.concat_ws(
        ";", "NombreBusqueda", "NombreLimpio", F.coalesce("Orcid", F.lit(""))
    )
    return _tables(spark)["autores"].agg(
        F.count(F.lit(1)).alias("n_autores"),
        F.count("Orcid").alias("n_with_orcid"),
        F.md5(
            F.to_binary(
                F.array_join(F.array_sort(F.collect_list(triple)), "|"), F.lit("utf-8")
            )
        ).alias("digest"),
    )


@register(
    "q_biblio_dashboard_filter_combos",
    """
    SELECT CAST(17 AS BIGINT) AS n_tipo_sede, CAST(12 AS BIGINT) AS n_year_area
    """,
    doc="Dashboard filter combos (docs §2.4): Tipo+Sede and year-range+Area.",
)
def q_biblio_dashboard_filter_combos(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .analytics import apply_dashboard_filters

    v = _vista(spark)
    a = apply_dashboard_filters(v, tipo="journal-article", sede="Sede Cuenca").agg(
        F.count(F.lit(1)).alias("n_tipo_sede")
    )
    b = apply_dashboard_filters(
        v, year_from=2022, year_to=2024, area="Ingenierías y Arquitectura"
    ).agg(F.count(F.lit(1)).alias("n_year_area"))
    return a.crossJoin(b)
