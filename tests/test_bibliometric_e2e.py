"""Golden end-to-end test: CrossRef-shaped fixture → full pipeline →
vista_analisis, compared against the sequential oracle (reference
semantics), plus idempotence and acceptance-query checks (SURVEY.md §5).

Comparison protocol (FIXTURES.md §3): natural-key rows, surrogate ids
excluded (relationships joined through natural keys). Items are fed to the
oracle in canonical order — the same order the engine's deterministic
tie-breaks encode — which pins the reference's order-dependent rules.
"""

from __future__ import annotations

import pytest


from ups_crossref_etl_spark.plans import analytics, flatview
from ups_crossref_etl_spark.plans.ingest import ingest
from ups_crossref_etl_spark.schemas import works_raw_schema
from ups_crossref_etl_spark.sources.catalog import SEED_ROWS, seed_catalog

from bibliometric_fixture import UPS, make_works
from bibliometric_oracle import (  # noqa: F401 (author_name re-exported for debugging)
    author_name,
    norm_nfc,
    run_oracle,
    std_doi,
    year_any,
)


def canonical_key(it):
    """Mirror of the engine's duplicate-DOI tie-break (normalize_works:
    window ordered by Titulo, Anio, Revista, Editorial, Tipo, Citas,
    Referencias — asc, nulls first)."""

    def nf(v):
        return (v is not None, v)

    return (
        std_doi(it.get("doi")) or "",
        norm_nfc("; ".join(it.get("title") or [])),
        nf(year_any(it)),
        norm_nfc("; ".join(it.get("container_title") or [])),
        norm_nfc(it.get("publisher")),
        nf(it.get("type")),
        it.get("is_referenced_by_count") or 0,
        it.get("reference_count") or 0,
    )


@pytest.fixture(scope="module")
def pipeline(spark):
    items = sorted(make_works(), key=canonical_key)
    works_raw = spark.createDataFrame(items, schema=works_raw_schema)
    catalog = seed_catalog(spark)
    tables = ingest(spark, works_raw, catalog)
    tables = {k: v.cache() for k, v in tables.items()}
    sedes_areas = catalog.select("SedeID", "Sede", "AreaAcademica")
    vista = flatview.build_vista_analisis(tables, sedes_areas).cache()
    expected = run_oracle(items, SEED_ROWS)
    return tables, vista, expected


def test_obras_match(pipeline):
    tables, _, exp = pipeline
    got = {
        tuple(r[c] for c in ("DOI", "Titulo", "Anio", "Revista", "Editorial",
                             "Tipo", "Citas", "Referencias", "FechaPublicacion"))
        for r in tables["obras"].collect()
    }
    want = {
        tuple(o[c] for c in ("DOI", "Titulo", "Anio", "Revista", "Editorial",
                             "Tipo", "Citas", "Referencias", "FechaPublicacion"))
        for o in exp["obras"]
    }
    assert got == want


def test_autores_match(pipeline):
    tables, _, exp = pipeline
    got = {
        (r["NombreBusqueda"], r["NombreLimpio"], r["Orcid"])
        for r in tables["autores"].collect()
    }
    want = {(a["NombreBusqueda"], a["NombreLimpio"], a["Orcid"]) for a in exp["autores"]}
    assert got == want


def test_afiliaciones_match(pipeline):
    tables, _, exp = pipeline
    cols = ("AfiliacionBusqueda", "CadenaLiteral", "SedeID", "CountryCode",
            "CountryName", "EsUPS")
    got = {tuple(r[c] for c in cols) for r in tables["afiliaciones"].collect()}
    want = {tuple(a[c] for c in cols) for a in exp["afiliaciones"]}
    assert got == want


def test_oaa_match(pipeline):
    tables, _, exp = pipeline
    oaa = (
        tables["obra_autor_afiliacion"]
        .join(tables["autores"].select("AutorID", "NombreBusqueda"), "AutorID")
        .join(
            tables["afiliaciones"].select("AfiliacionID", "AfiliacionBusqueda"),
            "AfiliacionID",
        )
    )
    got = {
        (r["DOI"], r["NombreBusqueda"], r["AfiliacionBusqueda"], r["AutorSecuencia"])
        for r in oaa.collect()
    }
    assert got == set(exp["oaa"])


def test_obra_tema_match(pipeline):
    tables, _, exp = pipeline
    got = {(r["DOI"], r["Tema"]) for r in tables["obra_tema"].collect()}
    assert got == set(exp["obra_tema"])


def test_vista_match(pipeline):
    _, vista, exp = pipeline
    cols = ("DOI", "Titulo", "Anio", "Revista", "Editorial", "Tipo", "Citas",
            "Referencias", "FechaPublicacion", "Autores", "Afiliaciones",
            "Sedes", "Areas", "Paises", "PaisesCodigo", "UPS_Flag", "Temas")
    got = {r["DOI"]: tuple(r[c] for c in cols) for r in vista.collect()}
    want = {v["DOI"]: tuple(v[c] for c in cols) for v in exp["vista"]}
    assert set(got) == set(want)
    for doi in want:
        assert got[doi] == want[doi], f"vista mismatch for {doi}"


def test_vista_single_normalization_pass(spark):
    """The flat view reads the lake tables as ingest wrote them. A
    double-escaped title/publisher keeps one escape level and a
    double-prefixed DOI keeps one prefix, exactly as in ``obras`` and the
    oracle; a second normalization pass would unescape and strip again,
    and the bridge rows of the second work would then lose their DOI."""
    ups = f"{UPS}, Cuenca, Ecuador"
    items = [
        {"doi": "10.9/a", "title": ["A &amp;amp; B"], "publisher": "X &amp;amp; Y",
         "type": "journal-article",
         "author": [{"given": "Ana", "family": "Loja", "affiliation": [{"name": ups}]}]},
        {"doi": "https://doi.org/https://doi.org/10.9/b", "title": ["Plain"],
         "publisher": "P", "type": "journal-article",
         "author": [{"given": "Ana", "family": "Loja", "affiliation": [{"name": ups}]}]},
    ]
    catalog = seed_catalog(spark)
    tables = ingest(spark, spark.createDataFrame(items, schema=works_raw_schema), catalog)
    vista = flatview.build_vista_analisis(
        tables, catalog.select("SedeID", "Sede", "AreaAcademica")
    )
    cols = ("DOI", "Titulo", "Editorial", "Autores", "Afiliaciones", "Sedes", "Areas",
            "Paises", "PaisesCodigo", "UPS_Flag", "Temas")
    got = {tuple(r[c] for c in cols) for r in vista.collect()}
    want = {tuple(v[c] for c in cols) for v in run_oracle(items, SEED_ROWS)["vista"]}
    assert got == want


def test_acceptance_charts(pipeline):
    _, vista, exp = pipeline
    # A6 per-year
    got_year = {r["Anio"]: r["n"] for r in analytics.publications_per_year(vista).collect()}
    want_year: dict[int, int] = {}
    for v in exp["vista"]:
        if v["Anio"] is not None:
            want_year[v["Anio"]] = want_year.get(v["Anio"], 0) + 1
    assert got_year == want_year

    # A7 per collaborating country (non-EC, multi-counted)
    got_cc = {r["cc"]: r["n"] for r in analytics.publications_per_country(vista).collect()}
    want_cc: dict[str, int] = {}
    for v in exp["vista"]:
        for cc in v["PaisesCodigo"].split("; "):
            if cc and cc != "EC":
                want_cc[cc] = want_cc.get(cc, 0) + 1
    assert got_cc == want_cc

    # A8 per area
    got_area = {r["area"]: r["n"] for r in analytics.publications_per_area(vista).collect()}
    want_area: dict[str, int] = {}
    for v in exp["vista"]:
        for a in v["Areas"].split("; "):
            if a:
                want_area[a] = want_area.get(a, 0) + 1
    assert got_area == want_area


def test_dashboard_filters(pipeline):
    _, vista, _ = pipeline
    f = analytics.apply_dashboard_filters(
        vista, year_from=2023, year_to=2024, area="Ciencias de la Vida"
    )
    rows = f.collect()
    for r in rows:
        assert 2023 <= r["Anio"] <= 2024
        assert "Ciencias de la Vida" in r["Areas"].split("; ")


def test_idempotence(spark, pipeline):
    """Reference property #2 (SURVEY §5): re-running over the same input
    must not grow the tables. Union the fixture with itself → identical
    output row counts."""
    tables, _, exp = pipeline
    items = sorted(make_works(), key=canonical_key)
    works_raw = spark.createDataFrame(items + items, schema=works_raw_schema)
    tables2 = ingest(spark, works_raw, seed_catalog(spark))
    assert tables2["obras"].count() == tables["obras"].count()
    assert tables2["autores"].count() == tables["autores"].count()
    assert tables2["obra_autor_afiliacion"].count() == tables["obra_autor_afiliacion"].count()


def test_sql_views(spark, pipeline):
    _, vista, _ = pipeline
    analytics.register_views(spark, vista)
    n = spark.sql(
        "SELECT valor, count(*) AS n FROM vista_paises WHERE valor <> 'EC' GROUP BY valor"
    ).count()
    assert n > 0
