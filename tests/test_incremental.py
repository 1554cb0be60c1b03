"""Incremental multi-run ingest: idempotence, insert-or-ignore growth,
ORCID backfill, cross-batch author identity via resolver seeding, and
re-fetched works skipped before their authors are resolved."""

from __future__ import annotations

import pytest

from ups_crossref_etl_spark.fixtures import UPS, _author, _dp
from ups_crossref_etl_spark.plans import flatview
from ups_crossref_etl_spark.plans.incremental import append_batch
from ups_crossref_etl_spark.plans.ingest import ingest
from ups_crossref_etl_spark.schemas import works_raw_schema
from ups_crossref_etl_spark.sources.catalog import SEED_ROWS, seed_catalog

from bibliometric_oracle import run_oracle


def _work(doi, authors, title="T"):
    return {
        "doi": doi,
        "title": [title],
        "container_title": ["J"],
        "publisher": "P",
        "type": "journal-article",
        "is_referenced_by_count": 1,
        "reference_count": 1,
        "subject": ["S"],
        "author": authors,
        "published_online": _dp(2023, 1, 1),
        "published_print": None,
        "issued": None,
        "created": None,
    }


@pytest.fixture(scope="module")
def lake(spark):
    batch1 = [
        _work(
            "10.9/a",
            [_author("Ana", "Loja", seq="first", affs=[f"{UPS}, Cuenca, Ecuador"])],
        ),
        _work(
            "10.9/b",
            [
                _author(
                    "Juan", "Paz", orcid="0000-0001-1111-2222", seq="first",
                    affs=[f"{UPS}, Quito"],
                )
            ],
        ),
    ]
    df1 = spark.createDataFrame(batch1, schema=works_raw_schema)
    tables = ingest(spark, df1, seed_catalog(spark))
    return {k: v.localCheckpoint() for k, v in tables.items()}


def test_replay_same_batch_no_growth(spark, lake):
    batch1_again = spark.createDataFrame(
        [
            _work(
                "10.9/a",
                [_author("Ana", "Loja", seq="first", affs=[f"{UPS}, Cuenca, Ecuador"])],
            )
        ],
        schema=works_raw_schema,
    )
    merged = append_batch(spark, lake, batch1_again, seed_catalog(spark))
    assert merged["obras"].count() == lake["obras"].count()
    assert merged["autores"].count() == lake["autores"].count()
    assert merged["obra_autor_afiliacion"].count() == lake["obra_autor_afiliacion"].count()


def test_new_work_appends_and_orcid_backfills(spark, lake):
    batch2 = spark.createDataFrame(
        [
            _work(
                "10.9/c",
                [
                    # same person as batch1's Ana Loja, now with an ORCID
                    # and another spelling → existing row must backfill, not
                    # duplicate, and keep its first-seen NombreLimpio (K4)
                    _author(
                        "ANA", "LOJA", orcid="0000-0002-9999-0000", seq="first",
                        affs=[f"{UPS}, Cuenca, Ecuador"],
                    )
                ],
            )
        ],
        schema=works_raw_schema,
    )
    merged = append_batch(spark, lake, batch2, seed_catalog(spark))
    assert merged["obras"].count() == lake["obras"].count() + 1
    autores = {r["NombreBusqueda"]: r for r in merged["autores"].collect()}
    assert len(autores) == 2  # no duplicate Ana
    assert autores["ana loja"]["Orcid"] == "0000-0002-9999-0000"
    assert autores["ana loja"]["NombreLimpio"] == "Ana Loja"
    # AutorID unchanged → old OAA rows still join
    old = {r["NombreBusqueda"]: r["AutorID"] for r in lake["autores"].collect()}
    assert autores["ana loja"]["AutorID"] == old["ana loja"]


def test_known_orcid_under_new_spelling_maps_to_existing_author(spark, lake):
    batch2 = spark.createDataFrame(
        [
            _work(
                "10.9/d",
                [
                    # Juan Paz's ORCID under a different spelling: must map
                    # to the existing author (reference probes by ORCID first)
                    _author(
                        "J.", "Paz Rivera", orcid="0000-0001-1111-2222", seq="first",
                        affs=[f"{UPS}, Quito"],
                    )
                ],
            )
        ],
        schema=works_raw_schema,
    )
    merged = append_batch(spark, lake, batch2, seed_catalog(spark))
    autores = merged["autores"].collect()
    assert len(autores) == 2  # no new author row
    # the new OAA row references Juan's existing AutorID
    juan_id = next(r["AutorID"] for r in autores if r["NombreBusqueda"] == "juan paz")
    oaa_d = [
        r for r in merged["obra_autor_afiliacion"].collect() if r["DOI"] == "10.9/d"
    ]
    assert len(oaa_d) == 1 and oaa_d[0]["AutorID"] == juan_id


def test_affiliation_monotone_merge(spark, lake):
    # existing UPS Cuenca affiliation re-observed → still one row, EsUPS=1
    batch2 = spark.createDataFrame(
        [
            _work(
                "10.9/e",
                [_author("Eva", "Sol", seq="first", affs=[f"{UPS}, Cuenca, Ecuador"])],
            )
        ],
        schema=works_raw_schema,
    )
    merged = append_batch(spark, lake, batch2, seed_catalog(spark))
    affs = [
        r
        for r in merged["afiliaciones"].collect()
        if "cuenca" in r["AfiliacionBusqueda"]
    ]
    assert len(affs) == 1
    assert affs[0]["EsUPS"] == 1 and affs[0]["SedeID"] == 1
    assert affs[0]["CountryCode"] == "EC"


def test_refetched_work_keeps_its_authors(spark):
    """A work already in the lake is skipped before its mentions are
    resolved, as the reference's DOI probe skips it. Resolving it again
    would map 10.9/b's J. Smith (ORCID o1) to José Smith, whom o1 has
    identified since 10.9/c, and credit the work to both of them."""
    ups = [f"{UPS}, Cuenca, Ecuador"]
    o1, o2 = "0000-0001-0000-0001", "0000-0001-0000-0002"
    batch_a = [
        _work("10.9/a", [_author("J.", "Smith", orcid=o2, seq="first", affs=ups)]),
        _work("10.9/b", [_author("J.", "Smith", orcid=o1, seq="first", affs=ups)]),
        _work("10.9/c", [_author("José", "Smith", orcid=o1, seq="first", affs=ups)]),
    ]
    batch_b = [batch_a[1]]
    catalog = seed_catalog(spark)
    lake = ingest(spark, spark.createDataFrame(batch_a, schema=works_raw_schema), catalog)
    lake = {k: v.localCheckpoint() for k, v in lake.items()}
    merged = append_batch(
        spark, lake, spark.createDataFrame(batch_b, schema=works_raw_schema), catalog
    )
    vista = flatview.build_vista_analisis(
        merged, catalog.select("SedeID", "Sede", "AreaAcademica")
    )
    want = run_oracle(batch_a + batch_b, SEED_ROWS)
    assert {(r["DOI"], r["Autores"]) for r in vista.collect()} == {
        (v["DOI"], v["Autores"]) for v in want["vista"]
    }
    assert merged["obra_autor_afiliacion"].count() == len(want["oaa"])
