"""EP3 — flat analytics view (reference ``pandas_cleanup_and_flatview``
:445-533, transliterated to DataFrames).

Stages: enrichment join chain (J1) → groupBy(DOI) sorted-set aggregates
(A1/A2) → ``vista_analisis`` (K8), read straight from the five lake tables.

Semantic decisions (each deliberate):
- The reference's ``*_clean`` stage (:472-495: renormalize, coerce,
  dedup, P9/J9 integrity filters) is not a stage here. The reference
  needs it because its SQLite tables grow through per-item upserts. The
  lake tables are unique by key and referentially closed by construction:
  ``ingest`` keeps one row per DOI, ends the bridge tables in ``distinct``
  and groups the entity tables by their natural keys; every bridge DOI
  passes the same P7 gate and ``max_works`` cap as ``obras``; every
  AutorID/AfiliacionID is hashed from a key its entity table is built
  from; and the ``plans/incremental.py`` merges keep all of that.
- The reference's second normalization pass is NOT replicated: DOI
  standardization and ``html.unescape`` are not idempotent
  ("&amp;amp;" → "&amp;" → "&"), so a second pass would make the view
  drift from ``obras``.

Scale: the J1 chain broadcasts autores/afiliaciones/sedes when small; at
100 TB the OAA fact shuffles once on DOI for the A1 group-back — the same
key the J2 join needs, so Catalyst reuses the exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def build_vista_analisis(
    tables: dict[str, DataFrame], sedes_areas: DataFrame
) -> DataFrame:
    """J1 chain + A1/A2 aggregates over the lake tables → the denormalized
    analytics table (:505-531). Multi-valued columns are '; '-joined sorted
    sets — set semantics and codepoint sort are load-bearing for oracle
    hashing."""
    oaa = tables["obra_autor_afiliacion"]
    autores = tables["autores"].select("AutorID", "NombreLimpio")
    afi = tables["afiliaciones"].select(
        "AfiliacionID", "CadenaLiteral", "SedeID", "CountryCode", "CountryName", "EsUPS"
    )
    sedes = sedes_areas.select("SedeID", "Sede", "AreaAcademica")

    joined = (
        oaa.join(F.broadcast(autores), "AutorID", "left")
        .join(F.broadcast(afi), "AfiliacionID", "left")
        .join(F.broadcast(sedes), "SedeID", "left")
    )

    def sset(col: str, alias: str) -> F.Column:
        return F.array_join(
            F.array_sort(F.collect_set(col)), "; "
        ).alias(alias)

    flat = joined.groupBy("DOI").agg(
        sset("NombreLimpio", "Autores"),
        sset("CadenaLiteral", "Afiliaciones"),
        sset("Sede", "Sedes"),
        sset("AreaAcademica", "Areas"),
        sset("CountryName", "Paises"),
        sset("CountryCode", "PaisesCodigo"),
        F.max("EsUPS").alias("UPS_Flag"),
    )

    temas_g = tables["obra_tema"].groupBy("DOI").agg(sset("Tema", "Temas"))

    return (
        tables["obras"]
        .join(flat, "DOI", "left")  # J2
        .join(temas_g, "DOI", "left")  # J3
        .withColumn("Temas", F.coalesce("Temas", F.lit("")))  # :529 missing → ''
    )
