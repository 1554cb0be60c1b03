"""Incremental multi-run ingest — the reference's operational model
("run 4-5 times until the window is fully captured", docs §A-tomar-en-
cuenta) as idempotent lake merges.

Per-table semantics (all batch-side, no in-place mutation):

- ``obras`` / ``obra_tema`` / ``obra_autor_afiliacion``: INSERT OR IGNORE
  (K3) → anti-join the new batch against existing PKs, append.
- ``autores``: K4 upsert — existing rows win (first-seen NombreLimpio),
  missing ORCIDs backfill from the new batch; genuinely-new authors
  append. Cross-run identity continuity comes from seeding the resolver
  with the existing table (see ``entities.resolve_authors(seed=...)``),
  so a mention of a known ORCID under a new spelling maps to the existing
  author, exactly like the reference's DB probe.
- ``afiliaciones``: K5/K6 monotone merge — CadenaLiteral/first-fill wins,
  EsUPS = max, country = first non-null; SedeID from the new run (the
  reference re-labels every run from the current catalog, EP2).

At 100 TB each merge is one anti-join or full-outer join on the natural
key — the same shuffle an append would need anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ingest import ingest


def merge_insert_ignore(existing: DataFrame, new: DataFrame, keys: list[str]) -> DataFrame:
    return existing.unionByName(new.join(existing.select(*keys), keys, "left_anti"))


def merge_autores(existing: DataFrame, new: DataFrame) -> DataFrame:
    ex = existing.alias("e")
    nw = new.alias("n")
    merged = (
        ex.join(nw, F.col("e.NombreBusqueda") == F.col("n.NombreBusqueda"), "left")
        .select(
            F.col("e.AutorID").alias("AutorID"),
            F.col("e.NombreLimpio").alias("NombreLimpio"),
            F.col("e.NombreBusqueda").alias("NombreBusqueda"),
            F.coalesce(F.col("e.Orcid"), F.col("n.Orcid")).alias("Orcid"),  # backfill
        )
    )
    appended = new.join(existing.select("NombreBusqueda"), "NombreBusqueda", "left_anti")
    return merged.unionByName(appended.select("AutorID", "NombreLimpio", "NombreBusqueda", "Orcid"))


def merge_afiliaciones(existing: DataFrame, new: DataFrame) -> DataFrame:
    ex = existing.alias("e")
    nw = new.alias("n")
    key = F.col("e.AfiliacionBusqueda") == F.col("n.AfiliacionBusqueda")
    merged = ex.join(nw, key, "left").select(
        F.col("e.AfiliacionID").alias("AfiliacionID"),
        F.col("e.CadenaLiteral").alias("CadenaLiteral"),  # first-seen wins
        F.col("e.AfiliacionBusqueda").alias("AfiliacionBusqueda"),
        F.coalesce(F.col("n.SedeID"), F.col("e.SedeID")).alias("SedeID"),  # re-labeled
        F.coalesce(F.col("e.CountryCode"), F.col("n.CountryCode")).alias("CountryCode"),
        F.coalesce(F.col("e.CountryName"), F.col("n.CountryName")).alias("CountryName"),
        F.greatest(
            F.col("e.EsUPS"), F.coalesce(F.col("n.EsUPS"), F.lit(0))
        ).alias("EsUPS"),  # monotone 0→1
    )
    appended = new.join(
        existing.select("AfiliacionBusqueda"), "AfiliacionBusqueda", "left_anti"
    )
    return merged.unionByName(appended.select(*merged.columns))


def append_batch(
    spark: SparkSession,
    existing: dict[str, DataFrame],
    works_raw: DataFrame,
    catalog: DataFrame,
    max_works: int | None = None,
) -> dict[str, DataFrame]:
    """One incremental run: transform the new batch (seeding author
    resolution with the existing ``autores``; ``max_works`` caps the
    batch's accepted works as in ``ingest``) and merge every table."""
    new = ingest(spark, works_raw, catalog, seed_autores=existing.get("autores"),
                 max_works=max_works)
    return {
        "obras": merge_insert_ignore(existing["obras"], new["obras"], ["DOI"]),
        "obra_tema": merge_insert_ignore(
            existing["obra_tema"], new["obra_tema"], ["DOI", "Tema"]
        ),
        "obra_autor_afiliacion": merge_insert_ignore(
            existing["obra_autor_afiliacion"],
            new["obra_autor_afiliacion"],
            ["DOI", "AutorID", "AfiliacionID"],
        ),
        "autores": merge_autores(existing["autores"], new["autores"]),
        "afiliaciones": merge_afiliaciones(existing["afiliaciones"], new["afiliaciones"]),
    }
