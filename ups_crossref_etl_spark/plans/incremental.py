"""Incremental multi-run ingest — the reference's operational model
("run 4-5 times until the window is fully captured", docs §A-tomar-en-
cuenta) as lake appends.

One rule makes an append: a work already in the lake is skipped before any
of its mentions is resolved, as the reference probes each DOI against
``Obras`` before its author loop (:596-601). ``ingest(existing=...)`` does
it with one anti-join on the lake's ``obras.DOI``. Re-resolving a stored
work is not idempotent (the seeded replay can map a re-fetched mention to
another author than the first run did), so no later merge could repair
it. Works the P7 gate rejected are not in ``obras`` and are re-probed, as
in the reference; that changes no table, since they never reach the
bridge tables and every name and ORCID they carry already exists.

- ``obras`` / ``obra_tema`` / ``obra_autor_afiliacion``: K3 insert-or-
  ignore is a union — no new row's DOI is in the lake.
- ``autores``: the new run's table. Resolution is seeded with the
  existing table (``entities.resolve_authors(seed_autores=...)``), so it
  returns every existing author with its first-seen NombreLimpio (K4) and
  backfilled ORCID, plus the new ones; a known ORCID under a new spelling
  maps to the existing author, as the reference's DB probe does.
- ``afiliaciones``: K5/K6 monotone merge — CadenaLiteral/first-fill wins,
  EsUPS = max, country = first non-null; SedeID from the new run (the
  reference re-labels every run from the current catalog, EP2).

At 100 TB an append joins the lake once on the ``obras`` DOI column and
once on the afiliaciones key; the bridge tables are never joined.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ingest import ingest


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
    """One incremental run: transform the batch's works that are not yet
    in the lake (``max_works`` caps how many of them are accepted, as in
    ``ingest``) and add them to every table."""
    new = ingest(spark, works_raw, catalog, existing=existing, max_works=max_works)
    return {
        "obras": existing["obras"].unionByName(new["obras"]),
        "obra_tema": existing["obra_tema"].unionByName(new["obra_tema"]),
        "obra_autor_afiliacion": existing["obra_autor_afiliacion"].unionByName(
            new["obra_autor_afiliacion"]
        ),
        "autores": new["autores"],
        "afiliaciones": merge_afiliaciones(existing["afiliaciones"], new["afiliaciones"]),
    }
