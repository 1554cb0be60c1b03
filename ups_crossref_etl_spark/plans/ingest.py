"""EP1 — ingest transform: nested ``works_raw`` → relational tables.

Re-expresses the reference's per-item imperative loop
(``src/barrazueta_pipeline_etl_crossref.py:536-743``) as one declarative
DAG: select/filter (F3-F6, P4-P6) → explode(author) → explode(affiliation)
→ enrichment joins (J4 country patterns, J5 catalog keywords) → group-backs
(A4 sequence/affiliation sets, J6/J7 entity resolution) → P7 UPS gate →
table outputs. Catalyst handles pushdown/pruning; the only shuffles are the
groupBys on doi/author-key/affiliation-key and the pattern joins broadcast.

Semantic decisions (SURVEY.md §7.4, each deliberate):
- Surrogate ids are ``xxhash64`` of the natural key (not AUTOINCREMENT) —
  ids differ from the reference; relationship sets match.
- J5 keyword labeling: max matching SedeID (replicates the reference's
  last-writer-wins UPDATE loop over the ascending-SedeID catalog).
- The reference's ``nan``-keyword bug (§7.4.3) is intentionally NOT
  replicated: empty keyword lists stay empty.
- J4 country: first match in pattern-priority order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import functions as fx

UPS_TARGET = "Universidad Politécnica Salesiana"

# F8/J4: COUNTRY_PATTERNS (reference :167-185) as a priority-ordered
# pattern table — first match in dict order wins, encoded as min(priority).
# Mirrors the reference dict: membership, iteration order, and English
# display names. One deliberate divergence: matching happens on
# NFKD-de-accented lowered text (reference :105-112 strips combining marks
# the same way), so the reference's accented alternates (españa, perú,
# méxico, canadá, japón) are DEAD there — they can never match the
# normalized input. We carry them de-accented ('espana', 'japon', …)
# instead, which DOES match the text the normalizer emits. This is an
# intentional fix of the reference's dead alternates, not identical
# behavior: inputs like "Universidad de España" classify here but return
# no country in the reference.
COUNTRY_PATTERNS: list[tuple[str, str, str]] = [
    ("EC", "Ecuador", r"ecuador"),
    ("ES", "Spain", r"spain|espana"),
    ("PE", "Peru", r"peru"),
    ("CO", "Colombia", r"colombia"),
    ("CL", "Chile", r"chile"),
    ("AR", "Argentina", r"argentina"),
    ("MX", "Mexico", r"mexico"),
    ("BR", "Brazil", r"brazil|brasil"),
    ("US", "United States", r"united states|usa|u\.s\.a\.|u\.s\.|estados unidos"),
    ("CA", "Canada", r"canada"),
    ("GB", "United Kingdom", r"united kingdom|uk|u\.k\.|inglaterra|reino unido"),
    ("FR", "France", r"france|francia"),
    ("DE", "Germany", r"germany|alemania"),
    ("IT", "Italy", r"italy|italia"),
    ("CN", "China", r"china"),
    ("JP", "Japan", r"japan|japon"),
]


def country_pattern_df(spark: SparkSession) -> DataFrame:
    """16-row broadcastable pattern table with explicit priority."""
    rows = [
        (i, cc, name, r"\b(" + pat + r")\b")
        for i, (cc, name, pat) in enumerate(COUNTRY_PATTERNS)
    ]
    return spark.createDataFrame(
        rows, schema="priority int, cc string, country string, pattern string"
    )


def normalize_works(works_raw: DataFrame) -> DataFrame:
    """Work-level projection: F3 doi, F1 text fields, F4 year, F5 date.

    Duplicate DOIs within the batch are resolved deterministically (min by
    the full normalized tuple — a distributed stand-in for the reference's
    first-seen ``seen_dois`` set, :542,596)."""
    w = works_raw.select(
        fx.standardize_doi(F.col("doi")).alias("DOI"),
        fx.norm_text_nfc(fx.join_str_array(F.col("title"))).alias("Titulo"),
        fx.extract_year_any(works_raw).alias("Anio"),
        fx.norm_text_nfc(fx.join_str_array(F.col("container_title"))).alias("Revista"),
        fx.norm_text_nfc(F.col("publisher")).alias("Editorial"),
        F.col("type").alias("Tipo"),
        fx.default_zero(F.col("is_referenced_by_count")).cast("bigint").alias("Citas"),
        fx.default_zero(F.col("reference_count")).cast("bigint").alias("Referencias"),
        fx.extract_date_iso(works_raw).alias("FechaPublicacion"),
        F.col("subject"),
        F.col("author"),
    ).filter(F.col("DOI").isNotNull())  # P4 empty-DOI guard (:596)
    dedup_w = Window.partitionBy("DOI").orderBy(
        "Titulo", "Anio", "Revista", "Editorial", "Tipo", "Citas", "Referencias"
    )
    return w.withColumn("_rn", F.row_number().over(dedup_w)).filter(F.col("_rn") == 1).drop(
        "_rn"
    )


def explode_author_affiliations(works: DataFrame) -> DataFrame:
    """One row per (work, author occurrence, affiliation occurrence), with
    normalized names, UPS predicate P6, and sede classification F13.

    Authors without any affiliation are dropped (reference ``if aff_ids:``
    :653 — they never reach the bridge table)."""
    authors = works.select(
        "DOI",
        F.posexplode("author").alias("author_pos", "a"),
    ).select(
        "DOI",
        "author_pos",
        fx.author_full_name(
            F.col("a.given"), F.col("a.family"), F.col("a.name")
        ).alias("_raw_name"),
        fx.strip_orcid_url(F.col("a.ORCID")).alias("orcid"),
        F.coalesce(F.col("a.sequence"), F.lit("additional")).alias("seq"),
        F.col("a.affiliation").alias("affs"),
    )
    authors = authors.select(
        "*",
        fx.norm_text_nfc(F.col("_raw_name")).alias("NombreLimpio"),
        fx.norm_text_nfkd_lower(F.col("_raw_name")).alias("name_norm"),
    ).filter(F.col("name_norm") != "")  # P4 empty-name guard (:611-612)

    affs = authors.select(
        "DOI",
        "author_pos",
        "NombreLimpio",
        "name_norm",
        "orcid",
        "seq",
        F.posexplode("affs").alias("aff_pos", "aff"),
    ).select(
        "*",
        fx.norm_text_nfc(F.col("aff.name")).alias("aff_literal"),
        fx.norm_text_nfkd_lower(F.col("aff.name")).alias("aff_norm"),
    ).filter(F.col("aff_norm") != "")  # P4 empty-affiliation guard (:618-620)

    ups_target_norm = UPS_TARGET  # normalized at plan build below
    import html
    import unicodedata

    t = unicodedata.normalize("NFKD", html.unescape(ups_target_norm))
    t = "".join(ch for ch in t if not unicodedata.combining(ch)).lower()
    is_ups = F.col("aff_norm").contains(F.lit(t))  # P6 (:625-629)

    return affs.select(
        "DOI",
        "author_pos",
        "aff_pos",
        "NombreLimpio",
        "name_norm",
        "orcid",
        "seq",
        "aff_literal",
        "aff_norm",
        is_ups.cast("int").alias("es_ups"),
        fx.classify_sede(F.col("aff_norm"), is_ups).alias("sede_ingest"),
    )


def tag_countries(aff_rows: DataFrame, patterns: DataFrame) -> DataFrame:
    """J4: first-matching country pattern per affiliation string.

    Broadcast theta-join on rlike + min(priority) keeps dict-order-first
    semantics; UPS affiliations with no match default to EC (:644-645)."""
    joined = aff_rows.select("aff_norm").distinct().join(
        F.broadcast(patterns), F.expr("rlike(aff_norm, pattern)"), "left"
    )
    w = Window.partitionBy("aff_norm").orderBy(F.col("priority").asc_nulls_last())
    first = (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("aff_norm", F.col("cc").alias("cc_match"), F.col("country").alias("country_match"))
    )
    return aff_rows.join(first, "aff_norm", "left")


def label_sedes(aff_rows: DataFrame, catalog: DataFrame) -> DataFrame:
    """J5: catalog keyword labeling — explode ';'-separated PalabrasClave,
    contains-join, max(SedeID) wins (last-writer-wins for the ascending
    catalog); unmatched falls back to ingest-time F13 value, then 4."""
    kws = (
        catalog.select(
            "SedeID",
            F.explode(F.split(F.coalesce(F.col("PalabrasClave"), F.lit("")), ";")).alias("kw"),
        )
        .select("SedeID", F.trim(F.lower("kw")).alias("kw"))
        .filter(F.col("kw") != "")  # NOT replicating the nan-keyword bug (§7.4.3)
    )
    matched = (
        aff_rows.select("aff_norm").distinct()
        .join(F.broadcast(kws), F.col("aff_norm").contains(F.col("kw")))
        .groupBy("aff_norm")
        .agg(F.max("SedeID").alias("sede_kw"))
    )
    return aff_rows.join(matched, "aff_norm", "left")


def build_afiliaciones(aff_rows: DataFrame) -> DataFrame:
    """J7/K5/K6: one row per unique ``AfiliacionBusqueda`` with monotone
    merges: EsUPS = max, country = first non-null (deterministic — the
    pattern match is a pure function of aff_norm, so every occurrence
    agrees), CadenaLiteral = first-seen literal in canonical
    (DOI, author_pos, aff_pos) order (reference K5: the insert wins, later
    occurrences only COALESCE-fill).

    AfiliacionID = xxhash64(aff_norm) — stable across runs/partitions."""
    first_lit = Window.partitionBy("aff_norm").orderBy("DOI", "author_pos", "aff_pos")
    with_lit = (
        aff_rows.withColumn("_rn", F.row_number().over(first_lit))
        .withColumn(
            "_first_literal",
            F.max(F.when(F.col("_rn") == 1, F.col("aff_literal"))).over(
                Window.partitionBy("aff_norm")
            ),
        )
        .drop("_rn")
    )
    return (
        with_lit.groupBy("aff_norm")
        .agg(
            F.first("_first_literal").alias("CadenaLiteral"),
            F.max("es_ups").alias("EsUPS"),
            F.first("cc_match", ignorenulls=True).alias("cc"),
            F.first("country_match", ignorenulls=True).alias("country"),
            F.max("sede_kw").alias("sede_kw"),
            F.max("sede_ingest").alias("sede_ingest"),
        )
        .select(
            F.xxhash64("aff_norm").alias("AfiliacionID"),
            "CadenaLiteral",
            F.col("aff_norm").alias("AfiliacionBusqueda"),
            F.coalesce("sede_kw", "sede_ingest", F.lit(4)).cast("int").alias("SedeID"),
            F.coalesce(
                F.col("cc"), F.when(F.col("EsUPS") == 1, F.lit("EC"))
            ).alias("CountryCode"),
            F.coalesce(
                F.col("country"), F.when(F.col("EsUPS") == 1, F.lit("Ecuador"))
            ).alias("CountryName"),
            F.col("EsUPS").cast("int").alias("EsUPS"),
        )
    )


def ingest(
    spark: SparkSession,
    works_raw: DataFrame,
    catalog: DataFrame,
    existing: dict[str, DataFrame] | None = None,
    max_works: int | None = None,
) -> dict[str, DataFrame]:
    """Full EP1: returns {obras, obra_tema, autores, afiliaciones,
    obra_autor_afiliacion} — only works passing the P7 UPS gate.
    ``existing``: the lake's tables, on an append. A work whose DOI is in
    ``existing["obras"]`` is skipped before any of its mentions is
    resolved (the reference's S6 DOI probe, :596-601), and author
    resolution is seeded with ``existing["autores"]``; the returned
    ``autores`` then holds every existing author too (see
    plans/incremental.py).
    ``max_works``: O2 cap (reference MAX_WORKS :27,564-566) — applied to
    *accepted* (gated, and on an append new) works, per SURVEY §2.7 O2.
    The reference's cap is page-order-dependent; ours takes the first N in
    DOI order so reruns are reproducible."""
    # A DataFrame read by more than one action is materialized once, by a
    # local checkpoint: the ContextCleaner frees its blocks, so no cached
    # table outlives the run. works (JSON scan, Unicode pandas_udfs, DOI
    # dedup) is read by the mention table below and by the obras and
    # obra_tema jobs. Eager: the mention table's first job reads it from
    # two parallel stages (the self-joins in tag_countries/label_sedes),
    # which would both compute a lazy checkpoint's partitions.
    works = normalize_works(works_raw)
    if existing is not None:
        works = works.join(existing["obras"].select("DOI"), "DOI", "left_anti")
    works = works.localCheckpoint()
    aff_rows = explode_author_affiliations(works)
    aff_rows = tag_countries(aff_rows, country_pattern_df(spark))
    aff_rows = label_sedes(aff_rows, catalog)
    # the mention table is read by resolve_authors, afiliaciones, and the
    # P7 gate that obras, obra_tema and obra_autor_afiliacion go through.
    # Lazy: its first job (resolve_authors' distinct mentions) reads it
    # once, through a shuffle, so that job stores every partition.
    aff_rows = aff_rows.localCheckpoint(eager=False)

    # P7: keep works where any author-affiliation matched UPS (:662-663).
    # NOTE: autores/afiliaciones are built from ALL works — the reference
    # runs its upserts (:639,:654) BEFORE the gate (:662), so entities from
    # rejected works land in those tables; only Obras/Obra_Tema/OAA gate.
    ups_dois = (
        aff_rows.groupBy("DOI").agg(F.max("es_ups").alias("any_ups")).filter(
            F.col("any_ups") == 1
        ).select("DOI")
    )
    works_kept = works.join(ups_dois, "DOI", "left_semi")
    if max_works is not None:
        capped = works_kept.select("DOI").orderBy("DOI").limit(max_works)
        works_kept = works_kept.join(capped, "DOI", "left_semi")
        ups_dois = capped
    aff_kept = aff_rows.join(ups_dois, "DOI", "left_semi")

    obras = works_kept.select(
        "DOI",
        "Titulo",
        F.col("Anio").cast("int").alias("Anio"),
        "Revista",
        "Editorial",
        "Tipo",
        "Citas",
        "Referencias",
        "FechaPublicacion",
    )

    # K3 Obra_Tema: explode subjects, normalize, non-empty, distinct (:686-697)
    obra_tema = (
        works_kept.select("DOI", F.explode_outer("subject").alias("t"))
        .select("DOI", fx.norm_text_nfc(F.col("t")).alias("Tema"))
        .filter(F.col("Tema") != "")
        .distinct()
    )

    from .entities import resolve_authors

    afiliaciones = build_afiliaciones(aff_rows)
    seed_autores = None if existing is None else existing["autores"]
    autores, author_map = resolve_authors(aff_rows, seed_autores=seed_autores)

    # A4: per (DOI, author) the set of affiliations + sequence promotion
    # ('first' if any occurrence is 'first', :656-659). Promotion is
    # author-scoped, not affiliation-scoped: a window over (DOI, AutorID),
    # whose shuffle also serves the distinct, so the mention join is
    # evaluated once instead of once per side of a self-join.
    author_rank = F.min(F.when(F.col("seq") == "first", 0).otherwise(1)).over(
        Window.partitionBy("DOI", "AutorID")
    )
    obra_autor_afiliacion = (
        aff_kept.join(author_map, ["DOI", "author_pos"])
        .select(
            "DOI",
            "AutorID",
            F.xxhash64("aff_norm").alias("AfiliacionID"),
            F.when(author_rank == 0, "first")
            .otherwise("additional")
            .alias("AutorSecuencia"),
        )
        .distinct()
    )

    return {
        "obras": obras,
        "obra_tema": obra_tema,
        "autores": autores,
        "afiliaciones": afiliaciones,
        "obra_autor_afiliacion": obra_autor_afiliacion,
    }
