"""Fuzzy record linkage: blocked edit-distance matching over a string
column.

Extension layer, but directly on-theme for the reference's entity
resolution: the reference merges authors/affiliations only on exact
normalized keys (/root/reference/src/barrazueta_pipeline_etl_crossref.py
author/affiliation upsert paths) — near-miss spellings ("Universidad
Politecnica" vs "Universidad Politécnica de ...") survive as distinct
entities. This operator finds those near-miss pairs at corpus scale.

Design (standard blocking + verify, both stages declarative):

1. **Token blocking** — two records are candidates iff they share at
   least one (lowercased, alphanumeric) token. Tokens whose document
   frequency exceeds ``token_df_cap`` are dropped from blocking (a
   stop-token like "university" would otherwise create one giant
   O(n²) block); the cap bounds every block, so candidate count is
   ≤ Σ_token df² ≤ n_tokens · cap² — linear in data for fixed cap.
2. **Verify** — exact Levenshtein distance (JVM ``levenshtein``,
   codegen'd, no Python) on the candidate pairs only, keeping pairs
   with distance ≤ ``max_edit``.

Shuffle budget: one groupBy(token) for document frequencies, one
self-equi-join on token (co-partitioned with the groupBy output), one
distinct on the pair key, two id-keyed joins to fetch the strings.
Nothing is ever compared all-pairs; the 100 TB shape is the banded
MinHash join's, with tokens as the bands.

Recall caveat (documented contract, pinned by a planted pytest): pairs
sharing NO common token are unreachable regardless of edit distance
("Red Plate" vs "Rad Plete"). That is inherent to token blocking; use
``dedup.minhash_*`` (character shingles) when recall across fully
misspelled tokens matters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import WORD_SPLIT


def _block_tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    toks = F.filter(
        F.array_distinct(F.split(F.lower(F.col(text_col)), WORD_SPLIT)),
        lambda t: t != F.lit(""),
    )
    return df.select(F.col(id_col).alias("_id"), F.explode(toks).alias("_tok"))


def fuzzy_match_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_edit: int = 3,
    token_df_cap: int = 1000,
) -> DataFrame:
    """All pairs ``(id_a < id_b)`` sharing a blocking token with
    ``levenshtein(text_a, text_b) <= max_edit``.

    Returns ``(id_a, id_b, text_a, text_b, edit_dist)``. Deterministic:
    the pair key is ordered by id and the output carries no floats.
    """
    toks = _block_tokens(df, text_col, id_col)
    # document frequency per token; rare tokens only may block.
    # The join is co-partitioned with the groupBy output (same key), so
    # the df-filter costs no extra exchange on the token side.
    rare = (
        toks.groupBy("_tok")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= token_df_cap)
        .select("_tok")
    )
    blocked = toks.join(rare, "_tok")
    pairs = (
        blocked.alias("a")
        .join(blocked.alias("b"), "_tok")
        .filter(F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b")
        )
        .distinct()
    )
    names = df.select(F.col(id_col).alias("_nid"), F.col(text_col).alias("_ntext"))
    return (
        pairs.join(names.alias("na"), F.col("id_a") == F.col("na._nid"))
        .join(names.alias("nb"), F.col("id_b") == F.col("nb._nid"))
        .select(
            "id_a",
            "id_b",
            F.col("na._ntext").alias("text_a"),
            F.col("nb._ntext").alias("text_b"),
            F.levenshtein(F.col("na._ntext"), F.col("nb._ntext")).alias(
                "edit_dist"
            ),
        )
        .filter(F.col("edit_dist") <= max_edit)
    )


def fuzzy_dedup_groups(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_edit: int = 3,
    token_df_cap: int = 1000,
) -> DataFrame:
    """Transitive closure of the fuzzy match graph: ``(id, canonical_id)``
    with ``canonical_id`` = min id of the connected component (same
    union contract as ``dedup.near_dup_clusters``)."""
    from .graph import connected_components

    pairs = fuzzy_match_pairs(df, text_col, id_col, max_edit, token_df_cap)
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    cc = connected_components(edges)
    all_ids = df.select(F.col(id_col).alias("node")).distinct()
    return (
        all_ids.join(cc, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce(F.col("component"), F.col("node")).alias(
                "canonical_id"
            ),
        )
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    key_col: str,
    id_col: str,
    window: int = 3,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez & Stolfo 1995): candidate
    pairs = rows within ``window`` positions of each other in the
    ``key_col`` sort order — ``(id_a, id_b, rank_distance)`` with
    id_a < id_b position-wise.

    The classic entity-resolution blocking alternative to token/LSH
    blocking (``fuzzy_match_pairs``): where token blocking needs a
    shared rare token, the sorted window catches near-misses whose
    leading characters agree (typos later in the string), at a
    guaranteed candidate budget of n*window pairs — LINEAR in the
    table, by construction, no skew cliff. Ties in ``key_col`` order
    break by ``id_col``, so the pair set is deterministic.

    Scale design (no global single-partition sort): the total order is
    materialized as ``repartitionByRange`` on ``(key, id)`` +
    per-partition ``row_number`` + per-partition count offsets (one
    bounded driver collect of <= num_partitions rows), which is how a
    distributed dense rank is built without an unpartitioned
    ``WindowExec``. Pairs then come from a BANDED equi-join on
    ``floor((rank-1)/window)``: any pair within ``window`` rank
    distance lands in the same or adjacent band (each right row is
    emitted to its own band and the one below, a fixed 2x blowup), so
    the join is a plain shuffle-hash/SMJ on the band key — no global
    window, no cartesian, and the plan survives any table size.
    """
    base = df.select(
        F.col(id_col).alias("_id"), F.col(key_col).alias("_k")
    )
    spark = df.sparkSession
    try:
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        n_parts = 32
    # localCheckpoint (not persist): pins the materialization the offsets
    # were collected from — a persist could be evicted and silently
    # recomputed with DIFFERENT range boundaries (RangePartitioner
    # re-samples), invalidating the collected offsets; it also leaked
    # (no unpersist) across repeated calls. Checkpoint blocks are freed
    # when the DataFrame is GC'd, and a lost block fails loudly.
    ranked = (
        base.repartitionByRange(
            n_parts, F.col("_k").asc(), F.col("_id").asc()
        )
        .withColumn("_pid", F.spark_partition_id())
        .withColumn(
            "_lrn",
            F.row_number().over(
                Window.partitionBy("_pid").orderBy(
                    F.col("_k").asc(), F.col("_id").asc()
                )
            ),
        )
        .localCheckpoint()
    )
    # Bounded driver state: one row per range partition. Offsets turn
    # per-partition ranks into the exact global rank (range partitioning
    # on the unique (_k, _id) key is order-preserving across partitions).
    counts = ranked.groupBy("_pid").agg(F.max("_lrn").alias("_cnt")).collect()
    acc = 0
    offsets = []
    for r in sorted(counts, key=lambda r: r["_pid"]):
        offsets.append((int(r["_pid"]), acc))
        acc += int(r["_cnt"])
    off_df = spark.createDataFrame(
        offsets or [(0, 0)], "_pid int, _off bigint"
    )
    g = ranked.join(F.broadcast(off_df), "_pid").select(
        "_id", (F.col("_lrn") + F.col("_off")).cast("bigint").alias("_rn")
    )
    band = F.floor((F.col("_rn") - F.lit(1)) / F.lit(window))
    left = g.select("_id", "_rn", band.alias("_band"))
    right = g.select(
        F.col("_id").alias("_idb"),
        F.col("_rn").alias("_rnb"),
        F.explode(F.array(band, band - F.lit(1))).alias("_band"),
    )
    return (
        left.join(right, "_band")
        .filter(
            (F.col("_rnb") > F.col("_rn"))
            & (F.col("_rnb") <= F.col("_rn") + window)
        )
        .select(
            F.col("_id").alias("id_a"),
            F.col("_idb").alias("id_b"),
            (F.col("_rnb") - F.col("_rn")).cast("bigint").alias(
                "rank_distance"
            ),
        )
    )


def blocking_quality(
    candidates: DataFrame,
    truth: DataFrame,
    n_records: int,
) -> DataFrame:
    """Blocking-stage audit (Christen 2012): how much work did the
    blocker save (reduction ratio) and how many true matches does its
    candidate set still contain (pair completeness)? The two numbers
    every entity-resolution pipeline reads before trusting a blocker —
    a blocker with RR 0.999 and PC 0.6 is silently dropping 40% of the
    real matches.

    ``candidates`` and ``truth`` are pair tables whose first two
    columns are record ids (any order — pairs are canonicalized to
    (least, greatest) and deduped here); ``n_records`` is the record
    count behind them, giving ``possible = n*(n-1)/2``.

    Returns ONE row ``(n_possible, n_candidates, n_truth,
    n_truth_covered, reduction_ratio, pair_completeness)``; PC = 1
    when truth is empty (nothing to miss). Counts exact BIGINT; the
    two ratios are one-shot doubles. Plan: two dedup aggregates + one
    pair-keyed semi-join — candidate-set-sized, never n².
    """

    def _canon(df: DataFrame) -> DataFrame:
        a, b = df.columns[0], df.columns[1]
        return df.select(
            F.least(F.col(a), F.col(b)).alias("_u"),
            F.greatest(F.col(a), F.col(b)).alias("_v"),
        ).distinct()

    cand = _canon(candidates)
    tr = _canon(truth)
    covered = tr.join(cand, ["_u", "_v"], "left_semi")
    possible = n_records * (n_records - 1) // 2
    nc = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
    nt = tr.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
    nv = covered.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_truth_covered")
    )
    return (
        nc.crossJoin(nt)
        .crossJoin(nv)
        .select(
            F.lit(possible).cast("bigint").alias("n_possible"),
            "n_candidates",
            "n_truth",
            "n_truth_covered",
            (
                F.round(
                    F.when(
                        F.lit(possible) > 0,
                        F.lit(1.0)
                        - F.col("n_candidates") / F.lit(float(possible)),
                    ).otherwise(F.lit(1.0)),  # < 2 records: no pair work
                    6,
                )
                + 0.0
            ).alias("reduction_ratio"),
            (
                F.round(
                    F.when(
                        F.col("n_truth") > 0,
                        F.col("n_truth_covered")
                        / F.col("n_truth").cast("double"),
                    ).otherwise(F.lit(1.0)),
                    6,
                )
                + 0.0
            ).alias("pair_completeness"),
        )
    )


def fellegi_sunter_weights(
    pairs: DataFrame,
    label_col: str,
    field_cols: list[str],
    smoothing: float = 0.5,
) -> DataFrame:
    """Fellegi-Sunter (1969) match/unmatch weight estimation from a
    labeled candidate-pair table: for each comparison field, the
    conditional agreement probabilities ``m = P(agree | match)`` and
    ``u = P(agree | non-match)`` and the log-likelihood-ratio weights
    ``w_agree = log2(m/u)`` / ``w_disagree = log2((1-m)/(1-u))`` — the
    classic probabilistic record-linkage scoring model (a pair's match
    score is the sum of its fields' weights), and the principled
    replacement for hand-tuned fuzzy-match thresholds once ANY labeled
    sample exists (a clerical-review slice, a known-duplicate seed
    set).

    ``pairs`` has one row per candidate pair with boolean
    ``field_cols`` (did the field agree?) and a boolean ``label_col``
    (is the pair a true match?). Returns one row per field:
    ``(field, n_match, n_unmatch, m_prob, u_prob, w_agree,
    w_disagree)``.

    Probabilities are add-``smoothing`` Laplace-smoothed
    (``(agree + s) / (n + 2s)``) so zero-agreement fields get finite
    weights; every count is an exact BIGINT aggregate and each output
    is a one-shot double (rounded 6 dp) — cross-engine reproducible.

    Plan shape: one melt (explode of a literal field-name/value struct
    array, width = #fields) then one (field)-keyed aggregate — linear
    in pairs, aggregate output has #fields rows. Candidate generation
    is upstream (``sorted_neighborhood_pairs``, ``fuzzy_match_pairs``,
    LSH) — this operator never joins.
    """
    melted = pairs.select(
        F.col(label_col).cast("boolean").alias("_m"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("field"),
                        F.col(c).cast("boolean").alias("_a"),
                    )
                    for c in field_cols
                ]
            )
        ).alias("_f"),
    ).select("_m", F.col("_f.field").alias("field"), F.col("_f._a").alias("_a"))
    per = melted.groupBy("field").agg(
        F.sum(F.when(F.col("_m"), 1).otherwise(0)).cast("bigint").alias("n_match"),
        F.sum(F.when(~F.col("_m"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_unmatch"),
        F.sum(F.when(F.col("_m") & F.col("_a"), 1).otherwise(0))
        .cast("bigint")
        .alias("_am"),
        F.sum(F.when(~F.col("_m") & F.col("_a"), 1).otherwise(0))
        .cast("bigint")
        .alias("_au"),
    )
    s = float(smoothing)
    m_prob = (F.col("_am") + s) / (F.col("n_match").cast("double") + 2 * s)
    u_prob = (F.col("_au") + s) / (F.col("n_unmatch").cast("double") + 2 * s)
    return per.select(
        "field",
        "n_match",
        "n_unmatch",
        (F.round(m_prob, 6) + 0.0).alias("m_prob"),
        (F.round(u_prob, 6) + 0.0).alias("u_prob"),
        (F.round(F.log2(m_prob / u_prob), 6) + 0.0).alias("w_agree"),
        (
            F.round(F.log2((1.0 - m_prob) / (1.0 - u_prob)), 6) + 0.0
        ).alias("w_disagree"),
    )


def _jaro_winkler_py(s1: str, s2: str) -> float:
    """Standard Jaro-Winkler (boost threshold 0.7, prefix <= 4,
    scaling 0.1), matching DuckDB's ``jaro_winkler_similarity``
    conventions exactly: either side empty -> 0.0, equal -> 1.0, and —
    like DuckDB — computed over UTF-8 BYTES, not code points (a
    multi-byte character counts as several units; verified against
    DuckDB on non-ASCII inputs in tests)."""
    if not s1 or not s2:
        return 0.0
    if s1 == s2:
        return 1.0
    s1 = s1.encode("utf-8")
    s2 = s2.encode("utf-8")
    l1, l2 = len(s1), len(s2)
    window = max(l1, l2) // 2 - 1
    if window < 0:
        window = 0
    # Greedy first-unmatched-in-window match via C-level bytearray.find:
    # matched s2 positions are overwritten with 0xFF (never a valid
    # UTF-8 byte, so it can't spuriously match) — same greedy choice as
    # the textbook per-byte scan, ~3x fewer interpreted ops per pair
    # (measured in tools/jw_bench.py; bit-exactness pinned by the
    # 300-case DuckDB parity test).
    b2 = bytearray(s2)
    js = []
    m1 = []
    for i, c in enumerate(s1):
        lo = i - window
        if lo < 0:
            lo = 0
        hi = i + window + 1
        if hi > l2:
            hi = l2
        j = b2.find(c, lo, hi)
        if j >= 0:
            b2[j] = 0xFF
            js.append(j)
            m1.append(c)
    m = len(js)
    if m == 0:
        return 0.0
    js.sort()
    t = sum(1 for c, j in zip(m1, js) if s2[j] != c) // 2
    jaro = (m / l1 + m / l2 + (m - t) / m) / 3.0
    if jaro > 0.7:
        p = 0
        for a, b in zip(s1[:4], s2[:4]):
            if a != b:
                break
            p += 1
        jaro += p * 0.1 * (1.0 - jaro)
    return jaro


def jaro_winkler_pairs(
    pairs: DataFrame,
    left_col: str,
    right_col: str,
    out_col: str = "jw",
) -> DataFrame:
    """Append a Jaro-Winkler similarity column to a candidate-pair
    table — the string-comparison kernel of probabilistic record
    linkage (feeds :func:`fellegi_sunter_weights` agreement flags via
    a threshold, or ranks :func:`sorted_neighborhood_pairs` candidates
    for human review). JW is position-imperative (match windows +
    transposition walk), genuinely outside relational algebra, so this
    is the sanctioned Python slow path: ONE Arrow-vectorized
    ``pandas_udf`` applied to an already-blocked pair table — the
    n*window candidate set, never the n^2 cross product. Semantics
    match DuckDB's ``jaro_winkler_similarity`` bit-for-bit (standard
    Winkler: boost only when jaro > 0.7, prefix capped at 4, scaling
    0.1; empty side -> 0.0) so the oracle can gate it exactly;
    consumers round before hashing.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    # NOTE: no parameter annotations — this module uses
    # `from __future__ import annotations`, which stringifies hints and
    # breaks pandas_udf's signature inspection; the returnType argument
    # alone selects the Arrow-vectorized SERIES path.
    @pandas_udf(DoubleType())
    def _jw_udf(a, b):
        return pd.Series(
            [
                _jaro_winkler_py(x, y)
                if x is not None and y is not None
                else None
                for x, y in zip(a, b)
            ],
            dtype="float64",
        )

    return pairs.withColumn(out_col, _jw_udf(F.col(left_col), F.col(right_col)))
