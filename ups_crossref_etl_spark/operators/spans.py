"""Cross-document repeated-span removal — boilerplate pruning.

The substring-level complement of document-level dedup (``operators/
dedup``): headers, licence blocks, and navigation chrome repeat across
MANY documents without making whole documents near-duplicates, and
substring-level duplication is what most inflates LLM memorization (Lee
et al., "Deduplicating Training Data Makes Language Models Better",
ACL 2022 — their exact-substring suffix-array pass; this operator is the
bounded n-gram approximation of it that distributes: a token position is
removed iff some n-gram window covering it occurs in ≥ ``min_docs``
distinct documents).

Scale shape (the reason this survives 100 TB where a suffix array does
not):

1. n-grams are generated ROW-LOCALLY (``transform`` over a ``sequence``
   — whole-stage codegen, no corpus-sized explode of text), keyed by
   md5 of the joined window so the shuffle carries fixed-width hashes,
   never token text.
2. One groupBy(gram-hash) with map-side combine finds common grams —
   the only corpus-sized shuffle.
3. Occurrences of common grams expand to covered positions (``≤ n``
   ints per occurrence) and collapse to ONE covered-position array per
   document (``collect_set`` — bounded by document length, not corpus
   size), so the whole removal state for a doc is one row-sized array.
4. The rebuild is ROW-LOCAL codegen: an index-aware ``filter`` over the
   token array against the covered-position array — no token explode,
   no anti-join, no re-assembly shuffle. Net: two corpus-keyed shuffles
   total (gram count, per-doc covered set) plus the join back to docs.

No reference parity: the reference pipeline
(src/barrazueta_pipeline_etl_crossref.py) has no corpus-hygiene surface;
this is the LLM-data extension layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import word_tokens

__all__ = ["remove_common_spans", "long_repeated_spans"]


def remove_common_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    min_docs: int = 3,
) -> DataFrame:
    """Remove every token covered by an ``n``-gram occurring in
    ``>= min_docs`` distinct documents.

    Returns ``(id_col, n_tokens, n_removed, cleaned_text)`` — one row per
    input document; ``cleaned_text`` is the surviving tokens joined by a
    single space (lowercased word tokens, the same normalization the
    dedup family uses), ``''`` when everything was removed or the doc was
    empty.
    """
    from ..sources.lake import spread_scan

    toks = word_tokens(F.col(text_col))
    # r14 (r13 verdict #6): the tokenize+gram explode is pure per-row
    # map work over content-derived md5 keys — layout-invariant by
    # construction (grouped exact counts, order-insensitive collect_set
    # membership, id-keyed joins) — so a parallelism-starved
    # single-row-group scan is spread (no-op on multi-split inputs).
    # base is lazily checkpointed: it feeds the gram explode AND the
    # final rebuild join, and grams feeds both the common-gram count
    # and the coverage join — without materialization the tokenizer ran
    # 3x per execution.
    base = spread_scan(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col).alias("_id"), toks.alias("_toks")
    ).withColumn(
        "_nt", F.size("_toks")
    ).localCheckpoint(eager=False)

    # (doc, pos, gram-hash) for every n-gram window; codegen-local
    grams = base.filter(F.col("_nt") >= n).select(
        "_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("_nt") - n + 1),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.md5(F.concat_ws(" ", F.slice("_toks", i, n))).alias("gh"),
                ),
            )
        ).alias("_g"),
    ).select(
        "_id", F.col("_g.pos").alias("pos"), F.col("_g.gh").alias("gh")
    ).localCheckpoint(eager=False)

    common = (
        grams.groupBy("gh")
        .agg(F.count_distinct("_id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("gh")
    )

    # one covered-position array per doc (collect_set dedups overlapping
    # windows); everything downstream of this groupBy is row-local
    cov = (
        grams.join(common, "gh")
        .select("_id", F.explode(F.sequence("pos", F.col("pos") + n - 1)).alias("p"))
        .groupBy("_id")
        .agg(F.collect_set("p").alias("_cov"))
    )

    # array_except builds a hash set of the covered positions (linear in
    # doc length) and preserves first-array order — an index-aware
    # filter with array_contains is O(len·|covered|) per row, which the
    # scale probe showed going quadratic on boilerplate-heavy replicas
    covered_arr = F.coalesce(F.col("_cov"), F.array().cast("array<int>"))
    kept_pos = F.array_except(
        F.sequence(F.lit(1), F.greatest(F.col("_nt"), F.lit(0))), covered_arr
    )
    kept = F.when(F.col("_nt") > 0, F.transform(
        kept_pos, lambda p: F.element_at("_toks", p)
    )).otherwise(F.array().cast("array<string>"))
    return base.join(cov, "_id", "left").select(
        F.col("_id").alias(id_col),
        F.col("_nt").cast("bigint").alias("n_tokens"),
        F.coalesce(F.size("_cov"), F.lit(0)).cast("bigint").alias("n_removed"),
        F.array_join(kept, " ").alias("cleaned_text"),
    )


def long_repeated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_len: int = 50,
    min_docs: int = 2,
) -> DataFrame:
    """VARIABLE-LENGTH exact-substring dedup detection (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better", ACL
    2022 — the ≥T-token exact-repeat pass their suffix array computes):
    for each document, the MAXIMAL token intervals every position of
    which lies inside some ``min_len``-gram occurring in ``>= min_docs``
    distinct documents. A planted 600-token verbatim repeat surfaces as
    ONE 600-token interval, not 600−T+1 fixed-width windows — the
    variable-length readout :func:`remove_common_spans` (fixed-width
    coverage only) cannot give.

    Returns ``(id_col, span_start, span_end, span_len, verbatim_docs)``
    — one row per maximal interval, 1-based inclusive token positions;
    ``span_len = span_end − span_start + 1 >= min_len`` always.
    ``verbatim_docs`` counts the documents sharing THIS interval's
    exact token sequence (md5 of the full span): ``>= min_docs`` proves
    the whole maximal interval is one verbatim repeat; a smaller value
    means the interval is a chain of overlapping repeats with different
    partners (still duplicated material, not one source).

    Why seeds-then-extend is sound: an exact repeat of length L ≥ T
    (T = ``min_len``) makes every one of its L−T+1 T-grams a cross-doc
    duplicate, so its positions form a CONSECUTIVE run of duplicated
    T-gram starts — maximal runs recover maximal intervals exactly
    (the suffix-array answer) with no suffix structure: the classic
    gaps-and-islands trick (``pos − row_number()``) on the duplicated
    seed positions.

    Scale shape (100 TB): T-grams are generated row-locally and keyed
    by md5 (fixed-width shuffle, never token text); ONE corpus groupBy
    on gram hash (map-side combinable count-distinct) finds seeds; the
    island window + interval groupBy shuffle once on doc id (bounded by
    corpus positions, linear); the verbatim check hashes each maximal
    span row-locally and re-groups on span hash (bounded by interval
    count ≪ corpus size). No pairwise doc joins, no suffix arrays, no
    driver state.
    """
    if min_len < 2:
        raise ValueError("long_repeated_spans: need min_len >= 2")
    t = int(min_len)
    from ..sources.lake import spread_scan

    toks = word_tokens(F.col(text_col))
    # r14 (r13 verdict #6): spread + lazy checkpoints, same invariance
    # argument as remove_common_spans — md5 keys are content-derived,
    # every aggregate is an exact count/min/max, windows order by
    # explicit (id, pos); base feeds the gram explode AND the span
    # slice join, grams feeds the dup count AND the seed join.
    base = spread_scan(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col).alias("_id"), toks.alias("_toks")
    ).withColumn("_nt", F.size("_toks")).localCheckpoint(eager=False)

    # gram rows carry (id, pos, fixed-width hash) ONLY — the token
    # array must never ride the corpus-sized gram shuffle (it would
    # replicate each doc's full text once per position: quadratic)
    grams = base.filter(F.col("_nt") >= t).select(
        "_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("_nt") - t + 1),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.md5(
                        F.concat_ws(" ", F.slice("_toks", i, t))
                    ).alias("gh"),
                ),
            )
        ).alias("_g"),
    ).select(
        "_id", F.col("_g.pos").alias("pos"), F.col("_g.gh").alias("gh")
    ).localCheckpoint(eager=False)

    dup = (
        grams.groupBy("gh")
        .agg(F.count_distinct("_id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("gh")
    )

    # maximal runs of consecutive duplicated seed positions per doc:
    # pos − row_number() is constant exactly on a consecutive run
    wd = Window.partitionBy("_id").orderBy("pos")
    seeds = grams.join(dup, "gh").select("_id", "pos")
    intervals = (
        seeds.withColumn("_isl", F.col("pos") - F.row_number().over(wd))
        .groupBy("_id", "_isl")
        .agg(
            F.min("pos").alias("_s"),
            (F.max("pos") + F.lit(t - 1)).alias("_e"),
        )
        .select("_id", "_s", "_e")
    )

    # slice the span text by re-joining the (few) intervals to the doc
    # table — one doc-keyed join instead of hauling token arrays
    # through the gram shuffle
    spans = intervals.join(base.select("_id", "_toks"), "_id").select(
        "_id",
        "_s",
        "_e",
        F.md5(
            F.concat_ws(
                " ",
                F.slice("_toks", F.col("_s"), F.col("_e") - F.col("_s") + 1),
            )
        ).alias("_sh"),
    )

    # verbatim verification: docs sharing the identical full-span token
    # sequence (interval count ≪ corpus size — a small shuffle)
    share = spans.groupBy("_sh").agg(
        F.count_distinct("_id").alias("verbatim_docs")
    )
    return spans.join(share, "_sh").select(
        F.col("_id").alias(id_col),
        F.col("_s").cast("int").alias("span_start"),
        F.col("_e").cast("int").alias("span_end"),
        (F.col("_e") - F.col("_s") + 1).cast("int").alias("span_len"),
        F.col("verbatim_docs").cast("bigint").alias("verbatim_docs"),
    )
