"""Importance-weighted data selection (DSIR-style).

Implements the hashed n-gram importance-resampling recipe of
"Data Selection for Language Models via Importance Resampling"
(Xie et al., NeurIPS 2023): fit bag-of-hashed-n-gram models over a
TARGET slice (the distribution you want more of — e.g. a high-quality
domain) and the RAW corpus, weight every raw document by its
log-likelihood ratio under the two models, and keep the top-n (or
sample proportionally). This is the standard pretraining-corpus
curation step between dedup and tokenization.

Reference parity note: the reference pipeline
(/root/reference, rabarrazueta/ups-crossref-etl) has no data-selection
stage — this operator is part of the LLM-training-data extension
surface, same family as operators/dedup.py and operators/quality.py.

Scale shape (100 TB):
- gram generation is row-local (``split`` + ``transform`` — codegen,
  no Python);
- the two models are ONE groupBy(bucket) aggregate with map-side
  partial sums — the shuffle carries (bucket, partial counts), never
  text, and its output is exactly ``n_buckets`` rows (a few KB);
- model log-ratios come back as a BROADCAST join on bucket;
- per-doc weights are one groupBy(doc) over (doc, bucket, count) rows;
- selection is TakeOrderedAndProject (top-n with a total tiebreak),
  never a global sort.
Two corpus-keyed shuffles total, both carrying integer-keyed rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import word_tokens
from .sampling import hash_bucket

__all__ = ["hashed_grams", "dsir_weights", "dsir_select"]



def hashed_grams(
    df: DataFrame, text_col: str, id_col: str, n_buckets: int = 256,
    seed: str = "dsir",
) -> DataFrame:
    """Per-(doc, bucket) hashed unigram+bigram counts.

    Grams are unigrams plus space-joined adjacent bigrams; each gram is
    hashed into ``[0, n_buckets)`` with the engine-portable md5 bucket
    (``sampling.hash_bucket``), so the DuckDB oracle replays the exact
    same feature map. Gram generation is row-local codegen (``split`` +
    ``transform`` + ``concat``); the only shuffle is the
    groupBy(doc, bucket) partial-aggregated count.
    """
    toks = word_tokens(F.col(text_col))
    bigrams = F.transform(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda t, i: F.concat(t, F.lit(" "), F.element_at(toks, i + 2)),
    )
    grams = F.concat(toks, bigrams)
    return (
        df.select(F.col(id_col).alias("_id"), F.explode(grams).alias("_g"))
        .select("_id", hash_bucket(F.col("_g"), seed, n_buckets).alias("bucket"))
        .groupBy("_id", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def dsir_weights(
    df: DataFrame,
    text_col: str,
    id_col: str,
    is_target: Column,
    n_buckets: int = 256,
    round_digits: int = 4,
) -> DataFrame:
    """Per-document DSIR importance weight: ``Σ_b n_b(d)·(ln p_b − ln q_b)``
    where ``p`` is the Laplace-smoothed hashed-gram distribution of the
    TARGET slice (rows where ``is_target``) and ``q`` of the full corpus.

    Returns ``(id_col, n_grams, weight)`` for documents with ≥1 gram;
    ``weight`` is rounded to ``round_digits`` (the repo's
    round-before-compare rule). Documents in the target slice are scored
    too — callers filter if they want out-of-target selection only.

    The model is tiny (``n_buckets`` rows) and broadcast; the corpus is
    scanned once for features and once more never — target membership is
    aggregated in the same pass via conditional sums. The (doc, bucket)
    feature relation feeds BOTH the model aggregate and the scoring
    join, so it is persisted (r11 — without it the corpus scan + gram
    explode + md5 bucketing replayed twice; the cache is
    doc×occupied-bucket-sized, far below the gram explosion, and
    MEMORY_AND_DISK spills rather than OOMs at scale — the
    tfidf_knn_graph precedent).
    """
    feats = hashed_grams(df, text_col, id_col, n_buckets).persist()
    flags = df.select(
        F.col(id_col).alias("_id"), is_target.cast("int").alias("_t")
    )
    fx = feats.join(flags, "_id")
    # One bucket-keyed aggregate produces both models (conditional sums).
    model = fx.groupBy("bucket").agg(
        F.sum(F.col("n") * F.col("_t")).alias("c_p"),
        F.sum("n").alias("c_q"),
    )
    totals = model.agg(
        F.sum("c_p").alias("_Tp"),
        F.sum("c_q").alias("_Tq"),
        F.count(F.lit(1)).alias("_B"),
    )
    # Laplace smoothing over the OCCUPIED buckets (B = observed bucket
    # count): lw_b = ln((c_p+1)/(Tp+B)) - ln((c_q+1)/(Tq+B)).
    ratios = model.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            F.log((F.col("c_p") + 1) / (F.col("_Tp") + F.col("_B")))
            - F.log((F.col("c_q") + 1) / (F.col("_Tq") + F.col("_B")))
        ).alias("_lw"),
    )
    return (
        feats.join(F.broadcast(ratios), "bucket")
        .groupBy("_id")
        .agg(
            F.sum("n").cast("bigint").alias("n_grams"),
            F.round(F.sum(F.col("n") * F.col("_lw")), round_digits).alias(
                "weight"
            ),
        )
        .select(F.col("_id").alias(id_col), "n_grams", "weight")
    )


def dsir_select(
    df: DataFrame,
    text_col: str,
    id_col: str,
    is_target: Column,
    n: int,
    n_buckets: int = 256,
) -> DataFrame:
    """Top-``n`` documents by DSIR importance weight, excluding the target
    slice itself (selection is over the out-of-target pool, the DSIR
    deployment shape: target = trusted domain, pool = the crawl).

    Deterministic: ordered by (rounded weight desc, id asc) — a total
    tiebreak, planned as TakeOrderedAndProject.
    """
    flags = df.select(
        F.col(id_col).alias("_fid"), is_target.cast("int").alias("_t")
    )
    w = dsir_weights(df, text_col, id_col, is_target, n_buckets)
    return (
        w.join(flags, w[id_col] == flags["_fid"])
        .filter(F.col("_t") == 0)
        .select(id_col, "n_grams", "weight")
        .orderBy(F.desc("weight"), F.asc(id_col))
        .limit(n)
    )


#: Covered-set rows up to which the per-round anti-join broadcasts the
#: covered tokens instead of shuffling the corpus-sized (doc, token)
#: table by token. The set is bounded by k x the largest doc's distinct
#: shingles (NOT corpus size), and its exact row count is free on the
#: driver (sum of past gains) — same threshold-gating pattern as
#: survival._DRIVER_TIME_TABLE_MAX. 4M string rows is comfortably under
#: executor broadcast budgets; past it the join falls back to the
#: distributed _t-keyed anti-join.
_BROADCAST_COVERED_MAX = 4_000_000


def max_coverage_select(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    shingle_width: int = 1,
) -> DataFrame:
    """Greedy maximum-coverage selection: pick ``k`` documents that
    together cover the most distinct word unigrams — the classic
    submodular corpus-subset objective (diverse seed sets, eval-set
    construction, coverage-first curation). The greedy algorithm's
    (1 - 1/e) approximation guarantee is the textbook result
    (Nemhauser et al. 1978), and greedy is inherently sequential in k —
    so the DRIVER holds only the loop counter while every round's
    marginal-gain computation is distributed:

    - round state = the covered-token set, kept as a DATAFRAME (never
      collected — its exact size is known on the driver for free: the
      sum of past gains), BROADCAST into the anti-join while it fits
      (``_BROADCAST_COVERED_MAX``; it is bounded by k x the largest
      doc's distinct-shingle count, not by corpus size) and joined
      _t-keyed distributed only past that;
    - the (doc, token) table is exploded ONCE and checkpointed; each
      round's marginal-gain pass on the broadcast path is a narrow
      scan + broadcast anti-join + partial doc count, so the ONLY
      per-round exchange carries (doc, partial_count) rows — never the
      corpus-sized token table (r13; previously every round re-shuffled
      the full table by token for the anti-join);
    - the winner is ONE driver row (max gain, doc_id tiebreak — total
      order, engine-independent);
    - k rounds total, k small by construction.

    Returns ``(pick_order, doc_id, gain)`` — gain is the number of NEW
    tokens the pick added.
    """
    from pyspark.sql import functions as F

    toks = word_tokens(F.col(text_col))
    if shingle_width > 1:
        w_ = shingle_width
        elems = F.when(
            F.size(toks) >= w_,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - w_ + 1),
                lambda i: F.array_join(F.slice(toks, i, w_), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
    else:
        elems = toks
    from ..sources.lake import spread_scan

    # r13: spread a single-row-group scan so the tokenize+explode feeding
    # the checkpoint runs on every core (guide §2.5 input skew; no-op on
    # multi-split inputs — anti-join/count work is layout-invariant)
    tok = (
        spread_scan(df.select(id_col, text_col)).select(
            F.col(id_col).alias("_id"),
            F.explode(F.array_distinct(elems)).alias("_t"),
        )
        .localCheckpoint()
    )
    spark = df.sparkSession
    covered = None
    covered_rows = 0
    picks = []
    for rnd in range(1, k + 1):
        cand = tok
        if covered is not None:
            cov = (
                F.broadcast(covered)
                if covered_rows <= _BROADCAST_COVERED_MAX
                else covered
            )
            cand = tok.join(cov, "_t", "left_anti")
        gains = cand.groupBy("_id").agg(F.count(F.lit(1)).alias("gain"))
        top = gains.orderBy(F.desc("gain"), F.asc("_id")).limit(1).collect()
        if not top or top[0]["gain"] == 0:
            break
        doc, gain = top[0]["_id"], int(top[0]["gain"])
        picks.append((rnd, doc, gain))
        newly = tok.filter(F.col("_id") == doc).select("_t")
        covered = (
            newly if covered is None else covered.unionByName(newly).distinct()
        ).localCheckpoint()
        # exact driver-side size of the covered set: each gain counts the
        # tokens the pick added that no earlier pick had
        covered_rows += gain
    return spark.createDataFrame(
        picks, "pick_order long, doc_id long, gain long"
    )
