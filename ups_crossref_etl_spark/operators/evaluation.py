"""Classifier evaluation as distributed queries — exact AUC.

Extension layer: once a pipeline scores documents (NB classifier,
quality model, perplexity filter), the next question is "how good is the
scorer", and at corpus scale the evaluation itself must be a distributed
query, not a sklearn call on a driver-side collect.

Exact ROC-AUC via the Mann-Whitney rank-sum identity:
``AUC = (Σ_pos avgrank − P(P+1)/2) / (P·N)`` with midrank tie handling —
identical to sklearn's ``roc_auc_score`` on the same data.

The scale trick is computing EXACT average ranks without a global
single-partition window: rows first aggregate per distinct score
(map-side combinable groupBy — the only corpus-sized shuffle), then ONE
cumulative window runs over the score-DISTINCT table, which is
|distinct scores|-sized — bounded when scores are quantized (every
scorer in this engine rounds to 4 dp, so ≤ ~20k distinct values per
unit range) and tiny next to the corpus. Average rank per score group =
rows_before + (n+1)/2; every quantity is integer/rational until the one
final division, so the result is engine-exact.

No reference counterpart (the reference pipeline has no scoring surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import word_tokens

__all__ = ["binary_auc", "ranking_metrics"]


def binary_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
    round_digits: int = 6,
) -> DataFrame:
    """Exact ROC-AUC of ``score_col`` predicting boolean/0-1
    ``label_col``: one row ``(n_pos, n_neg, auc)``. Degenerate inputs
    (no positives or no negatives) return NULL auc rather than a
    misleading 0/1.
    """
    g = df.select(
        F.col(score_col).alias("_s"),
        F.col(label_col).cast("int").alias("_y"),
    ).groupBy("_s").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_y").alias("_np"),
    )
    w = Window.orderBy("_s").rowsBetween(Window.unboundedPreceding, -1)
    ranked = g.withColumn(
        "_before", F.coalesce(F.sum("_n").over(w), F.lit(0))
    ).withColumn(
        # midrank of every row in this score group (ties share it)
        "_avgrank",
        F.col("_before") + (F.col("_n") + 1) / 2.0,
    )
    return ranked.agg(
        F.sum("_np").cast("bigint").alias("n_pos"),
        (F.sum("_n") - F.sum("_np")).cast("bigint").alias("n_neg"),
        (
            F.round(
                F.try_divide(  # NULL (not an ANSI error) on one-class input
                    F.sum(F.col("_np") * F.col("_avgrank"))
                    - F.sum("_np") * (F.sum("_np") + 1) / 2.0,
                    F.sum("_np") * (F.sum("_n") - F.sum("_np")),
                ),
                round_digits,
            )
            + F.lit(0.0)
        ).alias("auc"),
    ).select(
        "n_pos",
        "n_neg",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0), F.col("auc")
        ).alias("auc"),
    )


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    id_col: str,
    n_bins: int = 10,
    round_digits: int = 4,
    mode: str = "exact",
) -> DataFrame:
    """Reliability-diagram bins: rows ranked by score into ``n_bins``
    equal-count bins (ntile over the (score, …) total order), per bin
    the mean score and the observed positive rate —
    ``(bin, n, mean_score, pos_rate)``. A well-calibrated scorer has
    pos_rate tracking mean_score bin by bin; AUC (``binary_auc``) can
    be high while calibration is junk, which is why both ship.

    ``mode="exact"`` (default): one global ntile window + one groupBy —
    the hash-exact gate reference; the ntile window orders ALL rows, so
    it is for bounded/gate inputs only. ``mode="approx"``: the 100 TB
    path — :func:`approx_bin_assign` turns one single-pass
    ``percentile_approx`` into plan-literal cutoffs and a codegen
    comparison chain (zero extra shuffles, no global sort); bins are
    approximately equal-count and the contract is pinned by the
    ``q_docs_calibration_approx_bound`` gate rather than hash equality.
    Scores must be quantized/integer so exact-mode bin boundaries are
    engine-deterministic (the repo's scorers all are).

    Rows with a NULL score or label are dropped up-front in both modes
    (a NULL label would deflate pos_rate — counted in ``n`` but skipped
    by ``sum``; a NULL score would sort into bin 1 silently).
    """
    base = df.select(
        F.col(score_col).cast("double").alias("_s"),
        F.col(label_col).cast("int").alias("_y"),
    ).filter(F.col("_s").isNotNull() & F.col("_y").isNotNull())
    if mode == "approx":
        binned = approx_bin_assign(base, "_s", n_bins=n_bins)
    elif mode == "exact":
        binned = base.withColumn(
            "bin", F.ntile(n_bins).over(Window.orderBy("_s"))
        )
    else:
        raise ValueError(f"calibration_bins: unknown mode {mode!r}")
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            (F.round(F.avg("_s"), round_digits) + F.lit(0.0)).alias(
                "mean_score"
            ),
            (
                F.round(F.sum("_y") / F.count(F.lit(1)), round_digits)
                + F.lit(0.0)
            ).alias("pos_rate"),
        )
        .select(F.col("bin").cast("bigint").alias("bin"), "n", "mean_score", "pos_rate")
    )


def approx_bin_assign(
    df: DataFrame,
    value_col: str,
    n_bins: int = 10,
    accuracy: int = 10_000,
):
    """The 100 TB swap-in for ``calibration_bins``/``quantile_normalize``
    rank windows: bin by APPROXIMATE percentile cutoffs instead of a
    global sort. One single-pass ``percentile_approx`` aggregate yields
    the ``n_bins − 1`` interior cutoffs (model state, broadcast as plan
    literals); assignment is then a row-local codegen comparison chain —
    zero shuffles, fuses into any scan. Adds ``bin`` (1-based). Bins are
    approximately equal-count (sketch error ~1/accuracy of rank);
    deterministic for fixed input — Spark's Greenwald-Khanna sketch has
    no randomness — but NOT engine-reproducible, so gates pin balance
    bounds rather than exact bins.
    """
    from pyspark.sql import functions as F

    qs = [i / n_bins for i in range(1, n_bins)]
    cuts = df.agg(
        F.percentile_approx(value_col, qs, accuracy).alias("c")
    ).first()["c"]
    expr = F.lit(n_bins)
    for i in range(n_bins - 1, 0, -1):
        expr = F.when(F.col(value_col) <= F.lit(cuts[i - 1]), F.lit(i)).otherwise(
            expr
        )
    return df.withColumn("bin", expr.cast("bigint"))


def ranking_metrics(
    system: DataFrame,
    qrels: DataFrame,
    k: int = 10,
    query_col: str = "qid",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    round_digits: int = 4,
) -> DataFrame:
    """Per-query ranking quality of a retrieval ``system`` (rows
    ``(qid, doc_id, rank)``, rank 1-based) against binary ``qrels``
    (rows ``(qid, doc_id)``): recall@k, MRR@k, nDCG@k — the metric
    trio every retrieval change ships with (the ANN/BM25/RRF operators
    here produce exactly the ``system`` shape, and exact brute-force
    top-k produces the qrels).

    Evaluation-as-query: at corpus scale the metric job is itself a
    join — ONE (qid, doc) equi-join marking hits + one qid aggregate;
    nothing pairwise, no window (ranks arrive from the system).

    Determinism: each hit's reciprocal-rank and DCG terms (1/log2(1+r))
    convert to integer MICRO-units per row before summing; the ideal
    DCG divides an identical micro-unit sum, so nDCG is a ratio of two
    exact int64 sums with one final double division, rounded — the
    round-before-compare rule. Queries with empty qrels are excluded
    (metrics undefined), matching trec_eval; queries with qrels but NO
    system rows in the top-k report zeros — a retriever that returns
    nothing must drag the average down, not drop out of it.
    """
    rel_counts = qrels.groupBy(query_col).agg(
        F.count(F.lit(1)).alias("_n_rel")
    )
    hits = (
        system.filter(F.col(rank_col) <= k)
        .join(
            qrels.withColumn("_rel", F.lit(1)),
            [query_col, doc_col],
            "left",
        )
        .withColumn("_rel", F.coalesce("_rel", F.lit(0)))
    )
    rr_micro = F.when(
        F.col("_rel") == 1,
        F.round(F.lit(1_000_000.0) / F.col(rank_col), 0).cast("bigint"),
    ).otherwise(F.lit(0))
    dcg_micro = F.when(
        F.col("_rel") == 1,
        F.round(F.lit(1_000_000.0) / F.log2(F.col(rank_col) + 1), 0).cast(
            "bigint"
        ),
    ).otherwise(F.lit(0))
    per_q = hits.groupBy(query_col).agg(
        F.sum("_rel").cast("long").alias("_n_hit"),
        F.max(rr_micro).alias("_best_rr"),
        F.sum(dcg_micro).alias("_dcg"),
    )
    # base on the QRELS side: a query the system returned nothing for
    # (broken retriever) must report zeros, not vanish from the average
    out = rel_counts.join(per_q, query_col, "left").select(
        query_col,
        "_n_rel",
        F.coalesce("_n_hit", F.lit(0)).alias("_n_hit"),
        F.coalesce("_best_rr", F.lit(0)).alias("_best_rr"),
        F.coalesce("_dcg", F.lit(0)).alias("_dcg"),
    )
    # ideal DCG: hits fill ranks 1..min(n_rel, k); same micro-unit table
    ideal = F.aggregate(
        F.sequence(F.lit(1), F.least(F.col("_n_rel"), F.lit(k))),
        F.lit(0).cast("bigint"),
        lambda acc, r: acc
        + F.round(F.lit(1_000_000.0) / F.log2(r + 1), 0).cast("bigint"),
    )
    return out.select(
        query_col,
        F.col("_n_rel").cast("long").alias("n_rel"),
        F.col("_n_hit").alias("n_hit"),
        F.round(F.col("_n_hit") / F.col("_n_rel"), round_digits).alias(
            "recall_at_k"
        ),
        F.round(F.col("_best_rr") / 1_000_000.0, round_digits).alias("mrr"),
        F.round(F.col("_dcg") / ideal.cast("double"), round_digits).alias("ndcg"),
    )


def best_entropy_split(
    df: DataFrame, feature_col: str, label_expr, round_digits: int = 6
) -> DataFrame:
    """Optimal 1-D decision stump: the threshold t maximizing
    information gain of the split ``feature <= t`` for a binary label —
    one row ``(threshold, gain, n_left, pos_left, n_right, pos_right)``.
    The primitive inside tree learners and the quick "is this feature
    predictive at all" screen for quality-filter features.

    Candidate thresholds are the distinct feature values (the optimal
    split lies on one); gains come from ONE cumulative window over the
    distinct-value table: per-value (n, positives) counts, running
    left-side totals, right = total - left. Entropies are double
    expressions over exact integer counts (0·ln 0 handled as 0); the
    gain is rounded before the argmax and ties break on the smaller
    threshold — the engine-reproducible argmax recipe.

    Scale: one groupBy(feature) over the data (the only fact-sized
    shuffle) + one window/aggregate over the DISTINCT-value table.
    """
    from pyspark.sql import Window

    per_v = (
        df.select(
            F.col(feature_col).alias("_x"),
            label_expr.cast("int").alias("_y"),
        )
        .filter(F.col("_x").isNotNull() & F.col("_y").isNotNull())
        .groupBy("_x")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum("_y").alias("_p"),
        )
    )
    w = Window.orderBy("_x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = per_v.agg(
        F.sum("_n").alias("_tn"), F.sum("_p").alias("_tp")
    )
    cum = (
        per_v.withColumn("_nl", F.sum("_n").over(w))
        .withColumn("_pl", F.sum("_p").over(w))
        .crossJoin(F.broadcast(tot))
        .withColumn("_nr", F.col("_tn") - F.col("_nl"))
        .withColumn("_pr", F.col("_tp") - F.col("_pl"))
        .filter(F.col("_nr") > 0)
    )

    def h(pos, n):
        p = pos.cast("double") / n.cast("double")
        t1 = F.when((p > 0), -p * F.log(p)).otherwise(F.lit(0.0))
        t2 = F.when((p < 1), -(1 - p) * F.log(1 - p)).otherwise(
            F.lit(0.0)
        )
        return t1 + t2

    gain = (
        h(F.col("_tp"), F.col("_tn"))
        - (F.col("_nl").cast("double") / F.col("_tn").cast("double"))
        * h(F.col("_pl"), F.col("_nl"))
        - (F.col("_nr").cast("double") / F.col("_tn").cast("double"))
        * h(F.col("_pr"), F.col("_nr"))
    )
    scored = cum.withColumn("gain", F.round(gain, round_digits) + F.lit(0.0))
    best = scored.withColumn(
        "_rk",
        F.row_number().over(
            Window.orderBy(F.col("gain").desc(), F.col("_x"))
        ),
    ).filter(F.col("_rk") == 1)
    return best.select(
        F.col("_x").alias("threshold"),
        "gain",
        F.col("_nl").cast("bigint").alias("n_left"),
        F.col("_pl").cast("bigint").alias("pos_left"),
        F.col("_nr").cast("bigint").alias("n_right"),
        F.col("_pr").cast("bigint").alias("pos_right"),
    )


def lift_table(
    df: DataFrame,
    score_col: str,
    label_col: str,
    id_col: str,
    n_tiles: int = 10,
) -> DataFrame:
    """Cumulative-gains / lift table: score-ordered deciles with
    ``(tile, n, n_pos, cum_n, cum_pos, capture, lift)``.

    The model-triage companion to ``binary_auc``: AUC says whether the
    scorer ranks well overall; the lift table says what happens if you
    only KEEP the top 10/20/...% — exactly the question a quality-filter
    threshold decision needs. Tiles come from ``ntile(n)`` over the
    total order (score DESC, id) so assignment is deterministic under
    ties; every output is a ratio of exact integer counts (capture =
    share of all positives recovered by tile ≤ t; lift = tile-cumulative
    precision over base rate), rounded 6 dp. Shape: one window pass to
    tile (the only corpus-sized sort), one count aggregate per tile,
    then n-row window cumsums — identical scale behavior to
    ``rfm_segments``' ntile scoring.
    """
    tiled = df.select(
        F.col(label_col).cast("int").alias("_y"),
        F.ntile(n_tiles)
        .over(Window.orderBy(F.col(score_col).desc(), F.col(id_col).asc()))
        .alias("tile"),
    )
    per = tiled.groupBy("tile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("_y").cast("bigint").alias("n_pos"),
    )
    wc = Window.orderBy("tile").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.orderBy("tile").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return per.select(
        F.col("tile").cast("bigint").alias("tile"),
        "n",
        "n_pos",
        F.sum("n").over(wc).alias("cum_n"),
        F.sum("n_pos").over(wc).alias("cum_pos"),
        (
            F.round(
                F.sum("n_pos").over(wc).cast("double")
                / F.sum("n_pos").over(wt).cast("double"),
                6,
            )
            + 0.0
        ).alias("capture"),
        (
            F.round(
                (
                    F.sum("n_pos").over(wc).cast("double")
                    / F.sum("n").over(wc).cast("double")
                )
                / (
                    F.sum("n_pos").over(wt).cast("double")
                    / F.sum("n").over(wt).cast("double")
                ),
                6,
            )
            + 0.0
        ).alias("lift"),
    )


def rank_biased_overlap(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    id_col: str,
    rank_col: str,
    depth: int,
    p: float = 0.9,
) -> DataFrame:
    """Truncated rank-biased overlap (Webber et al. 2010) between two
    top-``depth`` rankings: one row ``(depth, n_overlap, rbo)``.

    The ranking-drift metric for "did the new scorer / index / embedding
    reorder what we surface": top-weighted (rank 1 disagreements cost
    more than rank 50), well-defined on non-conjoint lists. Identity
    used: RBO_d = (1−p)·Σ_{k≤d} p^{k−1}·|A_k ∩ B_k|/k; an id appearing
    at ranks (ra, rb) joins every prefix k ≥ max(ra, rb), so its total
    contribution is the suffix weight W_m = Σ_{k=m..d} p^{k−1}/k — built
    once as a ``depth``-row weight table (sequence + one window suffix
    cumsum), broadcast-joined to the id overlap. Weights are quantized
    to 12-dp BIGINT picos before the final sum so the cross-engine
    accumulation is exact integer addition; the result rounds 6 dp.
    Inputs are top-depth lists (≤ depth rows each) — the corpus-sized
    work is whatever TakeOrdered produced them.
    """
    spark = ranked_a.sparkSession
    ks = spark.range(1, depth + 1).select(F.col("id").alias("k"))
    wsuf = Window.orderBy(F.col("k").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    weights = ks.select(
        "k",
        F.sum(F.pow(F.lit(float(p)), F.col("k") - 1) / F.col("k"))
        .over(wsuf)
        .alias("_w"),
    ).select("k", F.round(F.col("_w") * 1e12).cast("bigint").alias("_w_pico"))
    a = ranked_a.select(
        F.col(id_col).alias("_id"), F.col(rank_col).alias("_ra")
    ).filter(F.col("_ra") <= depth)
    b = ranked_b.select(
        F.col(id_col).alias("_id"), F.col(rank_col).alias("_rb")
    ).filter(F.col("_rb") <= depth)
    m = a.join(b, "_id").select(
        F.greatest(F.col("_ra"), F.col("_rb")).cast("bigint").alias("k")
    )
    contrib = m.join(F.broadcast(weights), "k")
    return contrib.agg(
        F.lit(depth).cast("bigint").alias("depth"),
        F.count(F.lit(1)).cast("bigint").alias("n_overlap"),
        (
            F.round(
                F.lit(1.0 - float(p))
                * F.coalesce(F.sum("_w_pico"), F.lit(0)).cast("double")
                / 1e12,
                6,
            )
            + 0.0
        ).alias("rbo"),
    )


def isotonic_calibrate(
    df: DataFrame,
    score_col: str,
    label_col: str,
    id_col: str,
    n_bins: int = 20,
) -> DataFrame:
    """Isotonic (PAVA) calibration over score bins: ``(bin, n, n_pos,
    rate, fitted)`` with ``fitted`` the monotone non-decreasing (in
    score order) least-squares fit to the per-bin positive rates.

    The calibration step after ``calibration_bins`` DIAGNOSES
    miscalibration: pool-adjacent-violators is the classic monotone
    regression, but the textbook algorithm is a sequential stack scan —
    useless as a distributed primitive. This uses the minimax identity
    instead (Robertson/Wright/Dykstra 1988):

        fitted_i = max_{j <= i} min_{k >= i} mean(y[j..k])

    which is pure dataflow: bins come from one ntile pass over (score
    DESC... no — ASC, id) order, prefix sums turn mean(j..k) into a
    ratio of exact integer differences, one (j, k) pair table over the
    BIN table (n_bins^2 rows — model-sized, nothing to do with corpus
    size), a per-j running min over k DESC, and a per-i max. Every
    mean is one double division of exact integers and min/max are
    order-independent, so the result is hash-exact with no quantization
    at all. The corpus-sized work is exactly one ntile window + one
    bin aggregate; everything after is n_bins^2.
    """
    tiled = df.select(
        F.col(label_col).cast("int").alias("_y"),
        F.ntile(n_bins)
        .over(Window.orderBy(F.col(score_col).asc(), F.col(id_col).asc()))
        .alias("bin"),
    )
    per = tiled.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("_y").cast("bigint").alias("n_pos"),
    )
    wc = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    pre = per.select(
        "bin", "n", "n_pos",
        F.sum("n").over(wc).alias("_cn"),
        F.sum("n_pos").over(wc).alias("_cp"),
    )
    lo = pre.select(
        F.col("bin").alias("_j"),
        (F.col("_cn") - F.col("n")).alias("_cnj"),  # prefix before j
        (F.col("_cp") - F.col("n_pos")).alias("_cpj"),
    )
    hi = pre.select(
        F.col("bin").alias("_k"),
        F.col("_cn").alias("_cnk"),
        F.col("_cp").alias("_cpk"),
    )
    pairs = lo.join(hi, F.col("_k") >= F.col("_j")).select(
        "_j", "_k",
        (
            (F.col("_cpk") - F.col("_cpj")).cast("double")
            / (F.col("_cnk") - F.col("_cnj")).cast("double")
        ).alias("_avg"),
    )
    wmin = (
        Window.partitionBy("_j")
        .orderBy(F.col("_k").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    m = pairs.select(
        "_j", F.col("_k").alias("bin"), F.min("_avg").over(wmin).alias("_m")
    )
    fitted = (
        m.filter(F.col("_j") <= F.col("bin"))
        .groupBy("bin")
        .agg(F.max("_m").alias("_fit"))
    )
    return per.join(fitted, "bin").select(
        F.col("bin").cast("bigint").alias("bin"),
        "n",
        "n_pos",
        (
            F.round(F.col("n_pos").cast("double") / F.col("n").cast("double"), 6)
            + 0.0
        ).alias("rate"),
        (F.round(F.col("_fit"), 6) + 0.0).alias("fitted"),
    )


def average_precision(
    df: DataFrame, score_col: str, label_col: str, id_col: str
) -> DataFrame:
    """Exact average precision (area under the precision-recall curve by
    the step interpolation): one row ``(n, n_pos, ap)`` with
    AP = (1/P) * sum over positives of precision@rank(positive), ranks
    from the (score DESC, id) total order.

    The class-imbalance-honest companion to ``binary_auc``: AUC stays
    high when positives are rare and the ranker is mediocre; AP does
    not. Each positive's precision@rank is a ratio of exact integers
    quantized to BIGINT picos before the sum (exact cross-engine
    accumulation), divided once by P. One window pass in score order +
    one aggregate.
    """
    w = Window.orderBy(F.col(score_col).desc(), F.col(id_col).asc())
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    ranked = df.select(
        F.col(label_col).cast("int").alias("_y"),
        F.row_number().over(w).alias("_r"),
        F.sum(F.col(label_col).cast("int")).over(wc).alias("_cp"),
    )
    term = F.when(
        F.col("_y") == 1,
        F.round(
            F.col("_cp").cast("double") / F.col("_r").cast("double") * 1e12
        ).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("_y").cast("bigint").alias("n_pos"),
        (
            F.round(
                F.sum(term).cast("double")
                / 1e12
                / F.sum("_y").cast("double"),
                6,
            )
            + 0.0
        ).alias("ap"),
    )


def conformal_interval(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    alpha: float = 0.1,
    seed: str = "conf",
) -> DataFrame:
    """Split-conformal prediction interval audit, one row: ``(n_cal,
    n_eval, q_hat, coverage, target)``.

    The distribution-free uncertainty recipe (Vovk et al.; Lei et al.
    2018): hash-split rows into calibration/evaluation halves, predict
    with a simple per-group mean fit on CALIBRATION only, take q_hat =
    the ceil((n_cal + 1)(1 - alpha))-th smallest absolute calibration
    residual, and measure what fraction of EVALUATION rows land within
    +-q_hat — finite-sample guaranteed >= 1 - alpha in expectation for
    exchangeable data, no matter how bad the model. Everything is
    gate-exact: the md5 split is the ``hash_bucket`` recipe,
    predictions round 6 dp before residuals so both engines subtract
    identical doubles, q_hat is an ACTUAL residual selected by integer
    rank arithmetic, and coverage is a ratio of counts. Two group-keyed
    aggregates + one rank window over calibration residuals.
    """
    from ..operators.sampling import hash_bucket

    base = df.filter(F.col(value_col).isNotNull()).select(
        F.col(group_col).alias("_g"),
        F.col(value_col).cast("double").alias("_v"),
        hash_bucket(F.col(id_col), seed, 2).alias("_split"),
    )
    cal = base.filter(F.col("_split") == 0)
    ev = base.filter(F.col("_split") == 1)
    model = cal.groupBy("_g").agg(
        (
            F.round(
                F.sum(F.round(F.col("_v") * 1e9).cast("bigint")).cast("double")
                / F.count(F.lit(1)).cast("double")
                / 1e9,
                6,
            )
            + 0.0
        ).alias("_pred")
    )
    res = cal.join(F.broadcast(model), "_g").select(
        F.abs(F.col("_v") - F.col("_pred")).alias("_r")
    )
    wr = Window.orderBy("_r")
    ranked = res.select(
        "_r",
        F.row_number().over(wr).cast("bigint").alias("_rk"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).cast("bigint").alias("_n"),
    )
    # rank = min(n, ceil((n + 1) * (1 - alpha)))
    target_rank = F.least(
        F.col("_n"),
        F.ceil((F.col("_n") + 1) * F.lit(1.0 - float(alpha))).cast("bigint"),
    )
    qhat = ranked.filter(F.col("_rk") == target_rank).select(
        F.col("_r").alias("_qhat"), F.col("_n").alias("n_cal")
    )
    scored = (
        ev.join(F.broadcast(model), "_g")
        .crossJoin(F.broadcast(qhat))
        .select(
            "n_cal",
            "_qhat",
            (F.abs(F.col("_v") - F.col("_pred")) <= F.col("_qhat")).alias(
                "_in"
            ),
        )
    )
    return scored.groupBy("n_cal", "_qhat").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_eval"),
        (
            F.round(
                F.sum(F.when(F.col("_in"), 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            )
            + 0.0
        ).alias("coverage"),
    ).select(
        "n_cal",
        "n_eval",
        (F.round(F.col("_qhat"), 6) + 0.0).alias("q_hat"),
        "coverage",
        F.lit(round(1.0 - float(alpha), 6)).alias("target"),
    )


def classification_report(
    df: DataFrame, gold_col: str, pred_col: str
) -> DataFrame:
    """Multi-class precision / recall / F1 per label, plus a
    ``__macro__`` summary row — the standard triage table for any
    (gold, predicted) label pair in the pipeline (langid vs gold
    language, rule rater vs model judge, old vs new classifier).

    Rows where either label is NULL are excluded. Output: one row per
    label in the union of gold/pred label sets plus the macro row,
    columns ``(label, n_gold, n_pred, tp, precision, recall, f1)``
    ordered by label (macro row sorts under its dunder name).
    Zero-denominator conventions: precision = 0 when the label is never
    predicted, recall = 0 when it never occurs in gold, f1 = 0 when
    p + r = 0 — sklearn's ``zero_division=0``. Macro = unweighted mean
    over labels of the per-label values quantized to integer NANOS (so
    the cross-label sum is exact in any order), rounded once at the end
    (6 dp) — not a mean of 6-dp-rounded numbers.

    Scale shape: one corpus scan to the |labels|² confusion-cell
    aggregate; everything downstream is confusion-matrix-sized. Counts
    stay exact BIGINT; ratios are one-shot double expressions, so the
    table is bit-reproducible cross-engine.
    """
    pairs = df.select(
        F.col(gold_col).cast("string").alias("_g"),
        F.col(pred_col).cast("string").alias("_p"),
    ).filter(F.col("_g").isNotNull() & F.col("_p").isNotNull())
    # confusion cells fan out into four downstream aggregates —
    # checkpoint the |labels|^2-sized table so the corpus scans once
    cells = (
        pairs.groupBy("_g", "_p")
        .agg(F.count(F.lit(1)).alias("_c"))
        .localCheckpoint()
    )
    labels = (
        cells.select(F.col("_g").alias("label"))
        .unionByName(cells.select(F.col("_p").alias("label")))
        .distinct()
    )
    gold = cells.groupBy(F.col("_g").alias("label")).agg(
        F.sum("_c").cast("bigint").alias("n_gold")
    )
    pred = cells.groupBy(F.col("_p").alias("label")).agg(
        F.sum("_c").cast("bigint").alias("n_pred")
    )
    tp = (
        cells.filter(F.col("_g") == F.col("_p"))
        .select(F.col("_g").alias("label"), F.col("_c").alias("tp"))
    )
    per = (
        labels.join(gold, "label", "left")
        .join(pred, "label", "left")
        .join(tp, "label", "left")
        .select(
            "label",
            F.coalesce("n_gold", F.lit(0)).cast("bigint").alias("n_gold"),
            F.coalesce("n_pred", F.lit(0)).cast("bigint").alias("n_pred"),
            F.coalesce("tp", F.lit(0)).cast("bigint").alias("tp"),
        )
    )
    p = F.when(
        F.col("n_pred") > 0, F.col("tp") / F.col("n_pred").cast("double")
    ).otherwise(F.lit(0.0))
    r = F.when(
        F.col("n_gold") > 0, F.col("tp") / F.col("n_gold").cast("double")
    ).otherwise(F.lit(0.0))
    f1 = F.when(p + r > 0.0, 2.0 * p * r / (p + r)).otherwise(F.lit(0.0))
    # per-label ratios quantized to integer nanos BEFORE the macro mean:
    # summing raw doubles across labels is partition-order-dependent at
    # the ulp level; integer nanos sum exactly in any order.
    scored = per.select(
        "label", "n_gold", "n_pred", "tp",
        F.round(p * 1e9).cast("bigint").alias("_p"),
        F.round(r * 1e9).cast("bigint").alias("_r"),
        F.round(f1 * 1e9).cast("bigint").alias("_f"),
    )
    macro = scored.agg(
        F.lit("__macro__").alias("label"),
        F.sum("n_gold").cast("bigint").alias("n_gold"),
        F.sum("n_pred").cast("bigint").alias("n_pred"),
        F.sum("tp").cast("bigint").alias("tp"),
        F.avg("_p").alias("_p"),
        F.avg("_r").alias("_r"),
        F.avg("_f").alias("_f"),
    )
    return (
        scored.unionByName(macro)
        .select(
            "label", "n_gold", "n_pred", "tp",
            (F.round(F.col("_p") / 1e9, 6) + 0.0).alias("precision"),
            (F.round(F.col("_r") / 1e9, 6) + 0.0).alias("recall"),
            (F.round(F.col("_f") / 1e9, 6) + 0.0).alias("f1"),
        )
        .orderBy("label")
    )


def expected_calibration_error(
    df: DataFrame,
    score_col: str,
    label_col: str,
    id_col: str,
    n_bins: int = 10,
    mode: str = "exact",
) -> DataFrame:
    """Expected Calibration Error (Naeini et al. 2015): bin rows into
    ``n_bins`` equal-count score bins and average ``|observed positive
    rate - mean score|`` weighted by bin size — the single-number
    summary of the reliability diagram (:func:`calibration_bins`),
    plus the worst-bin gap (``max_ce``). AUC can be high while the
    scorer's probabilities are junk; ECE is the number that says so.

    Returns ONE row ``(n, n_bins, ece, max_ce)``.

    Determinism: the ntile window orders by ``(score, id)`` — a total
    order, so tied scores land in the same bin on every engine; scores
    are quantized to integer MICROS before the per-bin sum (exact in
    any order) and each bin's |gap| is quantized to integer NANOS
    before the size-weighted cross-bin sum, so both aggregates are
    exact integer arithmetic. Only the final /N division is floating.

    Rows with a NULL score, label, or id are dropped up-front (repo
    convention — a NULL label is counted by ``count`` but skipped by
    ``sum``, silently deflating the bin's positive rate, and a NULL
    score would sort into bin 1; state, don't guess).

    Scale: ``mode="exact"`` (default) is the hash-exact gate reference
    — a global ntile, bounded/gate inputs only. ``mode="approx"`` is
    the 100 TB path: :func:`approx_bin_assign` percentile-cutoff bins
    (one pass + codegen lookup, no global sort); its agreement with
    exact ECE is pinned by the ``q_docs_ece_approx_bound`` gate.
    """
    base = df.select(
        F.col(score_col).cast("double").alias("_s"),
        F.col(label_col).cast("int").alias("_y"),
        F.col(id_col).alias("_id"),
    ).filter(
        F.col("_s").isNotNull()
        & F.col("_y").isNotNull()
        & F.col("_id").isNotNull()
    )
    if mode == "approx":
        binned = approx_bin_assign(base, "_s", n_bins=n_bins)
    elif mode == "exact":
        binned = base.withColumn(
            "bin",
            F.ntile(n_bins).over(
                Window.orderBy(F.col("_s").asc(), F.col("_id").asc())
            ),
        )
    else:
        raise ValueError(f"expected_calibration_error: unknown mode {mode!r}")
    per = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        F.sum(F.round(F.col("_s") * 1e6).cast("bigint")).alias("_sq"),
        F.sum("_y").cast("bigint").alias("_pos"),
    )
    gap_nanos = F.round(
        F.abs(
            F.col("_pos") / F.col("_n").cast("double")
            - F.col("_sq") / (F.col("_n").cast("double") * 1e6)
        )
        * 1e9
    ).cast("bigint")
    terms = per.select("_n", gap_nanos.alias("_g"))
    return terms.agg(
        F.sum("_n").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        (
            F.round(
                F.sum(F.col("_n") * F.col("_g"))
                / (F.sum("_n").cast("double") * 1e9),
                6,
            )
            + 0.0
        ).alias("ece"),
        (F.round(F.max("_g") / 1e9, 6) + 0.0).alias("max_ce"),
    )


def rouge_n(
    pairs: DataFrame,
    pair_id_col: str,
    cand_col: str,
    ref_col: str,
    n: int = 2,
) -> DataFrame:
    """ROUGE-N (Lin 2004) between a candidate and a reference text per
    pair: clipped n-gram overlap with ``recall = sum_g min(c_cand(g),
    c_ref(g)) / sum_g c_ref(g)``, plus the symmetric precision and F1
    — the n-gram eval metric for summarization/generation quality, and
    at corpus scale the cheap "did the rewrite keep the content?"
    audit for augmentation / decontamination passes (compare original
    vs transformed documents pairwise).

    Returns one row per pair: ``(pair_id, n_ref_grams, n_cand_grams,
    n_clipped, rouge_recall, rouge_precision, rouge_f1)``. Pairs whose
    reference has < n tokens get 0-gram counts and NULL metrics (the
    honest value — there is nothing to recall).

    Plan shape: both sides explode to (pair, gram) counts (two linear
    passes, token-keyed aggregates), then ONE (pair, gram) equi-join
    computes the clipped minima and a pair-keyed sum reduces — never a
    text-by-text nested loop, and shuffles carry grams + counts, not
    documents. Metrics are ratios of exact BIGINTs, one-shot doubles
    rounded 6 dp (cross-engine exact).
    """

    def grams(col: str, alias: str) -> DataFrame:
        toks = word_tokens(F.col(col))
        # Guard short texts: sequence(1, 0) is DESCENDING in Spark
        # ([1, 0]) and slice(toks, 0, n) throws INVALID_PARAMETER_VALUE,
        # so a text with < n tokens must short-circuit to an empty gram
        # array (0 grams -> NULL metrics downstream).
        g = F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - n + 1),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return (
            pairs.select(F.col(pair_id_col).alias("_pid"), g.alias("_g"))
            .select("_pid", F.explode_outer("_g").alias("gram"))
            .groupBy("_pid", "gram")
            .agg(F.count(F.lit(1)).cast("bigint").alias(alias))
        )

    cg = grams(cand_col, "_cc")
    rg = grams(ref_col, "_cr")
    # full outer on (pair, gram): clipped = min(c_cand, c_ref) -> only
    # the inner part contributes, but the outer sides carry the totals
    j = cg.join(rg, ["_pid", "gram"], "full_outer")
    # NULL-gram rows from explode_outer (short texts) contribute gram
    # NULL with count >= 1 — strip them from the totals
    per = (
        j.filter(F.col("gram").isNotNull())
        .groupBy("_pid")
        .agg(
            F.sum(F.coalesce(F.col("_cr"), F.lit(0)))
            .cast("bigint")
            .alias("n_ref_grams"),
            F.sum(F.coalesce(F.col("_cc"), F.lit(0)))
            .cast("bigint")
            .alias("n_cand_grams"),
            F.sum(
                F.when(
                    F.col("_cc").isNotNull() & F.col("_cr").isNotNull(),
                    F.least("_cc", "_cr"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_clipped"),
        )
    )
    all_pids = pairs.select(F.col(pair_id_col).alias("_pid")).distinct()
    per = all_pids.join(per, "_pid", "left").select(
        "_pid",
        F.coalesce("n_ref_grams", F.lit(0)).cast("bigint").alias("n_ref_grams"),
        F.coalesce("n_cand_grams", F.lit(0))
        .cast("bigint")
        .alias("n_cand_grams"),
        F.coalesce("n_clipped", F.lit(0)).cast("bigint").alias("n_clipped"),
    )
    rec = F.when(
        F.col("n_ref_grams") > 0,
        F.col("n_clipped") / F.col("n_ref_grams").cast("double"),
    )
    prec = F.when(
        F.col("n_cand_grams") > 0,
        F.col("n_clipped") / F.col("n_cand_grams").cast("double"),
    )
    f1 = F.when(
        rec.isNotNull() & prec.isNotNull() & ((rec + prec) > 0.0),
        2.0 * rec * prec / (rec + prec),
    )
    return per.select(
        F.col("_pid").alias(pair_id_col),
        "n_ref_grams",
        "n_cand_grams",
        "n_clipped",
        (F.round(rec, 6) + 0.0).alias("rouge_recall"),
        (F.round(prec, 6) + 0.0).alias("rouge_precision"),
        (F.round(f1, 6) + 0.0).alias("rouge_f1"),
    )
