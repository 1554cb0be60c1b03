"""Round-9 query registrations.

Opens with the r8 verdict's asks: the eccentricity operator gets its
recursive-CTE oracle gate (it was the one r8 operator with zero
verification), and the round's new operators — Ljung-Box, Page-Hinkley,
best-SSE changepoint, Wald SPRT, Jaro-Winkler linkage — each land with
an exact DuckDB oracle.

Every gated entry pairs the Spark program with a DuckDB oracle; column
aliases match exactly (the driver sorts columns by name before hashing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import word_tokens
from ..sources.lake import read_table
from .registry import register

# --------------------------------------------------------------------------
# Eccentricity (min-plus path doubling, bounded graph) — closes r8 gap
# --------------------------------------------------------------------------


@register(
    "q_graph_eccentricity",
    """
    WITH RECURSIVE base AS (
      SELECT doc_id AS n FROM documents WHERE doc_id < 80),
    e0 AS (
      SELECT n AS src, (n * 31 + 7) % 80 AS dst FROM base
      WHERE (n * 31 + 7) % 80 <> n
      UNION
      SELECT n AS src, (n * 17 + 3) % 80 AS dst FROM base
      WHERE (n * 17 + 3) % 80 <> n),
    sym AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
    walk(src, node, d) AS (
      SELECT src, dst, 1 FROM sym
      UNION
      SELECT w.src, s.dst, w.d + 1
      FROM walk w JOIN sym s ON w.node = s.src
      WHERE w.d < 30),
    mind AS (
      SELECT src, node, min(d) AS d FROM walk
      WHERE src <> node GROUP BY src, node),
    nodes AS (SELECT DISTINCT src AS node FROM sym),
    per AS (
      SELECT src AS node, count(*) AS r, max(d) AS e
      FROM mind GROUP BY src)
    SELECT CAST(nodes.node AS BIGINT) AS node,
           CAST(coalesce(r, 0) AS BIGINT) AS n_reached,
           CAST(coalesce(e, 0) AS BIGINT) AS eccentricity
    FROM nodes LEFT JOIN per ON nodes.node = per.node
    """,
    doc=(
        "Per-node eccentricity (operators/centrality.eccentricity — max "
        "hop distance to any reachable node, the diameter/radius "
        "profile) of the same bounded 80-node two-out-degree functional "
        "graph q_graph_closeness uses, undirected: all-pairs distances "
        "via min-plus path doubling (hop_distances), then ONE node-keyed "
        "max aggregate. Closes the r8 verdict's 'eccentricity has no "
        "gate and no test' gap with the recursive-CTE BFS oracle. "
        "Bounded-subgraph contract as closeness: all-pairs state is "
        "O(reach^2), corpus-scale eccentricity goes through hyper_anf."
    ),
)
def q_graph_eccentricity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.centrality import eccentricity

    base = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 80)
        .select(F.col("doc_id").alias("n"))
    )
    e1 = base.select(
        F.col("n").alias("src"), ((F.col("n") * 31 + 7) % 80).alias("dst")
    )
    e2 = base.select(
        F.col("n").alias("src"), ((F.col("n") * 17 + 3) % 80).alias("dst")
    )
    edges = e1.unionByName(e2).filter(F.col("src") != F.col("dst"))
    out = eccentricity(edges, directed=False, max_rounds=12)
    return out.select(
        F.col("node").cast("bigint").alias("node"),
        "n_reached",
        "eccentricity",
    )


# --------------------------------------------------------------------------
# Ljung-Box white-noise portmanteau (built on acf)
# --------------------------------------------------------------------------


@register(
    "q_events_ljung_box",
    """
    WITH pts AS (
      SELECT user_id AS k, CAST(floor(epoch(ts)) AS BIGINT) AS t,
             CAST(value AS DOUBLE) AS v
      FROM events WHERE value IS NOT NULL),
    ranked AS (
      SELECT k, v,
             row_number() OVER (PARTITION BY k ORDER BY t, v) AS rn
      FROM pts),
    st AS (
      SELECT k, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(v AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS mean
      FROM ranked GROUP BY k),
    c AS (
      SELECT r.k, r.rn, (r.v - st.mean) AS cv
      FROM ranked r JOIN st ON r.k = st.k),
    den AS (
      SELECT k, sum(CAST(cv * cv AS DECIMAL(38,12))) AS den
      FROM c GROUP BY k),
    num AS (
      SELECT a.k, b.rn - a.rn AS lag,
             sum(CAST(a.cv * b.cv AS DECIMAL(38,12))) AS num
      FROM c a JOIN c b ON a.k = b.k AND b.rn > a.rn AND b.rn - a.rn <= 3
      GROUP BY a.k, b.rn - a.rn),
    r AS (
      SELECT num.k, lag, st.n,
             round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 4) + 0.0
               AS acf_val
      FROM num JOIN den ON num.k = den.k JOIN st ON num.k = st.k
      WHERE den > 0 AND lag < st.n),
    terms AS (
      SELECT k, n,
             CAST(round(acf_val * acf_val / CAST(n - lag AS DOUBLE) * 1e12)
               AS BIGINT) AS tp
      FROM r)
    SELECT k AS user_id,
           CAST(max(n) AS BIGINT) AS n_points,
           CAST(count(*) AS BIGINT) AS n_lags,
           round(CAST(max(n) AS DOUBLE) * (max(n) + 2)
                 * (CAST(sum(tp) AS DOUBLE) / 1e12), 4) + 0.0 AS q_stat
    FROM terms GROUP BY k
    """,
    doc=(
        "Per-user Ljung-Box portmanteau Q = n(n+2) * sum r_L^2/(n-L) "
        "over lags 1-3 (operators/timeseries.ljung_box, built on acf's "
        "ranking window + bounded range self-join): the 'is this series "
        "white noise at all?' pre-test before fitting seasonal/AR "
        "models to per-entity telemetry. Determinism: each r_L is the "
        "4-dp cross-engine ACF value, each summand quantizes to integer "
        "picos before the key-keyed sum, Q is one double expression "
        "rounded 4 dp. No global state — everything is user-keyed."
    ),
)
def q_events_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import ljung_box

    ev = read_table(spark, sf_dir, "events")
    return ljung_box(ev, "user_id", "ts", "value", max_lag=3)


# --------------------------------------------------------------------------
# Page-Hinkley sequential drift (running-mean CUSUM variant)
# --------------------------------------------------------------------------


@register(
    "q_events_page_hinkley",
    """
    WITH base AS (
      SELECT user_id AS k, ts, event_id,
             CAST(round(value * 1e6) AS BIGINT) AS vu
      FROM events WHERE value IS NOT NULL),
    ranked AS (
      SELECT k, vu,
             row_number() OVER (PARTITION BY k ORDER BY ts, event_id)
               AS rn,
             CAST(sum(vu) OVER (PARTITION BY k ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS su
      FROM base),
    terms AS (
      SELECT k, rn,
             CAST(round(CAST(vu AS DOUBLE) * 1e3
                        - CAST(su AS DOUBLE) * 1e3 / rn
                        - 50000000) AS BIGINT) AS tn
      FROM ranked),
    cum AS (
      SELECT k, rn,
             CAST(sum(tn) OVER (PARTITION BY k ORDER BY rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS u
      FROM terms),
    ph AS (
      SELECT k, rn,
             u - min(u) OVER (PARTITION BY k ORDER BY rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS phv
      FROM cum)
    SELECT k AS user_id,
           CAST(max(rn) AS BIGINT) AS n_points,
           round(CAST(max(phv) AS DOUBLE) / 1e9, 6) + 0.0 AS ph_max,
           max(phv) > 2000000000 AS drifted,
           CAST(min(CASE WHEN phv > 2000000000 THEN rn END) AS BIGINT)
             AS first_cross_n
    FROM ph GROUP BY k
    """,
    doc=(
        "Per-user Page-Hinkley drift test (operators/timeseries."
        "page_hinkley, delta=0.05, threshold=2.0): accumulate "
        "x_t - running_mean_t - delta and monitor the excursion above "
        "the running minimum — the self-normalizing online sibling of "
        "cusum_flags (which standardizes against the key's GLOBAL "
        "moments). Three per-key windows (running sum/min/max), never "
        "global; values quantize to micros and each term to nanos so "
        "every cumulative comparison is exact BIGINT on both engines."
    ),
)
def q_events_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import page_hinkley

    ev = read_table(spark, sf_dir, "events")
    return page_hinkley(
        ev, "user_id", "ts", "event_id", "value", delta=0.05, threshold=2.0
    )


# --------------------------------------------------------------------------
# Best single SSE changepoint (binary segmentation step 1)
# --------------------------------------------------------------------------


@register(
    "q_events_best_sse_split",
    """
    WITH base AS (
      SELECT user_id AS k, ts, event_id,
             CAST(round(value * 1e6) AS BIGINT) AS vu
      FROM events WHERE value IS NOT NULL),
    ranked AS (
      SELECT k, vu,
             row_number() OVER (PARTITION BY k ORDER BY ts, event_id)
               AS rn,
             CAST(sum(vu) OVER (PARTITION BY k ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS sl
      FROM base),
    tot AS (
      -- s = TRUE total sum (not max prefix sum): correct for series
      -- with negative values after the prefix-sum peak
      SELECT k, rn, sl,
             count(*) OVER (PARTITION BY k) AS n,
             CAST(sum(vu) OVER (PARTITION BY k) AS BIGINT) AS s
      FROM ranked),
    cand AS (
      SELECT k, rn, n, sl, s,
             (CAST(sl AS DOUBLE) * sl / rn
              + CAST(s - sl AS DOUBLE) * (s - sl) / (n - rn)
              - CAST(s AS DOUBLE) * s / n) / 1e12 AS g
      FROM tot
      WHERE n >= 4 AND rn >= 2 AND rn <= n - 2),
    pick AS (
      SELECT k, rn, n, sl, s, g,
             row_number() OVER (PARTITION BY k ORDER BY g DESC, rn ASC)
               AS pk
      FROM cand)
    SELECT k AS user_id,
           CAST(n AS BIGINT) AS n_points,
           CAST(rn AS BIGINT) AS split_pos,
           round(CAST(sl AS DOUBLE) / (rn * 1e6), 6) + 0.0 AS mean_left,
           round(CAST(s - sl AS DOUBLE) / ((n - rn) * 1e6), 6) + 0.0
             AS mean_right,
           round(g, 6) + 0.0 AS gain
    FROM pick WHERE pk = 1
    """,
    doc=(
        "Per-user best single changepoint by SSE reduction (operators/"
        "timeseries.best_sse_split, min_segment=2): the first step of "
        "binary segmentation — argmax over split positions of "
        "SL^2/i + SR^2/(n-i) - S^2/n, the least-squares 'WHERE did the "
        "regime change' complement to the sequential detectors (CUSUM/"
        "Page-Hinkley say whether). One per-key ranking window + one "
        "per-key running sum + a per-key argmax row_number — every "
        "stage keyed, no self-join, no global window. Values quantize "
        "to micros so all sums are exact BIGINTs; the gain is the same "
        "IEEE double expression of those integers on both engines; "
        "ties break to the smallest split."
    ),
)
def q_events_best_sse_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import best_sse_split

    ev = read_table(spark, sf_dir, "events")
    return best_sse_split(
        ev, "user_id", "ts", "event_id", "value", min_segment=2
    )


# --------------------------------------------------------------------------
# Wald SPRT sequential decision per event type
# --------------------------------------------------------------------------


def _sprt_consts(p0: float, p1: float, alpha: float, beta: float):
    import math

    return (
        int(round(math.log(p1 / p0) * 1e9)),
        int(round(math.log((1.0 - p1) / (1.0 - p0)) * 1e9)),
        int(round(math.log((1.0 - beta) / alpha) * 1e9)),
        int(round(math.log(beta / (1.0 - alpha)) * 1e9)),
    )


_W_SUCC, _W_FAIL, _A_N, _B_N = _sprt_consts(0.3, 0.4, 0.05, 0.2)


@register(
    "q_events_sprt",
    f"""
    WITH base AS (
      SELECT event_type AS k, ts, event_id, value > 50 AS x
      FROM events WHERE value IS NOT NULL),
    cum AS (
      SELECT k, x,
             row_number() OVER (PARTITION BY k ORDER BY ts, event_id)
               AS rn,
             CAST(sum(CASE WHEN x THEN {_W_SUCC} ELSE {_W_FAIL} END)
               OVER (PARTITION BY k ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS llr
      FROM base),
    marked AS (
      SELECT k, x, rn, llr,
             CASE WHEN llr >= {_A_N} THEN 1
                  WHEN llr <= {_B_N} THEN -1 END AS crossed
      FROM cum),
    agg AS (
      SELECT k,
             CAST(max(rn) AS BIGINT) AS n_obs,
             CAST(sum(CASE WHEN x THEN 1 ELSE 0 END) AS BIGINT)
               AS n_success,
             CAST(min(CASE WHEN crossed IS NOT NULL THEN rn END) AS BIGINT)
               AS decided_at_n,
             min_by(crossed, CASE WHEN crossed IS NOT NULL THEN rn END)
               AS dir,
             max_by(llr, rn) AS llr_last
      FROM marked GROUP BY k)
    SELECT k AS event_type, n_obs, n_success,
           CASE WHEN decided_at_n IS NULL THEN 'continue'
                WHEN dir = 1 THEN 'accept_h1'
                ELSE 'accept_h0' END AS decision,
           decided_at_n,
           round(CAST(llr_last AS DOUBLE) / 1e9, 6) + 0.0 AS llr_final
    FROM agg
    """,
    doc=(
        "Per-event-type Wald SPRT (operators/experiment.sprt_decision, "
        "H0 p=0.3 vs H1 p=0.4 on the Bernoulli stream value>50, "
        "alpha=0.05, beta=0.2): cumulative log-likelihood ratio over "
        "the time-ordered observations, stopping at the first Wald "
        "boundary crossing — the sequential experiment/canary readout "
        "that stops the moment evidence suffices. One per-key ranking "
        "window + running sum + key-keyed reduction; the two LLR terms "
        "and both boundaries are nano-quantized Python literals shared "
        "verbatim with the oracle, so every comparison is exact BIGINT."
    ),
)
def q_events_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.experiment import sprt_decision

    ev = read_table(spark, sf_dir, "events").withColumn(
        "_succ", F.col("value") > 50
    )
    return sprt_decision(
        ev,
        "event_type",
        "ts",
        "event_id",
        "_succ",
        p0=0.3,
        p1=0.4,
        alpha=0.05,
        beta=0.2,
    )


# --------------------------------------------------------------------------
# Jaro-Winkler over sorted-neighborhood candidates
# --------------------------------------------------------------------------


@register(
    "q_part_jw_topk",
    """
    WITH ranked AS (
      SELECT p_partkey, p_name,
             row_number() OVER (ORDER BY p_name, p_partkey) AS rn
      FROM part),
    pairs AS (
      SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
             CAST(b.rn - a.rn AS BIGINT) AS rank_distance,
             a.p_name AS name_a, b.p_name AS name_b
      FROM ranked a JOIN ranked b
        ON b.rn > a.rn AND b.rn - a.rn <= 2),
    scored AS (
      SELECT id_a, id_b, rank_distance,
             round(jaro_winkler_similarity(name_a, name_b), 6) + 0.0 AS jw
      FROM pairs)
    SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
           rank_distance, jw
    FROM scored
    ORDER BY jw DESC, id_a, id_b
    LIMIT 50
    """,
    doc=(
        "Jaro-Winkler similarity over sorted-neighborhood candidate "
        "pairs of part names, top-50 by (jw desc, ids) (operators/"
        "linkage.jaro_winkler_pairs on linkage.sorted_neighborhood_"
        "pairs, window=2): the probabilistic-record-linkage string "
        "kernel on an already-blocked LINEAR candidate set (n*window "
        "pairs, never n^2). JW's match-window + transposition walk is "
        "position-imperative — genuinely outside relational algebra — "
        "so it runs as ONE Arrow-vectorized pandas_udf whose semantics "
        "match DuckDB's jaro_winkler_similarity bit-for-bit (boost "
        "only when jaro > 0.7, prefix cap 4, scaling 0.1, empty -> 0); "
        "the blocked pair generation is the banded equi-join with no "
        "global window. Values round 6 dp before the hash."
    ),
)
def q_part_jw_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.linkage import jaro_winkler_pairs, sorted_neighborhood_pairs

    part = read_table(spark, sf_dir, "part")
    pairs = sorted_neighborhood_pairs(part, "p_name", "p_partkey", window=2)
    names = part.select(
        F.col("p_partkey").alias("_nk"), F.col("p_name").alias("_nm")
    )
    with_names = (
        pairs.join(names, pairs["id_a"] == names["_nk"])
        .select("id_a", "id_b", "rank_distance", F.col("_nm").alias("name_a"))
        .join(
            names.select(
                F.col("_nk").alias("_nk2"), F.col("_nm").alias("name_b")
            ),
            F.col("id_b") == F.col("_nk2"),
        )
        .select("id_a", "id_b", "rank_distance", "name_a", "name_b")
    )
    scored = jaro_winkler_pairs(with_names, "name_a", "name_b", out_col="_jw")
    return (
        scored.select(
            F.col("id_a").cast("bigint").alias("id_a"),
            F.col("id_b").cast("bigint").alias("id_b"),
            "rank_distance",
            (F.round(F.col("_jw"), 6) + 0.0).alias("jw"),
        )
        .orderBy(F.col("jw").desc(), "id_a", "id_b")
        .limit(50)
    )


# --------------------------------------------------------------------------
# ALS matrix factorization: baseline-beating bound + operational factors
# --------------------------------------------------------------------------


@register(
    "q_part_als_bound",
    """
    WITH r AS (
      SELECT l_suppkey AS u, l_partkey AS i,
             CAST(round(CAST(sum(CAST(l_quantity AS DECIMAL(38,12)))
                             / count(*) AS DOUBLE) * 1e6) AS BIGINT) AS ru
      FROM lineitem GROUP BY l_suppkey, l_partkey),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(ru) AS BIGINT) AS s1,
             sum(CAST(ru AS DECIMAL(38,0)) * ru) AS s2
      FROM r)
    SELECT n AS n_ratings,
           round(sqrt(CAST(s2 AS DOUBLE) / n
                      - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
                 / 1e6, 6) + 0.0 AS rmse_baseline,
           TRUE AS model_beats_baseline,
           TRUE AS rmse_valid
    FROM s
    """,
    doc=(
        "Quality contract for ALS matrix factorization (operators/"
        "factorization.als_factorize, rank=4, reg=0.05, 2 iterations, "
        "weighted-lambda Zhou et al. 2008) on the supplier x part "
        "avg-quantity matrix: the trained model's RMSE must beat the "
        "global-mean baseline predictor. The gate hashes the EXACT side "
        "(rating count + baseline RMSE from integer-micro sufficient "
        "statistics, DECIMAL(38,0) for the square sum so nothing "
        "overflows) plus boolean verdicts — the factors themselves are "
        "iterative float state whose ulp wiggle is not hashable, the "
        "repo's standard *_bound pattern for non-SQL-expressible "
        "training loops. Scale shape per half-step: one equi-join on "
        "the fixed side + ONE map-side-combined aggregate carrying "
        "rank^2+rank doubles per entity + an Arrow-vectorized rank x "
        "rank solve; driver holds zero data."
    ),
)
def q_part_als_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.factorization import als_factorize, als_rmse

    li = read_table(spark, sf_dir, "lineitem")
    dec = "decimal(38,12)"
    ratings = (
        li.groupBy(
            F.col("l_suppkey").alias("u"), F.col("l_partkey").alias("i")
        )
        .agg(
            F.round(
                (
                    F.sum(F.col("l_quantity").cast(dec)).cast("double")
                    / F.count(F.lit(1))
                )
                * 1e6
            )
            .cast("bigint")
            .alias("ru")
        )
        .withColumn("r", F.col("ru") / 1e6)
    )
    ratings = ratings.localCheckpoint()
    uf, itf = als_factorize(
        ratings, "u", "i", "r", rank=4, reg=0.05, iterations=2
    )
    # ONE aggregate pass computes the model squared error AND the
    # baseline sufficient statistics (r12 verdict #5: the separate
    # als_rmse collect + stats job pair was pure fixed cost; the
    # factor joins are broadcast local tables, so this is map-only +
    # one 1-row reduction)
    from ..operators.factorization import predict_ratings

    pred = predict_ratings(ratings, "u", "i", uf, itf)
    stats = pred.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ratings"),
        F.sum("ru").cast("bigint").alias("_s1"),
        F.sum(F.col("ru").cast("decimal(38,0)") * F.col("ru")).alias("_s2"),
        F.sum(
            (F.col("r") - F.col("prediction"))
            * (F.col("r") - F.col("prediction"))
        ).alias("_se"),
    )
    n = F.col("n_ratings").cast("double")
    rmse_b = (
        F.round(
            F.sqrt(
                F.col("_s2").cast("double") / n
                - (F.col("_s1").cast("double") / n)
                * (F.col("_s1").cast("double") / n)
            )
            / 1e6,
            6,
        )
        + 0.0
    )
    rmse_m = F.sqrt(F.col("_se") / n)
    return stats.select(
        "n_ratings",
        rmse_b.alias("rmse_baseline"),
        (rmse_m < rmse_b).alias("model_beats_baseline"),
        (~F.isnan(rmse_m) & (rmse_m >= F.lit(0.0))).alias("rmse_valid"),
    )


@register(
    "q_part_als_factors",
    None,
    doc=(
        "Operational ALS output (operators/factorization.als_factorize): "
        "the item-factor table for the supplier x part matrix, rank 4 — "
        "iterative float state (hash-seeded init, ulp-order accumulation) "
        "so it carries no SQL oracle; its quality is pinned by the "
        "oracle-checked q_part_als_bound contract plus pytest descent "
        "assertions. gate=False: bench/plan surface only."
    ),
    gate=False,
)
def q_part_als_factors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.factorization import als_factorize

    li = read_table(spark, sf_dir, "lineitem")
    ratings = li.groupBy(
        F.col("l_suppkey").alias("u"), F.col("l_partkey").alias("i")
    ).agg(F.avg("l_quantity").alias("r"))
    _, itf = als_factorize(
        ratings, "u", "i", "r", rank=4, reg=0.05, iterations=2
    )
    return itf.select(
        F.col("i").alias("item"),
        F.round(F.element_at("factors", 1), 6).alias("f0"),
        F.round(F.element_at("factors", 2), 6).alias("f1"),
        F.round(F.element_at("factors", 3), 6).alias("f2"),
        F.round(F.element_at("factors", 4), 6).alias("f3"),
    ).orderBy("item")


# --------------------------------------------------------------------------
# Trainable quality classifier: logistic regression (IRLS) bound
# --------------------------------------------------------------------------


@register(
    "q_docs_quality_classifier_bound",
    """
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN n_chars > 290 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pos,
           TRUE AS loss_decreased,
           TRUE AS auc_beats_chance,
           TRUE AS converged_steps
    FROM documents
    WHERE text IS NOT NULL AND n_chars IS NOT NULL
    """,
    doc=(
        "Quality contract for the trainable document classifier "
        "(operators/classifier.logreg_irls — distributed IRLS logistic "
        "regression, the fastText-style 'train a filter model, score "
        "the corpus' loop of CCNet/GPT-3/LLaMA data pipelines): trained "
        "on token statistics (token count, mean token length, punct/"
        "digit/upper/stopword ratios from text_analysis.quality_"
        "features — deliberately EXCLUDING the n_chars column itself) "
        "to predict the document's length class n_chars > 290, a "
        "target genuinely learnable from those features on this corpus "
        "(the synthetic lang column is independent of the text, so a "
        "lang target would be unlearnable — measured AUC 0.53). Gate "
        "pins: train log-loss strictly decreased from w=0, exact "
        "ROC-AUC of the trained scores > 0.6, at least one accepted "
        "Newton step; exact side = row/positive counts. Scale shape "
        "per step: one scan + ONE map-side-combined aggregate carrying "
        "the d^2+d sufficient statistics (d=6), driver holds only the "
        "d+1 weight vector; step-halving makes the loss path "
        "non-increasing by construction."
    ),
)
def q_docs_quality_classifier_bound(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.classifier import logreg_irls, logreg_score
    from ..operators.evaluation import binary_auc
    from ..operators.text_analysis import quality_features

    from ..sources.lake import spread_scan

    # r13: spread BELOW the feature projection (a single-row-group scan
    # otherwise evaluates the regex-heavy quality_features on one core
    # at checkpoint time — guide §2.5 input skew; no-op on multi-split
    # inputs). The gate's outputs are boolean bounds + exact counts, so
    # the ulp-level order sensitivity of the double sufficient-statistic
    # sums (which the DuckDB oracle never reproduced bit-for-bit either)
    # cannot flip them.
    d = spread_scan(
        read_table(spark, sf_dir, "documents").filter(
            F.col("text").isNotNull() & F.col("n_chars").isNotNull()
        ).select("text", "n_chars")
    )
    qf = quality_features(F.col("text"))
    feats = d.select(
        F.array(
            qf["n_tokens"].cast("double") / 100.0,
            F.coalesce(qf["mean_token_len"], F.lit(0.0)) / 10.0,
            F.coalesce(qf["punct_ratio"], F.lit(0.0)),
            F.coalesce(qf["digit_ratio"], F.lit(0.0)),
            F.coalesce(qf["upper_ratio"], F.lit(0.0)),
            F.coalesce(qf["stopword_ratio"], F.lit(0.0)),
        ).alias("features"),
        (F.col("n_chars") > 290).alias("label"),
    ).localCheckpoint()
    # descent, not convergence (the r11 cox_bound lesson): the gate's
    # booleans need a decreased loss, one accepted step, and AUC > 0.6
    # — 3 Newton iterations deliver AUC 0.9999 at sf0.1 (8 iterations:
    # 0.99999, 2.4x the stats passes for the same gated booleans)
    model = logreg_irls(
        feats, "features", "label", dim=6, reg=1e-3, iterations=3,
        tol=1e-5,
    )
    scored = logreg_score(feats, "features", model["weights"])
    auc_row = binary_auc(scored, "score", "label").collect()[0]
    auc = auc_row["auc"] if auc_row["auc"] is not None else 0.5
    loss_ok = model["loss_path"][-1] < model["loss_path"][0]
    return feats.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("label").cast("int")).cast("bigint").alias("n_pos"),
    ).select(
        "n",
        "n_pos",
        F.lit(bool(loss_ok)).alias("loss_decreased"),
        F.lit(bool(auc > 0.6)).alias("auc_beats_chance"),
        F.lit(bool(model["iterations_run"] >= 1)).alias("converged_steps"),
    )


# --------------------------------------------------------------------------
# Rectangle (4-cycle) census: capped operational + bounded exact twin
# --------------------------------------------------------------------------


def _rect_sql(where: str, cap: int | None) -> str:
    """Rectangle-census oracle, parameterized like _nj_sql: a lineitem
    row filter for the bounded exact twin and a center degree cap for
    the operational gate. n_rectangles = sum_diag_squares/2 only when
    uncapped (capping can break the two-diagonals invariant)."""
    capf = f"AND d <= {cap}" if cap is not None else ""
    rect = (
        "CAST(NULL AS BIGINT)"
        if cap is not None
        else "CAST(coalesce(sum(CAST(codeg * (codeg - 1) / 2 AS BIGINT)), 0) / 2 AS BIGINT)"
    )
    return f"""
    WITH pe AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem {where}),
    e AS (
      SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
      FROM pe a JOIN pe b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey),
    und AS (SELECT lo AS node, hi AS nbr FROM e
            UNION ALL SELECT hi AS node, lo AS nbr FROM e),
    deg AS (SELECT node, count(*) AS d FROM und GROUP BY node),
    wi AS (
      SELECT u.node, u.nbr FROM und u JOIN deg ON u.node = deg.node
      WHERE d > 1 {capf}),
    pairs AS (
      SELECT a.nbr AS u, b.nbr AS v
      FROM wi a JOIN wi b ON a.node = b.node
      WHERE a.nbr < b.nbr),
    inter AS (
      SELECT u, v, CAST(count(*) AS BIGINT) AS codeg
      FROM pairs GROUP BY u, v)
    SELECT CAST(count(*) AS BIGINT) AS n_codeg_pairs,
           CAST(coalesce(sum(CAST(codeg * (codeg - 1) / 2 AS BIGINT)), 0)
             AS BIGINT) AS sum_diag_squares,
           {rect} AS n_rectangles
    FROM inter
    """


@register(
    "q_graph_rectangles",
    _rect_sql("", 90),
    doc=(
        "Rectangle (4-cycle) census of the part co-order graph, "
        "OPERATIONAL degree-capped path (operators/graph."
        "rectangle_count on codegree_pairs, centers capped at degree "
        "<= 90 — the same wedge skeleton, cap rationale and hash-exact "
        "determinism as q_graph_adamic_adar/neighbor_jaccard): "
        "sum_diag_squares = sum over codegree pairs of C(codeg, 2) "
        "counts each square once per diagonal; the capped run reports "
        "the raw diagonal census (n_rectangles NULL) because capping "
        "can drop one diagonal's wedges and break the exactly-twice "
        "invariant — the honest number. Rectangles are the bipartite "
        "cohesion signal triangle metrics can't see (butterfly "
        "counting, Sanei-Mehri et al. 2018). Uncapped semantics gated "
        "by q_graph_rectangles_exact."
    ),
)
def q_graph_rectangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import rectangle_count
    from .round7c_queries import _part_coorder_edges

    edges = _part_coorder_edges(spark, sf_dir)
    return rectangle_count(edges, max_center_degree=90)


@register(
    "q_graph_rectangles_exact",
    _rect_sql("WHERE l_partkey <= 400", None),
    doc=(
        "UNCAPPED rectangle census on the bounded partkey <= 400 "
        "co-order subgraph (wedge work bounded by construction at any "
        "scale factor): n_rectangles = sum_diag_squares / 2 exactly "
        "(every 4-cycle has two diagonals) — the exact-semantics twin "
        "of the capped operational q_graph_rectangles, completing the "
        "AA/NJ contract-pair pattern for the wedge family."
    ),
)
def q_graph_rectangles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import rectangle_count
    from .round7c_queries import _part_coorder_edges

    edges = _part_coorder_edges(spark, sf_dir, part_bound=400)
    return rectangle_count(edges)


# --------------------------------------------------------------------------
# Betweenness on a tree (unique geodesics -> exact Freeman betweenness)
# --------------------------------------------------------------------------


@register(
    "q_graph_tree_betweenness",
    """
    WITH RECURSIVE base AS (
      SELECT doc_id AS n FROM documents WHERE doc_id >= 1 AND doc_id < 80),
    e0 AS (
      SELECT n AS src, CAST(floor((n - 1) / 2.0) AS BIGINT) AS dst
      FROM base),
    sym AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
    walk(src, node, d) AS (
      SELECT src, dst, 1 FROM sym
      UNION
      SELECT w.src, s.dst, w.d + 1
      FROM walk w JOIN sym s ON w.node = s.src
      WHERE w.d < 30),
    mind AS (
      SELECT src, node, min(d) AS d FROM walk
      WHERE src <> node GROUP BY src, node),
    hits AS (
      SELECT DISTINCT a.src AS s, b.node AS t, a.node AS v
      FROM mind a
      JOIN mind b ON a.node = b.src
      JOIN mind st ON st.src = a.src AND st.node = b.node
      WHERE a.src < b.node AND a.d + b.d = st.d),
    nodes AS (SELECT DISTINCT src AS node FROM sym),
    per AS (SELECT v AS node, CAST(count(*) AS BIGINT) AS c
            FROM hits GROUP BY v)
    SELECT CAST(nodes.node AS BIGINT) AS node,
           CAST(coalesce(c, 0) AS BIGINT) AS n_through_pairs
    FROM nodes LEFT JOIN per ON nodes.node = per.node
    """,
    doc=(
        "Exact Freeman betweenness on the 80-node binary-heap tree "
        "over doc ids (edges n -> (n-1)/2, undirected) via operators/"
        "centrality.betweenness_pairs: count unordered pairs (s, t) "
        "with d(s,v) + d(v,t) = d(s,t). On a TREE geodesics are unique "
        "so pair-coverage IS classic betweenness (on general graphs "
        "the operator is the documented 0/1 stress-coverage variant). "
        "Plan: min-plus all-pairs distances + one midpoint-keyed "
        "self-join + one pair-keyed geodesic-identity join — all "
        "equi-joins over the O(reach^2) bounded-subgraph budget. The "
        "oracle replays the identity on a recursive-CTE BFS."
    ),
)
def q_graph_tree_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.centrality import betweenness_pairs

    base = (
        read_table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") >= 1) & (F.col("doc_id") < 80))
        .select(F.col("doc_id").alias("n"))
    )
    edges = base.select(
        F.col("n").alias("src"),
        F.floor((F.col("n") - 1) / 2).cast("bigint").alias("dst"),
    )
    out = betweenness_pairs(edges, directed=False, max_rounds=12)
    return out.select(
        F.col("node").cast("bigint").alias("node"), "n_through_pairs"
    )


# --------------------------------------------------------------------------
# ROUGE-2 short-reference regression gate (the r8 crash class, gated)
# --------------------------------------------------------------------------


@register(
    "q_docs_rouge_short_ref",
    """
    WITH p AS (
      SELECT doc_id AS pid,
             text AS cand,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t,
             CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 5 END AS k
      FROM documents),
    ctoks AS (SELECT pid, t FROM p),
    rtoks AS (SELECT pid, list_slice(t, 1, k) AS t FROM p),
    cg AS (
      SELECT pid, t[i] || ' ' || t[i+1] AS gram,
             CAST(count(*) AS BIGINT) AS cc
      FROM ctoks, unnest(range(1, len(t))) AS u(i)
      GROUP BY pid, gram),
    rg AS (
      SELECT pid, t[i] || ' ' || t[i+1] AS gram,
             CAST(count(*) AS BIGINT) AS cr
      FROM rtoks, unnest(range(1, len(t))) AS u(i)
      GROUP BY pid, gram),
    j AS (
      SELECT coalesce(cg.pid, rg.pid) AS pid,
             coalesce(cc, 0) AS cc, coalesce(cr, 0) AS cr,
             CASE WHEN cc IS NOT NULL AND cr IS NOT NULL
                  THEN least(cc, cr) ELSE 0 END AS clip
      FROM cg FULL OUTER JOIN rg
        ON cg.pid = rg.pid AND cg.gram = rg.gram),
    per AS (
      SELECT pid, CAST(sum(cr) AS BIGINT) AS n_ref_grams,
             CAST(sum(cc) AS BIGINT) AS n_cand_grams,
             CAST(sum(clip) AS BIGINT) AS n_clipped
      FROM j GROUP BY pid)
    SELECT p.pid AS doc_id,
           coalesce(n_ref_grams, 0) AS n_ref_grams,
           coalesce(n_cand_grams, 0) AS n_cand_grams,
           coalesce(n_clipped, 0) AS n_clipped,
           round(CASE WHEN coalesce(n_ref_grams, 0) > 0 THEN
             n_clipped / CAST(n_ref_grams AS DOUBLE) END, 6) + 0.0
             AS rouge_recall
    FROM p LEFT JOIN per ON p.pid = per.pid
    """,
    doc=(
        "ROUGE-2 short-reference REGRESSION gate (operators/evaluation."
        "rouge_n): every document scored against a truncated reference "
        "— its own first token when doc_id %% 3 = 0 (ZERO bigrams "
        "possible), first five tokens otherwise — so a third of the "
        "pairs exercise the < n-token guard the r8-committed red test "
        "exposed (Spark's sequence(1, 0) is descending and slice(toks, "
        "0, n) throws; the fixed operator short-circuits to an empty "
        "gram array -> 0 grams, NULL recall, the honest value). "
        "Sf-independent by construction: the short-ref class exists at "
        "every scale factor, so the crash class can never again pass "
        "the gate by data luck."
    ),
)
def q_docs_rouge_short_ref(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.evaluation import rouge_n

    d = read_table(spark, sf_dir, "documents")
    toks = word_tokens(F.col("text"))
    k = F.when(F.col("doc_id") % 3 == 0, F.lit(1)).otherwise(F.lit(5))
    pairs = d.select(
        "doc_id",
        F.col("text").alias("cand"),
        F.array_join(F.slice(toks, 1, k), " ").alias("ref"),
    )
    out = rouge_n(pairs, "doc_id", "cand", "ref", n=2)
    return out.select(
        "doc_id",
        "n_ref_grams",
        "n_cand_grams",
        "n_clipped",
        "rouge_recall",
    )
