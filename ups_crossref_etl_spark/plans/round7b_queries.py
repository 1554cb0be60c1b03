"""Round-7 wave 3-8 query registrations.

New operator families (each the Spark-first expression of a standard
corpus/metric tool, each with an exact DuckDB oracle twin):

- rank statistics: per-key Kendall tau-b (tie-exact, with the Theil-Sen
  stride cap for hot keys), truncated rank-biased overlap, Mann-Whitney
  U with Cliff's delta;
- concentration / uncertainty: per-group Gini coefficient,
  delete-one-group jackknife SE, md5-randomization permutation test,
  split-conformal prediction intervals, difference-in-differences;
- scorer triage: cumulative-gains / lift deciles, exact average
  precision, PAVA-as-minimax isotonic calibration;
- corpus audits: per-doc n-gram novelty vs a reference partition,
  embedding cosine histogram over deterministic stride pairs, Chao1 +
  Good-Turing vocabulary richness, classical seasonal decomposition,
  inter-event burstiness, QQ decile tables, MI/chi2 association,
  Gini/weighted-median/decayed-score aggregates;
- entity resolution / embeddings / privacy / survival: sorted-
  neighborhood blocking, Procrustes alignment (invariant-pinned),
  seeded-Laplace DP release simulation, Nelson-Aalen hazard,
  Fisher separability.

Determinism: every query follows the registry contract — exact integer
/ DECIMAL accumulation wherever a sum crosses engines, doubles only in
final one-shot expressions, ROUND + 0.0 on every float output, total-
order tiebreaks on every rank/ntile.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import word_tokens
from ..sources.lake import read_table
from .registry import register

# --------------------------------------------------------------------------
# Kendall tau-b per key
# --------------------------------------------------------------------------


@register(
    "q_events_kendall_tau",
    """
    WITH pts AS (
      SELECT user_id AS k, CAST(floor(epoch(ts)) AS BIGINT) AS x,
             CAST(value AS DOUBLE) AS y
      FROM events WHERE value IS NOT NULL),
    r AS (
      SELECT k, x, y,
             row_number() OVER (PARTITION BY k ORDER BY x, y) AS rn
      FROM pts),
    pairs AS (
      SELECT a.k, (b.x > a.x) AS xgt, (b.x = a.x) AS xeq,
             sign(b.y - a.y) AS sy
      FROM r a JOIN r b ON a.k = b.k AND b.rn > a.rn),
    agg AS (
      SELECT k, count(*) AS n0,
             sum(CASE WHEN xgt AND sy > 0 THEN 1 ELSE 0 END) AS c,
             sum(CASE WHEN xgt AND sy < 0 THEN 1 ELSE 0 END) AS d,
             sum(CASE WHEN xeq THEN 1 ELSE 0 END) AS n1,
             sum(CASE WHEN sy = 0 THEN 1 ELSE 0 END) AS n2
      FROM pairs GROUP BY k),
    np AS (SELECT k, count(*) AS n_points FROM r GROUP BY k)
    SELECT agg.k AS user_id,
           CAST(np.n_points AS BIGINT) AS n_points,
           CAST(c AS BIGINT) AS concordant,
           CAST(d AS BIGINT) AS discordant,
           round(CAST(c - d AS DOUBLE)
                 / sqrt(CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n2 AS DOUBLE)),
                 6) + 0.0 AS tau_b
    FROM agg JOIN np ON agg.k = np.k
    """,
    doc=(
        "Per-user Kendall tau-b of value vs time (operators/stats."
        "kendall_tau): the tie-exact rank correlation — tau_b = (C-D)/"
        "sqrt((n0-n1)(n0-n2)) with x-tied and y-tied pair counts from "
        "ONE rn_b > rn_a self-join per key (pairs enumerated once via a "
        "row_number over (x, y), so tied rows classify symmetrically and "
        "the result is permutation-independent). Same key-clustered "
        "quadratic shape as Theil-Sen, with the same stride cap available "
        "for hot keys (pytest-pinned); all counts are exact integers, "
        "tau_b is one double expression rounded 6 dp."
    ),
)
def q_events_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import kendall_tau

    e = read_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return kendall_tau(e, "user_id", "ts", "value")


# --------------------------------------------------------------------------
# Gini concentration per group
# --------------------------------------------------------------------------


@register(
    "q_orders_gini_by_nation",
    """
    WITH pc AS (
      SELECT c.c_nationkey AS nk, o.o_custkey AS ck,
             CAST(sum(CAST(o.o_totalprice * 100 AS BIGINT)) AS BIGINT) AS v
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2),
    r AS (
      SELECT nk, v,
             row_number() OVER (PARTITION BY nk ORDER BY v, ck) AS i
      FROM pc)
    SELECT nk AS c_nationkey,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(v) AS BIGINT) AS total,
           round((2.0 * CAST(sum(i * v) AS DOUBLE))
                 / (CAST(count(*) AS DOUBLE) * CAST(sum(v) AS DOUBLE))
                 - CAST(count(*) + 1 AS DOUBLE) / CAST(count(*) AS DOUBLE),
                 6) + 0.0 AS gini
    FROM r GROUP BY nk
    """,
    doc=(
        "Per-nation Gini concentration of customer lifetime spend "
        "(operators/stats.gini_coefficient): the sorted-rank closed form "
        "G = 2*sum(i*x_i)/(n*sum x) - (n+1)/n over cent-exact BIGINT "
        "spend, ranks from one per-group window with a (value, custkey) "
        "total-order tiebreak. The corpus-skew diagnostic ('is 90% of "
        "this source's volume three customers/domains') as one window + "
        "one aggregate — the same shuffle budget as any ntile pass."
    ),
)
def q_orders_gini_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import gini_coefficient

    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    per = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey", "o_custkey")
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("cents")
        )
    )
    return gini_coefficient(per, "c_nationkey", "cents", "o_custkey")


# --------------------------------------------------------------------------
# Rank-biased overlap between two rankings
# --------------------------------------------------------------------------


@register(
    "q_docs_rbo_rankings",
    """
    WITH base AS (
      SELECT doc_id, n_chars,
             len([x for x in regexp_split_to_array(lower(text), '[^a-z0-9]+')
                  IF x <> '']) AS n_words
      FROM documents),
    ra AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY n_chars DESC, doc_id) AS r
      FROM base QUALIFY r <= 50),
    rb AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY n_words DESC, doc_id) AS r
      FROM base QUALIFY r <= 50),
    ks AS (SELECT CAST(unnest(range(1, 51)) AS BIGINT) AS k),
    w AS (
      SELECT k,
             CAST(round(sum(pow(0.9, k - 1) / k)
                        OVER (ORDER BY k DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) * 1e12) AS BIGINT) AS pico
      FROM ks),
    m AS (
      SELECT greatest(ra.r, rb.r) AS k
      FROM ra JOIN rb ON ra.doc_id = rb.doc_id),
    s AS (
      SELECT count(*) AS n_overlap, sum(w.pico) AS sp
      FROM m JOIN w ON m.k = w.k)
    SELECT CAST(50 AS BIGINT) AS depth,
           CAST(COALESCE(n_overlap, 0) AS BIGINT) AS n_overlap,
           round((1.0 - 0.9) * CAST(COALESCE(sp, 0) AS DOUBLE) / 1e12, 6)
             + 0.0 AS rbo
    FROM s
    """,
    doc=(
        "Truncated rank-biased overlap at depth 50, p=0.9 (operators/"
        "evaluation.rank_biased_overlap, Webber et al. 2010) between the "
        "by-chars and by-words document rankings: the top-weighted "
        "ranking-drift metric for scorer / index swaps. Uses the suffix-"
        "weight identity (an id at ranks ra, rb contributes "
        "W_max(ra,rb) = sum_{k>=m} p^{k-1}/k), the weight table built by "
        "one 50-row suffix window cumsum and quantized to BIGINT picos "
        "so the cross-engine accumulation is exact integer addition."
    ),
)
def q_docs_rbo_rankings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.evaluation import rank_biased_overlap

    d = read_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        "n_chars",
        F.size(word_tokens(F.col("text"))).alias("n_words"),
    )
    # Top-50 via orderBy().limit() — a distributed TakeOrdered — with the
    # rank window applied AFTER the limit, over 50 rows only. A global
    # row_number() window over the full table would move every document
    # to one partition (the r7 scale-killer finding); this shape keeps
    # the full-table work distributed and only the bounded 50-row rank
    # assignment single-partition.
    oa = [F.col("n_chars").desc(), F.col("doc_id").asc()]
    ob = [F.col("n_words").desc(), F.col("doc_id").asc()]
    ra = (
        base.orderBy(*oa)
        .limit(50)
        .select("doc_id", F.row_number().over(Window.orderBy(*oa)).alias("rank"))
    )
    rb = (
        base.orderBy(*ob)
        .limit(50)
        .select("doc_id", F.row_number().over(Window.orderBy(*ob)).alias("rank"))
    )
    return rank_biased_overlap(ra, rb, "doc_id", "rank", depth=50, p=0.9)


# --------------------------------------------------------------------------
# Jackknife ratio SE
# --------------------------------------------------------------------------


@register(
    "q_lineitem_jackknife_ratio",
    """
    WITH per AS (
      SELECT l_suppkey AS g,
             sum(l_extendedprice * (1 - l_discount)) AS sn,
             sum(l_quantity) AS sd
      FROM lineitem GROUP BY 1),
    tot AS (SELECT sum(sn) AS tn, sum(sd) AS td, count(*) AS ng FROM per),
    loo AS (
      SELECT t.ng, t.tn, t.td,
             CAST(round(CAST(t.tn - p.sn AS DOUBLE)
                        / CAST(t.td - p.sd AS DOUBLE) * 1e9) AS BIGINT) AS th
      FROM per p CROSS JOIN tot t),
    s AS (
      SELECT ng, tn, td, sum(th) AS s1,
             sum(CAST(th AS HUGEINT) * th) AS s2
      FROM loo GROUP BY 1, 2, 3)
    SELECT CAST(ng AS BIGINT) AS n_groups,
           round(CAST(tn AS DOUBLE) / CAST(td AS DOUBLE), 6) + 0.0
             AS theta_hat,
           round(sqrt((CAST(ng - 1 AS DOUBLE) / CAST(ng AS DOUBLE))
                      * (CAST(s2 AS DOUBLE)
                         - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                           / CAST(ng AS DOUBLE)))
                 / 1e9, 6) + 0.0 AS jackknife_se
    FROM s
    """,
    doc=(
        "Delete-one-SUPPLIER jackknife standard error for revenue-per-"
        "unit (operators/stats.jackknife_ratio_se): the cluster-robust "
        "uncertainty readout for ratio-of-sums statistics — leave each "
        "whole group out, theta_(i) from exact DECIMAL group sums, "
        "se^2 = (g-1)/g * sum(theta_(i) - mean)^2 accumulated as BIGINT "
        "nanos (squares in 38-digit decimal / HUGEINT — nano^2 overflows "
        "int64). Two aggregates + one broadcast total: distributes to "
        "any row count; the per-group table is g rows."
    ),
)
def q_lineitem_jackknife_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import jackknife_ratio_se

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        (
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
        ).alias("revenue"),
        F.col("l_quantity").alias("qty"),
    )
    return jackknife_ratio_se(li, "l_suppkey", "revenue", "qty")


# --------------------------------------------------------------------------
# Permutation (hash-randomization) test
# --------------------------------------------------------------------------


@register(
    "q_events_permutation_test",
    """
    WITH base AS (
      SELECT CAST(event_id AS VARCHAR) AS id,
             event_type = 'click' AS isa,
             CAST(round(CAST(value AS DOUBLE) * 1e9) AS BIGINT) AS v
      FROM events
      WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
    obs AS (
      SELECT CAST(sum(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN NOT isa THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             round(CAST(sum(CASE WHEN isa THEN v END) AS DOUBLE)
                   / CAST(sum(CASE WHEN isa THEN 1 END) AS DOUBLE) / 1e9
                   - CAST(sum(CASE WHEN NOT isa THEN v END) AS DOUBLE)
                   / CAST(sum(CASE WHEN NOT isa THEN 1 END) AS DOUBLE) / 1e9,
                   6) + 0.0 AS t_obs
      FROM base),
    reps AS (
      SELECT bs.b, base.v,
             CAST('0x' || substr(md5('perm:' || base.id || ':'
                                     || CAST(bs.b AS VARCHAR)), 1, 8)
                  AS BIGINT) % 2 = 0 AS ca
      FROM base CROSS JOIN (SELECT unnest(range(1, 201)) AS b) bs),
    tb AS (
      SELECT b,
             round(CAST(sum(CASE WHEN ca THEN v END) AS DOUBLE)
                   / CAST(sum(CASE WHEN ca THEN 1 END) AS DOUBLE) / 1e9
                   - CAST(sum(CASE WHEN NOT ca THEN v END) AS DOUBLE)
                   / CAST(sum(CASE WHEN NOT ca THEN 1 END) AS DOUBLE) / 1e9,
                   6) + 0.0 AS t
      FROM reps GROUP BY b),
    ex AS (
      SELECT CAST(count(*) FILTER (
               WHERE abs(t) >= abs((SELECT t_obs FROM obs))) AS BIGINT)
               AS n_extreme
      FROM tb)
    SELECT obs.n_a, obs.n_b, obs.t_obs, ex.n_extreme,
           round(CAST(1 + ex.n_extreme AS DOUBLE) / 201.0, 6) + 0.0
             AS p_value
    FROM obs CROSS JOIN ex
    """,
    doc=(
        "md5-randomization test for the click-vs-view mean-value gap "
        "(operators/experiment.permutation_test, B=200): relabel every "
        "row per replicate by the md5(seed:id:b) coin — the same "
        "reproducible-coin recipe as the Poisson bootstrap — and report "
        "the add-one Monte-Carlo p-value (Phipson & Smyth 2010). Values "
        "lift to BIGINT nanos so every replicate mean is exact-integer "
        "arithmetic until one rounded division; the replicate table is "
        "one explode + ONE B-keyed map-side-combinable aggregate."
    ),
)
def q_events_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.experiment import permutation_test

    e = read_table(spark, sf_dir, "events")
    return permutation_test(
        e, "event_id", "event_type", "value", "click", "view",
        n_permutations=200, seed="perm",
    )


# --------------------------------------------------------------------------
# Lift / cumulative-gains deciles
# --------------------------------------------------------------------------


@register(
    "q_emb_lift_deciles",
    """
    WITH b AS (
      SELECT vec_id, embedding[1] AS s,
             CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y
      FROM embeddings),
    t AS (SELECT y, ntile(10) OVER (ORDER BY s DESC, vec_id) AS tile FROM b),
    per AS (SELECT tile, count(*) AS n, sum(y) AS np FROM t GROUP BY tile),
    c AS (
      SELECT tile, n, np,
             sum(n) OVER (ORDER BY tile
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cn,
             sum(np) OVER (ORDER BY tile
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cp,
             sum(np) OVER () AS tp,
             sum(n) OVER () AS tn
      FROM per)
    SELECT CAST(tile AS BIGINT) AS tile,
           CAST(n AS BIGINT) AS n,
           CAST(np AS BIGINT) AS n_pos,
           CAST(cn AS BIGINT) AS cum_n,
           CAST(cp AS BIGINT) AS cum_pos,
           round(CAST(cp AS DOUBLE) / CAST(tp AS DOUBLE), 6) + 0.0
             AS capture,
           round((CAST(cp AS DOUBLE) / CAST(cn AS DOUBLE))
                 / (CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE)), 6) + 0.0
             AS lift
    FROM c
    """,
    doc=(
        "Cumulative-gains / lift deciles for the first-coordinate scorer "
        "against the label>=5 target (operators/evaluation.lift_table): "
        "the keep-the-top-X% triage readout a quality-filter threshold "
        "decision needs — capture (share of positives recovered) and "
        "lift (cumulative precision over base rate) per ntile(10) tile "
        "with a (score DESC, id) total-order tiebreak; every output a "
        "ratio of exact integer counts rounded 6 dp."
    ),
)
def q_emb_lift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.evaluation import lift_table

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding")[0].alias("score"),
        (F.col("label") >= 5).cast("int").alias("y"),
    )
    return lift_table(emb, "score", "y", "vec_id", n_tiles=10)


# --------------------------------------------------------------------------
# N-gram novelty vs reference partition
# --------------------------------------------------------------------------


@register(
    "q_docs_ngram_novelty",
    """
    WITH toks AS (
      SELECT doc_id, doc_id % 5 = 0 AS is_ref,
             [x for x in regexp_split_to_array(lower(text), '[^a-z0-9]+')
              IF x <> ''] AS tk
      FROM documents),
    grams AS (
      SELECT doc_id, is_ref,
             array_to_string(list_slice(tk, i, i + 2), ' ') AS g
      FROM (SELECT doc_id, is_ref, tk, unnest(range(1, len(tk) - 1)) AS i
            FROM toks WHERE len(tk) >= 3)
      UNION ALL
      SELECT doc_id, is_ref, array_to_string(tk, ' ') AS g
      FROM toks WHERE len(tk) < 3),
    gh AS (
      SELECT DISTINCT doc_id, is_ref,
             CAST('0x' || substr(md5(g), 1, 10) AS BIGINT) AS h
      FROM grams),
    ref AS (SELECT DISTINCT h FROM gh WHERE is_ref),
    ev AS (SELECT doc_id, h FROM gh WHERE NOT is_ref)
    SELECT ev.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN ref.h IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           round(CAST(sum(CASE WHEN ref.h IS NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) + 0.0
             AS novelty
    FROM ev LEFT JOIN ref ON ev.h = ref.h
    GROUP BY ev.doc_id
    """,
    doc=(
        "Per-document 3-gram novelty against the doc_id%5=0 reference "
        "partition (operators/text_analysis.ngram_novelty): the HOW-MUCH-"
        "recycled score n-gram decontamination pipelines threshold on "
        "(GPT-3 appendix's 13-gram rule, k parameterized), complementing "
        "bloom_decontam's yes/no membership bit. Scan shape is the dedup "
        "discipline — posexplode + lead() window gram assembly (no "
        "per-row array blowup), md5-40-bit gram hashes, one hash-keyed "
        "left join against the distinct reference set; text never "
        "shuffles. Short docs contribute one full-text gram, nothing "
        "drops."
    ),
)
def q_docs_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text_analysis import ngram_novelty

    d = read_table(spark, sf_dir, "documents").withColumn(
        "is_ref", F.col("doc_id") % 5 == 0
    )
    return ngram_novelty(d, "text", "doc_id", "is_ref", k=3)


# --------------------------------------------------------------------------
# Cosine pair histogram
# --------------------------------------------------------------------------


@register(
    "q_emb_cosine_histogram",
    """
    WITH pairs AS (
      SELECT o.off AS po, a.vec_id AS ia,
             a.embedding AS va, b.embedding AS vb
      FROM (SELECT unnest([1, 37]) AS off) o
      CROSS JOIN embeddings a
      JOIN embeddings b ON b.vec_id = a.vec_id + o.off),
    dots AS (
      SELECT po, ia, sum(av * bv) AS d,
             sum(av * av) AS na, sum(bv * bv) AS nb
      FROM (SELECT po, ia, unnest(va)::DOUBLE AS av,
                   unnest(vb)::DOUBLE AS bv
            FROM pairs) z
      GROUP BY 1, 2),
    binned AS (
      SELECT po,
             least(19, CAST(floor((round(d / (sqrt(na) * sqrt(nb)), 6)
                                   + 1.0) / 0.1) AS INT)) AS bin
      FROM dots)
    SELECT CAST(po AS BIGINT) AS pair_offset,
           CAST(bin AS BIGINT) AS bin,
           round(CAST(bin AS DOUBLE) * 0.1 - 1.0, 2) + 0.0 AS lo,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM binned GROUP BY po, bin
    """,
    doc=(
        "Embedding-geometry audit (operators/similarity."
        "cosine_pair_histogram): 20-bin histogram of pairwise cosines "
        "over the deterministic id-stride pair sample (offsets 1 and 37) "
        "— the collapsed-embeddings / un-centered-space health check run "
        "before trusting any cosine-thresholded stage (SemDeDup radii, "
        "ANN recall, hard-negative margins). Stride pairing is an "
        "equi-join per offset (never an all-pairs product) and "
        "reproducible unlike rand() sampling; cosines round 6 dp BEFORE "
        "binning so the bin decision compares identical doubles."
    ),
)
def q_emb_cosine_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_pair_histogram

    emb = read_table(spark, sf_dir, "embeddings")
    return cosine_pair_histogram(
        emb, "vec_id", "embedding", offsets=[1, 37], n_bins=20
    )


# --------------------------------------------------------------------------
# Seasonal decomposition
# --------------------------------------------------------------------------


@register(
    "q_events_seasonal_decompose",
    """
    WITH hourly AS (
      SELECT CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT) AS h,
             sum(CAST(round(CAST(value AS DOUBLE) * 1e6) AS BIGINT)) AS y
      FROM events WHERE value IS NOT NULL GROUP BY 1),
    detr AS (
      SELECT h % 24 AS phase,
             CASE WHEN count(*) OVER w = 25
                  THEN 25 * y - sum(y) OVER w END AS d
      FROM hourly
      WINDOW w AS (ORDER BY h ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING))
    SELECT CAST(phase AS BIGINT) AS phase,
           CAST(count(*) AS BIGINT) AS n_obs,
           round(CAST(sum(d) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                 / 25.0 / 1e6, 4) + 0.0 AS seasonal_idx
    FROM detr WHERE d IS NOT NULL GROUP BY 1
    """,
    doc=(
        "Classical additive seasonal decomposition of the hourly value "
        "series (operators/timeseries.seasonal_decompose, period 24, "
        "centered 25-point MA, full windows only): the seasonal "
        "component itself, complementing seasonal_baseline_backtest's "
        "forecast scoring. Integer-micros discipline throughout — the "
        "detrended value is kept as the EXACT integer 25*y - sum(window) "
        "(no division until the final per-phase average), so the gate is "
        "hash-exact. One fact-sized hour aggregate, one series-sized "
        "window, one 24-key aggregate."
    ),
)
def q_events_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import seasonal_decompose

    e = read_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return seasonal_decompose(e, "ts", "value", period=24, ma_window=25)


# --------------------------------------------------------------------------
# Time-decayed score
# --------------------------------------------------------------------------


@register(
    "q_events_decayed_user_score",
    """
    WITH t AS (
      SELECT user_id,
             CAST(round(CAST(value AS DOUBLE)
                        * pow(2.0, -((1706745600 - floor(epoch(ts)))
                                     / 86400.0))
                        * 1e12) AS BIGINT) AS p
      FROM events WHERE value IS NOT NULL)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(sum(p) AS DOUBLE) / 1e12, 6) + 0.0 AS decayed_score
    FROM t GROUP BY user_id
    """,
    doc=(
        "Per-user exponentially time-decayed engagement score at a "
        "pinned anchor (operators/timeseries.decayed_score, 24 h "
        "half-life): the recency-weighted hot-source / reputation "
        "signal as ONE stateless map + key aggregate — no window, no "
        "per-key sort, unlike row-ordered EWMA. Each row's "
        "value*2^(-dt/h) term quantizes to BIGINT picos before the sum, "
        "so accumulation is order-independent exact integer addition."
    ),
)
def q_events_decayed_user_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import decayed_score

    e = read_table(spark, sf_dir, "events")
    # anchor: 2024-02-01 00:00:00 UTC, just past the events' time span
    return decayed_score(
        e, "user_id", "ts", "value",
        half_life_hours=24.0, anchor_epoch=1706745600,
    )


# --------------------------------------------------------------------------
# Categorical association (MI / NMI / chi2 / Cramer's V)
# --------------------------------------------------------------------------


@register(
    "q_events_type_hour_association",
    """
    WITH base AS (
      SELECT event_type AS a,
             CAST(CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT) % 24
                  AS VARCHAR) AS b
      FROM events),
    cells AS (SELECT a, b, count(*) AS nab FROM base GROUP BY 1, 2),
    ma AS (SELECT a, sum(nab) AS na FROM cells GROUP BY 1),
    mb AS (SELECT b, sum(nab) AS nb FROM cells GROUP BY 1),
    tot AS (
      SELECT sum(nab) AS n, count(*) AS ncells,
             count(DISTINCT a) AS r, count(DISTINCT b) AS c
      FROM cells),
    terms AS (
      SELECT CAST(round((CAST(nab AS DOUBLE) / CAST(n AS DOUBLE))
                        * ln(CAST(n AS DOUBLE) * CAST(nab AS DOUBLE)
                             / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)))
                        * 1e12) AS BIGINT) AS mip,
             CAST(round(CAST(nab AS DOUBLE) * CAST(nab AS DOUBLE)
                        / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
                           / CAST(n AS DOUBLE))
                        * 1e12) AS BIGINT) AS chip
      FROM cells JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN tot),
    sa AS (
      SELECT sum(CAST(round(-(CAST(na AS DOUBLE) / CAST(n AS DOUBLE))
                            * ln(CAST(na AS DOUBLE) / CAST(n AS DOUBLE))
                            * 1e12) AS BIGINT)) AS sha
      FROM ma CROSS JOIN tot),
    sb AS (
      SELECT sum(CAST(round(-(CAST(nb AS DOUBLE) / CAST(n AS DOUBLE))
                            * ln(CAST(nb AS DOUBLE) / CAST(n AS DOUBLE))
                            * 1e12) AS BIGINT)) AS shb
      FROM mb CROSS JOIN tot),
    acc AS (SELECT sum(mip) AS smi, sum(chip) AS schi FROM terms)
    SELECT CAST(tot.n AS BIGINT) AS n_rows,
           CAST(tot.ncells AS BIGINT) AS n_cells,
           round(CAST(acc.smi AS DOUBLE) / 1e12, 6) + 0.0 AS mi,
           round(CAST(sa.sha AS DOUBLE) / 1e12, 6) + 0.0 AS h_a,
           round(CAST(sb.shb AS DOUBLE) / 1e12, 6) + 0.0 AS h_b,
           round(CASE WHEN sa.sha > 0 AND sb.shb > 0 THEN
                   (CAST(acc.smi AS DOUBLE) / 1e12)
                   / sqrt((CAST(sa.sha AS DOUBLE) / 1e12)
                          * (CAST(sb.shb AS DOUBLE) / 1e12))
                 ELSE 0.0 END, 6) + 0.0 AS nmi,
           round(greatest(CAST(acc.schi AS DOUBLE) / 1e12
                          - CAST(tot.n AS DOUBLE), CAST(0 AS DOUBLE)), 6)
             + 0.0 AS chi2,
           round(CASE WHEN least(tot.r - 1, tot.c - 1) > 0 THEN
                   sqrt(greatest(CAST(acc.schi AS DOUBLE) / 1e12
                                 - CAST(tot.n AS DOUBLE), CAST(0 AS DOUBLE))
                        / (CAST(tot.n AS DOUBLE)
                           * CAST(least(tot.r - 1, tot.c - 1) AS DOUBLE)))
                 ELSE 0.0 END, 6) + 0.0 AS cramers_v
    FROM tot CROSS JOIN acc CROSS JOIN sa CROSS JOIN sb
    """,
    doc=(
        "Association profile between event_type and hour-of-day "
        "(operators/association.categorical_association): mutual "
        "information (nats) with entropies and NMI, plus Pearson chi2 "
        "and Cramer's V — 'is this column safe as a stratification / "
        "mixing key' from ONE contingency aggregate. Every per-cell "
        "term quantizes to BIGINT picos before its sum (exact cross-"
        "engine accumulation); margins broadcast back to cells."
    ),
)
def q_events_type_hour_association(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..functions.dates import epoch_seconds
    from ..operators.association import categorical_association

    e = read_table(spark, sf_dir, "events").select(
        "event_type",
        (
            (F.floor(epoch_seconds(F.col("ts")) / 3600)).cast("bigint") % 24
        ).alias("hod"),
    )
    return categorical_association(e, "event_type", "hod")


# --------------------------------------------------------------------------
# Weighted median
# --------------------------------------------------------------------------


@register(
    "q_lineitem_weighted_median_price",
    """
    WITH b AS (
      SELECT l_returnflag AS g,
             CAST(l_extendedprice * 100 AS BIGINT) AS v,
             CAST(l_quantity AS BIGINT) AS w,
             l_orderkey * 10 + l_linenumber AS tb
      FROM lineitem),
    c AS (
      SELECT g, v,
             sum(w) OVER (PARTITION BY g ORDER BY v, tb
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cw,
             sum(w) OVER (PARTITION BY g) AS tw
      FROM b),
    m AS (
      SELECT g, min(v) AS weighted_median, max(tw) AS total_weight
      FROM c WHERE 2 * cw >= tw GROUP BY g),
    n AS (SELECT g, count(*) AS n FROM b GROUP BY g)
    SELECT m.g AS l_returnflag,
           CAST(n.n AS BIGINT) AS n,
           CAST(m.total_weight AS BIGINT) AS total_weight,
           CAST(m.weighted_median AS BIGINT) AS weighted_median
    FROM m JOIN n ON m.g = n.g
    """,
    doc=(
        "Quantity-weighted LOWER median of the extended price per return flag (operators/association.weighted_median): the volume-"
        "weighted 'typical' price a plain median misstates when rows "
        "carry unequal mass. Lower-median semantics pick an ACTUAL data "
        "value (smallest v with 2*cumweight >= total) — no "
        "interpolation, so the gate is exact with zero float caveats: "
        "BIGINT cent values, BIGINT cumulative weights, one per-group "
        "window + one aggregate."
    ),
)
def q_lineitem_weighted_median_price(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.association import weighted_median

    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
        F.col("l_quantity").cast("bigint").alias("qty"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("tb"),
    )
    return weighted_median(li, "l_returnflag", "cents", "qty", "tb")


# --------------------------------------------------------------------------
# Isotonic (PAVA) calibration via the minimax identity
# --------------------------------------------------------------------------


@register(
    "q_emb_isotonic_calibration",
    """
    WITH b AS (
      SELECT vec_id, embedding[1] AS s,
             CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y
      FROM embeddings),
    t AS (SELECT y, ntile(20) OVER (ORDER BY s ASC, vec_id ASC) AS bin
          FROM b),
    per AS (SELECT bin, count(*) AS n, sum(y) AS np FROM t GROUP BY bin),
    pre AS (
      SELECT bin, n, np,
             sum(n) OVER wo AS cn, sum(np) OVER wo AS cp
      FROM per
      WINDOW wo AS (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW)),
    pairs AS (
      SELECT lo.bin AS j, hi.bin AS k,
             CAST(hi.cp - (lo.cp - lo.np) AS DOUBLE)
               / CAST(hi.cn - (lo.cn - lo.n) AS DOUBLE) AS avgjk
      FROM pre lo JOIN pre hi ON hi.bin >= lo.bin),
    m AS (
      SELECT j, k AS bin,
             min(avgjk) OVER (PARTITION BY j ORDER BY k DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS mjk
      FROM pairs),
    fit AS (SELECT bin, max(mjk) AS f FROM m GROUP BY bin)
    SELECT CAST(per.bin AS BIGINT) AS bin,
           CAST(per.n AS BIGINT) AS n,
           CAST(per.np AS BIGINT) AS n_pos,
           round(CAST(per.np AS DOUBLE) / CAST(per.n AS DOUBLE), 6) + 0.0
             AS rate,
           round(fit.f, 6) + 0.0 AS fitted
    FROM per JOIN fit ON per.bin = fit.bin
    """,
    doc=(
        "Isotonic (PAVA) calibration of the first-coordinate scorer over "
        "20 score bins (operators/evaluation.isotonic_calibrate): the "
        "textbook pool-adjacent-violators stack scan is sequential, so "
        "this uses the minimax identity fitted_i = max_{j<=i} min_{k>=i} "
        "mean(y[j..k]) instead — prefix sums make every interval mean a "
        "ratio of exact integers, a bins^2 pair table + per-j running "
        "min + per-i max finish it. Hash-exact with NO quantization: "
        "min/max over identical doubles are order-independent. The "
        "corpus-sized work is one ntile window; the minimax is "
        "model-sized."
    ),
)
def q_emb_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.evaluation import isotonic_calibrate

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding")[0].alias("score"),
        (F.col("label") >= 5).cast("int").alias("y"),
    )
    return isotonic_calibrate(emb, "score", "y", "vec_id", n_bins=20)


# --------------------------------------------------------------------------
# Average precision
# --------------------------------------------------------------------------


@register(
    "q_emb_average_precision",
    """
    WITH r AS (
      SELECT CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y,
             row_number() OVER wo AS rk,
             sum(CASE WHEN label >= 5 THEN 1 ELSE 0 END) OVER
               (ORDER BY embedding[1] DESC, vec_id ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp
      FROM embeddings
      WINDOW wo AS (ORDER BY embedding[1] DESC, vec_id ASC))
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(y) AS BIGINT) AS n_pos,
           round(CAST(sum(CASE WHEN y = 1 THEN
                            CAST(round(CAST(cp AS DOUBLE)
                                       / CAST(rk AS DOUBLE) * 1e12)
                                 AS BIGINT)
                          ELSE 0 END) AS DOUBLE)
                 / 1e12 / CAST(sum(y) AS DOUBLE), 6) + 0.0 AS ap
    FROM r
    """,
    doc=(
        "Exact average precision of the first-coordinate scorer "
        "(operators/evaluation.average_precision): AP = mean over "
        "positives of precision@rank under the (score DESC, id) total "
        "order — the class-imbalance-honest companion to binary_auc. "
        "Each precision@rank is a ratio of exact integers quantized to "
        "BIGINT picos before the sum; one window pass + one aggregate."
    ),
)
def q_emb_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.evaluation import average_precision

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding")[0].alias("score"),
        (F.col("label") >= 5).cast("int").alias("y"),
    )
    return average_precision(emb, "score", "y", "vec_id")


# --------------------------------------------------------------------------
# Embedding class separability
# --------------------------------------------------------------------------


@register(
    "q_emb_separability",
    """
    WITH rows_ AS (
      SELECT l, i, CAST(round(v * 1e6) AS BIGINT) AS m
      FROM (SELECT label AS l, unnest(embedding)::DOUBLE AS v,
                   unnest(range(1, len(embedding) + 1)) AS i
            FROM embeddings) z),
    per AS (
      SELECT l, i, count(*) AS n, sum(m) AS s1, sum(m * m) AS s2
      FROM rows_ GROUP BY 1, 2),
    gtot AS (SELECT i, sum(n) AS gn, sum(s1) AS gs1 FROM per GROUP BY i),
    j AS (SELECT per.*, gtot.gn, gtot.gs1
          FROM per JOIN gtot ON per.i = gtot.i),
    acc AS (
      SELECT sum(CAST(round(CAST(s2 AS DOUBLE)
                            - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                              / CAST(n AS DOUBLE)) AS BIGINT)) AS w,
             sum(CAST(round(CAST(n AS DOUBLE)
                            * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)
                               - CAST(gs1 AS DOUBLE) / CAST(gn AS DOUBLE))
                            * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)
                               - CAST(gs1 AS DOUBLE) / CAST(gn AS DOUBLE)))
                      AS BIGINT)) AS b,
             max(gn) AS nv, count(DISTINCT l) AS nl
      FROM j)
    SELECT CAST(nv AS BIGINT) AS n_vecs,
           CAST(nl AS BIGINT) AS n_labels,
           round(CAST(w AS DOUBLE) / CAST(nv AS DOUBLE) / 1e12, 6) + 0.0
             AS within_var,
           round(CAST(b AS DOUBLE) / CAST(nv AS DOUBLE) / 1e12, 6) + 0.0
             AS between_var,
           round(CASE WHEN w > 0 THEN CAST(b AS DOUBLE) / CAST(w AS DOUBLE)
                 END, 6) + 0.0 AS fisher_ratio
    FROM acc
    """,
    doc=(
        "Fisher-style separability audit of the labeled embedding space "
        "(operators/similarity.embedding_separability): between-class vs "
        "within-class scatter and their ratio, from per-(label, dim) "
        "sufficient statistics (n, sum, sum-of-squares) — ONE posexplode "
        "+ aggregate over the corpus; the shuffle carries labels x dims "
        "rows, never vectors. Coordinates quantize to BIGINT micros on "
        "ingest so the sums are exact; the go/no-go check before using "
        "labels as a blocking or stratification key."
    ),
)
def q_emb_separability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import embedding_separability

    emb = read_table(spark, sf_dir, "embeddings")
    return embedding_separability(emb, "embedding", "label")


# --------------------------------------------------------------------------
# Nelson-Aalen cumulative hazard
# --------------------------------------------------------------------------


@register(
    "q_events_nelson_aalen",
    """
    WITH e AS (
      SELECT user_id AS u, event_type AS t, epoch_us(ts) AS us
      FROM events),
    entry AS (SELECT u, min(us) AS st FROM e WHERE t = 'signup'
              GROUP BY u),
    fe AS (
      SELECT e.u, min(e.us) AS pt
      FROM e JOIN entry USING (u)
      WHERE e.t = 'purchase' AND e.us > entry.st
      GROUP BY e.u),
    dur AS (
      SELECT entry.u,
             CASE WHEN pt IS NOT NULL AND pt <= st + 604800000000
                  THEN 1 ELSE 0 END AS ev,
             CASE WHEN pt IS NOT NULL AND pt <= st + 604800000000
                  THEN (pt - st) // 3600000000 ELSE 168 END AS t
      FROM entry LEFT JOIN fe USING (u)),
    agg AS (
      SELECT CAST(t AS BIGINT) AS t,
             CAST(sum(ev) AS BIGINT) AS n_events,
             CAST(count(*) AS BIGINT) AS leaving
      FROM dur GROUP BY t),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dur),
    risk AS (
      SELECT t, n_events,
             (SELECT n FROM tot)
               - coalesce(sum(leaving)
                   OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0) AS n_risk
      FROM agg),
    na AS (
      SELECT t, n_risk, n_events,
             sum(CAST(CAST(n_events AS DOUBLE) / CAST(n_risk AS DOUBLE)
                      AS DECIMAL(38,12)))
               OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS h
      FROM risk)
    SELECT CAST(t AS BIGINT) AS t,
           CAST(n_risk AS BIGINT) AS n_risk,
           CAST(n_events AS BIGINT) AS n_events,
           round(CAST(h AS DOUBLE), 6) + 0.0 AS cum_hazard
    FROM na WHERE n_events > 0
    """,
    doc=(
        "Nelson-Aalen cumulative hazard for signup-to-purchase within a "
        "7-day horizon (operators/survival.nelson_aalen): the additive "
        "hazard-scale companion to the Kaplan-Meier gate over the SAME "
        "censored duration table (shared duration_table helper) — its "
        "slope reads directly as event intensity and it stays finite "
        "when a bucket exhausts the risk set. Each d/n term is one "
        "double ratio of exact integers accumulated as DECIMAL(38,12) "
        "in time order; two user-keyed aggregates + one bucket-table "
        "window."
    ),
)
def q_events_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.survival import nelson_aalen

    ev = read_table(spark, sf_dir, "events")
    return nelson_aalen(
        ev,
        "user_id",
        "event_type",
        "ts",
        entry_type="signup",
        event_type="purchase",
        horizon_seconds=604800,
        bucket_seconds=3600,
    )


# --------------------------------------------------------------------------
# Vocabulary richness (Chao1 + Good-Turing coverage)
# --------------------------------------------------------------------------


@register(
    "q_docs_vocab_richness",
    """
    WITH toks AS (
      SELECT unnest([x for x in
                     regexp_split_to_array(lower(text), '[^a-z0-9]+')
                     IF x <> '']) AS t
      FROM documents),
    c AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
    a AS (
      SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
             CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
      FROM c)
    SELECT n_tokens, n_distinct, f1, f2,
           round(CAST(n_distinct AS DOUBLE)
                 + CAST(f1 AS DOUBLE) * CAST(f1 - 1 AS DOUBLE)
                   / (2.0 * CAST(f2 + 1 AS DOUBLE)), 4) + 0.0 AS chao1,
           round(1.0 - CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
             + 0.0 AS coverage
    FROM a
    """,
    doc=(
        "Vocabulary-richness estimates from the token frequency spectrum "
        "(operators/text_analysis.vocab_richness): bias-corrected Chao1 "
        "unseen-species richness D + f1(f1-1)/(2(f2+1)) and Good-Turing "
        "coverage 1 - f1/N — the 'does another crawl batch of this "
        "source still add vocabulary' readout that sizes tokenizer "
        "budgets. One token-keyed count aggregate + a 4-number "
        "reduction; exact integers until two rounded divisions."
    ),
)
def q_docs_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text_analysis import vocab_richness

    return vocab_richness(read_table(spark, sf_dir, "documents"), "text")


# --------------------------------------------------------------------------
# QQ decile table between two groups
# --------------------------------------------------------------------------


@register(
    "q_events_qq_click_view",
    """
    WITH base AS (
      SELECT event_type AS g, CAST(value AS DOUBLE) AS v
      FROM events
      WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
    r AS (
      SELECT g, v,
             row_number() OVER (PARTITION BY g ORDER BY v) AS rk,
             count(*) OVER (PARTITION BY g) AS n
      FROM base),
    qs AS (SELECT unnest(range(1, 10)) AS q),
    p AS (SELECT q, g, v FROM r JOIN qs ON rk = (q * n + 9) // 10)
    SELECT CAST(a.q AS BIGINT) AS q,
           a.v AS value_a,
           b.v AS value_b,
           round(b.v - a.v, 6) + 0.0 AS diff
    FROM (SELECT q, v FROM p WHERE g = 'click') a
    JOIN (SELECT q, v FROM p WHERE g = 'view') b ON a.q = b.q
    """,
    doc=(
        "Quantile-quantile decile table of value for click vs view "
        "(operators/stats.qq_table): the distribution-SHAPE companion to "
        "the one-number KS gate — shows WHERE two distributions diverge "
        "(tails vs body). Lower empirical quantiles (value at rank "
        "ceil(q*n/10)) are actual data values selected by exact integer "
        "rank arithmetic over one per-group sort window — no "
        "interpolation, no float caveat."
    ),
)
def q_events_qq_click_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import qq_table

    e = read_table(spark, sf_dir, "events")
    return qq_table(e, "event_type", "value", "click", "view", n_quantiles=10)


# --------------------------------------------------------------------------
# Inter-event burstiness per user
# --------------------------------------------------------------------------


@register(
    "q_events_user_burstiness",
    """
    WITH o AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s, event_id
      FROM events),
    g AS (
      SELECT user_id,
             s - lag(s) OVER (PARTITION BY user_id
                              ORDER BY s, event_id) AS gap
      FROM o),
    a AS (
      SELECT user_id, count(*) AS n, sum(gap) AS s1,
             sum(gap * gap) AS s2
      FROM g WHERE gap IS NOT NULL GROUP BY user_id),
    b AS (
      SELECT user_id, n, s1,
             CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
             sqrt(greatest(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                           - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                             * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)),
                           CAST(0 AS DOUBLE))) AS sd
      FROM a)
    SELECT user_id,
           CAST(n AS BIGINT) AS n_gaps,
           round(mu, 6) + 0.0 AS mean_gap_s,
           round(CASE WHEN s1 > 0 THEN sd / mu END, 6) + 0.0 AS cv,
           round(CASE WHEN s1 > 0 THEN (sd - mu) / (sd + mu) END, 6)
             + 0.0 AS burstiness
    FROM b
    """,
    doc=(
        "Per-user inter-event-gap fingerprint (operators/timeseries."
        "interevent_stats): mean gap, coefficient of variation, and the "
        "Goh-Barabasi burstiness B = (sigma - mu)/(sigma + mu) — regular "
        "pulse at -1, Poisson at 0, bursty heavy tail toward +1; the "
        "traffic-shape signal behind bot detection and session-gap "
        "tuning. Gaps from one lag() over the per-key time sort in "
        "exact integer seconds; moments from exact sums (n, sum, "
        "sum-of-squares) — one window + one aggregate."
    ),
)
def q_events_user_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import interevent_stats

    e = read_table(spark, sf_dir, "events")
    return interevent_stats(e, "user_id", "ts", "event_id")


# --------------------------------------------------------------------------
# Sorted-neighborhood blocking
# --------------------------------------------------------------------------


@register(
    "q_part_sorted_neighborhood",
    """
    WITH b AS (
      SELECT p_partkey AS id, p_name AS k,
             row_number() OVER (ORDER BY p_name, p_partkey) AS rn
      FROM part),
    l AS (
      SELECT id, k, rn,
             lead(id, 1) OVER w AS l1, lead(k, 1) OVER w AS k1,
             lead(id, 2) OVER w AS l2, lead(k, 2) OVER w AS k2,
             lead(id, 3) OVER w AS l3, lead(k, 3) OVER w AS k3
      FROM b WINDOW w AS (ORDER BY rn)),
    pairs AS (
      SELECT id AS id_a, l1 AS id_b, CAST(1 AS BIGINT) AS rank_distance,
             levenshtein(k, k1) AS dist
      FROM l WHERE l1 IS NOT NULL
      UNION ALL
      SELECT id, l2, CAST(2 AS BIGINT), levenshtein(k, k2)
      FROM l WHERE l2 IS NOT NULL
      UNION ALL
      SELECT id, l3, CAST(3 AS BIGINT), levenshtein(k, k3)
      FROM l WHERE l3 IS NOT NULL)
    SELECT id_a, id_b, rank_distance, CAST(dist AS BIGINT) AS dist
    FROM pairs WHERE dist <= 12
    """,
    doc=(
        "Sorted-neighborhood entity-resolution blocking over part names "
        "(operators/linkage.sorted_neighborhood_pairs, Hernandez-Stolfo "
        "1995, window 3) with a Levenshtein verify on the candidates: "
        "the blocking alternative to token/LSH joins whose candidate "
        "budget is GUARANTEED linear (n*window pairs) with no skew "
        "cliff — one global sort (range-partitioned at scale) + window "
        "leads. Candidates at rank distance 1-3 whose edit distance "
        "clears 12 survive; both engines share one Levenshtein "
        "definition, so the gate is exact."
    ),
)
def q_part_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.linkage import sorted_neighborhood_pairs

    p = read_table(spark, sf_dir, "part")
    pairs = sorted_neighborhood_pairs(p, "p_name", "p_partkey", window=3)
    names = p.select(
        F.col("p_partkey").alias("_pk"), F.col("p_name").alias("_nm")
    )
    return (
        pairs.join(names.withColumnRenamed("_pk", "id_a"), "id_a")
        .withColumnRenamed("_nm", "_na")
        .join(
            names.withColumnRenamed("_pk", "id_b").withColumnRenamed(
                "_nm", "_nb"
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "rank_distance",
            F.levenshtein(F.col("_na"), F.col("_nb"))
            .cast("bigint")
            .alias("dist"),
        )
        .filter(F.col("dist") <= 12)
    )


# --------------------------------------------------------------------------
# DP-release simulation (seeded Laplace counts)
# --------------------------------------------------------------------------


@register(
    "q_events_dp_noisy_counts",
    """
    WITH c AS (SELECT event_type, count(*) AS n FROM events
               GROUP BY event_type),
    u AS (
      SELECT event_type, n,
             CAST('0x' || substr(md5('dp:' || event_type), 1, 8) AS BIGINT)
               / 4294967296.0 - 0.5 AS u
      FROM c)
    SELECT event_type,
           round(n + (-1.0 * sign(u) * ln(1.0 - 2.0 * abs(u))), 6) + 0.0
             AS noisy_count
    FROM u
    """,
    doc=(
        "Laplace-mechanism count release SIMULATION over event types "
        "(operators/privacy.dp_noisy_counts, epsilon=1): inverse-CDF "
        "Laplace noise from a SEEDED md5 uniform so DP release pipelines "
        "(budget accounting, suppression rules) can be integration-"
        "tested against reproducible noise. The seeded draw is "
        "explicitly NOT differentially private (determinism is what the "
        "guarantee forbids) — production swaps in a secure RNG; the "
        "operator and true counts never co-travel in the output schema."
    ),
)
def q_events_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.privacy import dp_noisy_counts

    e = read_table(spark, sf_dir, "events")
    return dp_noisy_counts(e, "event_type", epsilon=1.0, seed="dp")


# --------------------------------------------------------------------------
# Procrustes embedding alignment (invariant-pinned)
# --------------------------------------------------------------------------


@register(
    "q_emb_procrustes_bound",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(64 AS BIGINT) AS dim,
           true AS aligned_within_tol
    FROM embeddings
    """,
    doc=(
        "Invariant-pinned contract for orthogonal Procrustes alignment "
        "(operators/pca.procrustes_fit/apply, Schonemann 1966) — the "
        "embedding-migration primitive that aligns an old index to a "
        "re-trained encoder with one rotation instead of a corpus "
        "re-embed. The gate constructs the target space as a KNOWN "
        "orthogonal transform (coordinate reversal + alternating sign "
        "flips) of the real embeddings, fits the rotation from the "
        "distributed cross-covariance moments pass (output bounded by "
        "partition count, SVD is driver-side on the 64x64 model), "
        "applies it map-only, and asserts the mean squared alignment "
        "residual is below 1e-9 — i.e. the fit RECOVERED the transform. "
        "Oracle pins (n, dim, verdict); the verdict is computed, not "
        "assumed."
    ),
)
def q_emb_procrustes_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pca import procrustes_apply, procrustes_fit

    emb = read_table(spark, sf_dir, "embeddings")
    x = F.col("embedding")
    # known orthogonal transform: reverse coordinates, flip every other sign
    y = F.transform(
        F.reverse(x),
        lambda v, i: v.cast("double")
        * F.when(i % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0)),
    )
    pairs = emb.select("vec_id", x.alias("x"), y.alias("y"))
    model = procrustes_fit(pairs, "x", "y")
    aligned = procrustes_apply(pairs, model, "x", out_col="a")
    sq = F.aggregate(
        F.zip_with("a", "y", lambda p, q: (p - q) * (p - q)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return aligned.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.lit(64).cast("bigint").alias("dim"),
        ((F.sum(sq) / F.count(F.lit(1)) / 64.0) <= F.lit(1e-9)).alias(
            "aligned_within_tol"
        ),
    )


# --------------------------------------------------------------------------
# Difference-in-differences
# --------------------------------------------------------------------------


@register(
    "q_events_did_readout",
    """
    WITH ev AS (
      SELECT user_id AS u, ts,
             CAST(round(CAST(value AS DOUBLE) * 1e9) AS BIGINT) AS vn
      FROM events WHERE value IS NOT NULL),
    pu AS (
      SELECT u,
             sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                      THEN vn ELSE 0 END) AS xn,
             sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                      THEN vn ELSE 0 END) AS yn
      FROM ev GROUP BY u),
    arms AS (
      SELECT u, xn, yn,
             CAST('0x' || substr(md5('ab-' || CAST(u AS VARCHAR)), 1, 8)
                  AS BIGINT) % 2 AS arm
      FROM pu),
    pa AS (SELECT arm, count(*) AS n, sum(xn) AS sx, sum(yn) AS sy
           FROM arms GROUP BY arm),
    a AS (SELECT n AS n_a, sx AS sxa, sy AS sya FROM pa WHERE arm = 0),
    b AS (SELECT n AS n_b, sx AS sxb, sy AS syb FROM pa WHERE arm = 1)
    SELECT CAST(a.n_a + b.n_b AS BIGINT) AS n_users,
           CAST(a.n_a AS BIGINT) AS n_a,
           CAST(b.n_b AS BIGINT) AS n_b,
           round(CAST(sxa AS DOUBLE) / CAST(n_a AS DOUBLE) / 1e9, 6) + 0.0
             AS pre_a,
           round(CAST(sxb AS DOUBLE) / CAST(n_b AS DOUBLE) / 1e9, 6) + 0.0
             AS pre_b,
           round(CAST(sya AS DOUBLE) / CAST(n_a AS DOUBLE) / 1e9, 6) + 0.0
             AS post_a,
           round(CAST(syb AS DOUBLE) / CAST(n_b AS DOUBLE) / 1e9, 6) + 0.0
             AS post_b,
           round((CAST(syb AS DOUBLE) / CAST(n_b AS DOUBLE) / 1e9
                  - CAST(sxb AS DOUBLE) / CAST(n_b AS DOUBLE) / 1e9)
                 - (CAST(sya AS DOUBLE) / CAST(n_a AS DOUBLE) / 1e9
                    - CAST(sxa AS DOUBLE) / CAST(n_a AS DOUBLE) / 1e9),
                 6) + 0.0 AS did
    FROM a CROSS JOIN b
    """,
    doc=(
        "Difference-in-differences readout over md5 hash-assigned arms "
        "with a mid-span period split (operators/experiment.did_readout): "
        "the parallel-trends estimator that nets a pre-existing arm gap "
        "out of the post-period difference — where the plain A/B diff "
        "books it as treatment effect. Per-user BIGINT nano sums, one "
        "2-row arm aggregate; every mean is a ratio of exact integers."
    ),
)
def q_events_did_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.experiment import did_readout

    e = read_table(spark, sf_dir, "events")
    return did_readout(
        e, "user_id", "ts", "value", split_ts="2024-01-16 00:00:00"
    )


# --------------------------------------------------------------------------
# Mann-Whitney U
# --------------------------------------------------------------------------


@register(
    "q_events_mann_whitney",
    """
    WITH base AS (
      SELECT event_type = 'click' AS isa, CAST(value AS DOUBLE) AS v
      FROM events
      WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
    pv AS (
      SELECT v, count(*) AS t,
             sum(CASE WHEN isa THEN 1 ELSE 0 END) AS ta
      FROM base GROUP BY v),
    r AS (
      SELECT v, t, ta,
             CAST(coalesce(sum(t) OVER (ORDER BY v
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING), 0) AS DOUBLE)
               + CAST(t + 1 AS DOUBLE) / 2.0 AS midrank
      FROM pv),
    g AS (
      SELECT CAST(sum(ta) AS BIGINT) AS n_a,
             CAST(sum(t) - sum(ta) AS BIGINT) AS n_b,
             sum(ta * midrank) AS ra,
             sum(t * t * t - t) AS ties
      FROM r),
    d AS (
      SELECT n_a, n_b, ra, ties,
             CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
             ra - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1.0) / 2.0
               AS ua
      FROM g)
    SELECT n_a, n_b,
           round(ua, 2) + 0.0 AS u_a,
           round((ua - na * nb / 2.0)
                 / sqrt((na * nb / 12.0)
                        * ((na + nb + 1.0)
                           - CAST(ties AS DOUBLE)
                             / ((na + nb) * (na + nb - 1.0)))), 6) + 0.0
             AS z,
           round(2.0 * ua / (na * nb) - 1.0, 6) + 0.0 AS cliffs_delta
    FROM d
    """,
    doc=(
        "Mann-Whitney U rank-sum test, click vs view (operators/stats."
        "mann_whitney): the distribution-free two-sample location test "
        "with tie-corrected normal z and Cliff's delta effect size — the "
        "analytic complement to the Monte-Carlo permutation gate. "
        "Midranks via the binary_auc scale trick (distinct-value "
        "aggregate + ONE cumulative window over the distinct table); "
        "midranks are exact halves so their sums are exact and "
        "order-independent, and the tie term sum(t^3 - t) is an exact "
        "integer."
    ),
)
def q_events_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import mann_whitney

    e = read_table(spark, sf_dir, "events")
    return mann_whitney(e, "event_type", "value", "click", "view")


# --------------------------------------------------------------------------
# Split-conformal interval audit
# --------------------------------------------------------------------------


@register(
    "q_events_conformal_interval",
    """
    WITH base AS (
      SELECT event_type AS g, CAST(value AS DOUBLE) AS v,
             CAST('0x' || substr(md5('conf-' || CAST(event_id AS VARCHAR)),
                                 1, 8) AS BIGINT) % 2 AS split
      FROM events WHERE value IS NOT NULL),
    model AS (
      SELECT g,
             round(CAST(sum(CAST(round(v * 1e9) AS BIGINT)) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE) / 1e9, 6) + 0.0 AS pred
      FROM base WHERE split = 0 GROUP BY g),
    res AS (
      SELECT abs(b.v - m.pred) AS r
      FROM base b JOIN model m ON b.g = m.g WHERE b.split = 0),
    rk AS (
      SELECT r, row_number() OVER (ORDER BY r) AS rk,
             count(*) OVER () AS n
      FROM res),
    q AS (
      SELECT r AS qhat, n AS n_cal FROM rk
      WHERE rk = least(n, CAST(ceil((n + 1) * CAST(0.9 AS DOUBLE))
                               AS BIGINT))),
    sc AS (
      SELECT q.n_cal, q.qhat,
             abs(b.v - m.pred) <= q.qhat AS inn
      FROM base b JOIN model m ON b.g = m.g CROSS JOIN q
      WHERE b.split = 1)
    SELECT CAST(n_cal AS BIGINT) AS n_cal,
           CAST(count(*) AS BIGINT) AS n_eval,
           round(qhat, 6) + 0.0 AS q_hat,
           round(CAST(sum(CASE WHEN inn THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 6) + 0.0 AS coverage,
           CAST(0.9 AS DOUBLE) AS target
    FROM sc GROUP BY n_cal, qhat
    """,
    doc=(
        "Split-conformal prediction-interval audit at alpha=0.1 "
        "(operators/evaluation.conformal_interval, Vovk / Lei et al.): "
        "md5-split calibration/evaluation halves, per-type mean "
        "predictor fit on calibration only, q_hat = the "
        "ceil((n+1)(1-alpha))-th smallest absolute calibration residual "
        "(an ACTUAL residual selected by exact integer rank), and the "
        "measured evaluation coverage — the finite-sample-guaranteed "
        "uncertainty wrapper that needs no model assumptions. "
        "Predictions round 6 dp before residuals so both engines "
        "subtract identical doubles; the ceil argument is forced to "
        "DOUBLE on both sides (a decimal 0.9 would ceil differently on "
        "exact-integer products)."
    ),
)
def q_events_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.evaluation import conformal_interval

    e = read_table(spark, sf_dir, "events")
    return conformal_interval(
        e, "event_type", "value", "event_id", alpha=0.1, seed="conf"
    )


# --------------------------------------------------------------------------
# Domain-interleaved training order
# --------------------------------------------------------------------------


@register(
    "q_docs_training_order",
    """
    WITH r AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY CAST('0x' || substr(md5('epoch1-'
                              || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT),
                        doc_id) AS rr
      FROM documents),
    p AS (
      SELECT source,
             row_number() OVER (ORDER BY rr, source, doc_id) AS pos
      FROM r)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(pos) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4)
             + 0.0 AS mean_pos,
           CAST(min(pos) AS BIGINT) AS min_pos,
           CAST(max(pos) AS BIGINT) AS max_pos
    FROM p GROUP BY source
    """,
    doc=(
        "Deterministic domain-interleaved epoch order (operators/corpus."
        "interleaved_order): per-domain md5 rank, then round-robin "
        "interleave — a sequential dataloader sees every source "
        "continuously instead of a domain-sorted corpus that "
        "catastrophically orders training; reshuffling is a seed change, "
        "no RNG state, resumable anywhere. The gate pins the per-source "
        "position summary: near-equal mean positions and interleaved "
        "min/max PROVE the balance, and the md5 ranks make it hash-exact."
    ),
)
def q_docs_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import interleaved_order

    d = read_table(spark, sf_dir, "documents")
    order = interleaved_order(d, "doc_id", "source", seed="epoch1")
    return order.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (
            F.round(
                F.sum("pos").cast("double") / F.count(F.lit(1)).cast("double"),
                4,
            )
            + 0.0
        ).alias("mean_pos"),
        F.min("pos").cast("bigint").alias("min_pos"),
        F.max("pos").cast("bigint").alias("max_pos"),
    )


# --------------------------------------------------------------------------
# JSONL export round-trip identity
# --------------------------------------------------------------------------


@register(
    "q_docs_jsonl_roundtrip",
    """
    WITH h AS (
      SELECT CAST('0x' || substr(md5(
               CAST(doc_id AS VARCHAR) || '|' ||
               coalesce(lang, '<NULL>') || '|' ||
               coalesce(source, '<NULL>') || '|' ||
               coalesce(CAST(n_chars AS VARCHAR), '<NULL>') || '|' ||
               md5(text)), 1, 15) AS BIGINT) AS h
      FROM documents)
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(bit_xor(h) AS BIGINT) AS digest,
           TRUE AS layout_matches_assignment
    FROM h
    """,
    doc=(
        "JSON-Lines export round-trip identity (sources/sinks."
        "write_jsonl_shards): export the corpus as 16 hash-assigned "
        "JSONL shard directories (the interchange format LLM dataloaders "
        "consume), re-read the text lines through spark.read.json with "
        "the source schema, and re-derive an order-insensitive content "
        "digest INCLUDING an md5 of the full text — the oracle computes "
        "the same digest straight from the source table, so a hash match "
        "proves JSON encode/decode lost nothing (escapes, unicode, "
        "nulls) row for row. layout_matches_assignment pins every "
        "re-read row to the shard directory its key hashes to."
    ),
)
def q_docs_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..operators.sampling import hash_bucket
    from ..sources.sinks import write_jsonl_shards

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    tmp = tempfile.mkdtemp(prefix="jsonl_gate_")
    path = f"{tmp}/jsonl"
    try:
        write_jsonl_shards(docs, path, "doc_id", num_shards=16)
        reread = spark.read.schema(docs.schema).json(path)
        n_misplaced = (
            reread.withColumn(
                "_expect", hash_bucket(F.col("doc_id"), "shard", 16)
            )
            .filter(F.col("shard").cast("long") != F.col("_expect"))
            .count()
        )
        row_h = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("doc_id").cast("string"),
                        F.coalesce(F.col("lang"), F.lit("<NULL>")),
                        F.coalesce(F.col("source"), F.lit("<NULL>")),
                        F.coalesce(
                            F.col("n_chars").cast("string"), F.lit("<NULL>")
                        ),
                        F.md5(F.col("text")),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        out = (
            reread.select(row_h.alias("_h"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.expr("bit_xor(_h)").cast("bigint").alias("digest"),
            )
            .select(
                "n_rows",
                "digest",
                F.lit(n_misplaced == 0).alias("layout_matches_assignment"),
            )
        )
        out = out.cache()
        out.count()  # materialize before the temp dir vanishes
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# --------------------------------------------------------------------------
# HITS hubs/authorities (nano-quantized power iteration)
# --------------------------------------------------------------------------

_COORDER_EDGES = """
    pe AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    e AS (
      SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
      FROM pe a JOIN pe b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_suppkey < b.l_suppkey),
    nodes AS (
      SELECT DISTINCT node FROM
        (SELECT src AS node FROM e UNION ALL SELECT dst FROM e) z)
"""


@register(
    "q_graph_hits",
    f"""
    WITH {_COORDER_EDGES},
    h1r AS (SELECT src AS node, sum(CAST(1000000000 AS BIGINT)) AS hr
            FROM e GROUP BY src),
    h1t AS (SELECT sum(hr) AS t FROM h1r),
    h1 AS (
      SELECT n.node,
             CASE WHEN t.t > 0 THEN
               CAST(round(CAST(coalesce(hr, 0) AS DOUBLE)
                          / CAST(t.t AS DOUBLE) * 1e9) AS BIGINT)
             ELSE 0 END AS h
      FROM nodes n LEFT JOIN h1r ON n.node = h1r.node CROSS JOIN h1t t),
    a1r AS (SELECT e.dst AS node, sum(h1.h) AS ar
            FROM e JOIN h1 ON e.src = h1.node GROUP BY e.dst),
    a1t AS (SELECT sum(ar) AS t FROM a1r),
    a1 AS (
      SELECT n.node,
             CASE WHEN t.t > 0 THEN
               CAST(round(CAST(coalesce(ar, 0) AS DOUBLE)
                          / CAST(t.t AS DOUBLE) * 1e9) AS BIGINT)
             ELSE 0 END AS a
      FROM nodes n LEFT JOIN a1r ON n.node = a1r.node CROSS JOIN a1t t),
    h2r AS (SELECT e.src AS node, sum(a1.a) AS hr
            FROM e JOIN a1 ON e.dst = a1.node GROUP BY e.src),
    h2t AS (SELECT sum(hr) AS t FROM h2r),
    h2 AS (
      SELECT n.node,
             CASE WHEN t.t > 0 THEN
               CAST(round(CAST(coalesce(hr, 0) AS DOUBLE)
                          / CAST(t.t AS DOUBLE) * 1e9) AS BIGINT)
             ELSE 0 END AS h
      FROM nodes n LEFT JOIN h2r ON n.node = h2r.node CROSS JOIN h2t t),
    a2r AS (SELECT e.dst AS node, sum(h2.h) AS ar
            FROM e JOIN h2 ON e.src = h2.node GROUP BY e.dst),
    a2t AS (SELECT sum(ar) AS t FROM a2r),
    a2 AS (
      SELECT n.node,
             CASE WHEN t.t > 0 THEN
               CAST(round(CAST(coalesce(ar, 0) AS DOUBLE)
                          / CAST(t.t AS DOUBLE) * 1e9) AS BIGINT)
             ELSE 0 END AS a
      FROM nodes n LEFT JOIN a2r ON n.node = a2r.node CROSS JOIN a2t t)
    SELECT n.node AS node,
           round(coalesce(h2.h, 0) / 1e9, 6) + 0.0 AS hub,
           round(coalesce(a2.a, 0) / 1e9, 6) + 0.0 AS authority
    FROM nodes n
    LEFT JOIN h2 ON n.node = h2.node
    LEFT JOIN a2 ON n.node = a2.node
    """,
    doc=(
        "Two-iteration HITS hubs/authorities over the directed supplier "
        "co-order graph (operators/pagerank.hits, Kleinberg 1999): the "
        "link-analysis complement to PageRank's single score. The score "
        "vector lives as BIGINT probability nanos between half-steps — "
        "neighbor sums and L1 normalizers are exact integer aggregates, "
        "so the power iteration is bit-reproducible and the oracle can "
        "unroll it CTE for CTE; a float-state iteration would drift at "
        "the ulp level in every normalizer and be un-gateable."
    ),
)
def q_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pagerank import hits
    from .graph_inputs import supplier_coorder_edges

    return hits(supplier_coorder_edges(spark, sf_dir), n_iter=2)


# --------------------------------------------------------------------------
# Global clustering coefficient
# --------------------------------------------------------------------------


@register(
    "q_graph_clustering_coefficient",
    f"""
    WITH {_COORDER_EDGES},
    eo AS (SELECT src AS lo, dst AS hi FROM e),
    tri AS (
      SELECT count(*) AS n_triangles
      FROM eo e1 JOIN eo e2 ON e1.hi = e2.lo
      JOIN eo e3 ON e3.lo = e1.lo AND e3.hi = e2.hi),
    deg AS (
      SELECT node, count(*) AS d FROM
        (SELECT lo AS node FROM eo UNION ALL SELECT hi FROM eo) z
      GROUP BY node),
    s AS (SELECT count(*) AS n_nodes, sum(d * (d - 1)) // 2 AS n_wedges
          FROM deg),
    ne AS (SELECT count(*) AS n_edges FROM eo)
    SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(n_edges AS BIGINT) AS n_edges,
           CAST(n_triangles AS BIGINT) AS n_triangles,
           CAST(n_wedges AS BIGINT) AS n_wedges,
           round(CASE WHEN n_wedges > 0 THEN
                   3.0 * CAST(n_triangles AS DOUBLE)
                   / CAST(n_wedges AS DOUBLE)
                 ELSE 0.0 END, 6) + 0.0 AS global_cc
    FROM s CROSS JOIN ne CROSS JOIN tri
    """,
    doc=(
        "Global clustering coefficient of the supplier co-order graph "
        "(operators/graph.clustering_coefficient): transitivity "
        "3*triangles/wedges — the one-number cohesion check run before "
        "trusting community detection (random graphs sit near deg/n; "
        "co-occurrence graphs far above). Triangles reuse the oriented "
        "two-join (no cross product); wedges are one exact-integer "
        "degree aggregate; a single rounded division finishes it."
    ),
)
def q_graph_clustering_coefficient(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.graph import clustering_coefficient
    from .graph_inputs import supplier_coorder_edges

    e = supplier_coorder_edges(spark, sf_dir)
    # The supplier co-order graph is a bounded near-clique (suppliers are
    # a dimension; 1000 nodes / 91% density at sf0.1, 124M triangles) —
    # the node-count preflight dispatches it to the dense bitset path,
    # which streams 57 MB of adjacency ANDs instead of shuffling 137M
    # wedge rows (orientation cannot help a clique: wedge counts are
    # orientation-invariant there, measured ±0.1%). A sparse/power-law
    # graph over the same operator falls through to the degree-oriented
    # wedge join automatically.
    return clustering_coefficient(e, dense_max_nodes=16384)


# --------------------------------------------------------------------------
# Log-log price elasticity (generic grouped OLS)
# --------------------------------------------------------------------------


@register(
    "q_part_price_elasticity",
    """
    WITH b AS (
      SELECT p.p_type AS g,
             CAST(round(ln(CAST(l.l_extendedprice AS DOUBLE)
                           / CAST(l.l_quantity AS DOUBLE)) * 1000000)
                  AS BIGINT) AS x,
             CAST(round(ln(CAST(l.l_quantity AS DOUBLE)) * 1000000)
                  AS BIGINT) AS y
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    a AS (
      SELECT g, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
      FROM b GROUP BY g),
    d AS (
      SELECT g, n,
             CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS dx,
             CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS dy,
             CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov,
             CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
      FROM a)
    SELECT g AS p_type,
           CAST(n AS BIGINT) AS n_points,
           round(cov / dx, 6) + 0.0 AS slope,
           round((syd - cov / dx * sxd) / CAST(n AS DOUBLE) / 1000000.0, 6)
             + 0.0 AS intercept,
           CASE WHEN dy > 0 THEN round((cov * cov) / (dx * dy), 4) + 0.0
           END AS r2
    FROM d WHERE n >= 2 AND dx > 0
    """,
    doc=(
        "Log-log price elasticity of demand per part type "
        "(operators/stats.ols_xy): slope of ln(quantity) on ln(unit "
        "price) — the generic grouped OLS that powers any per-segment "
        "fit, x no longer pinned to time like groupwise_trend. Both "
        "variables quantize to integer micro-log-units so the five "
        "sufficient statistics are exact; slope/intercept/r2 are single "
        "double expressions over them — one map-side-combinable "
        "aggregate per group no matter how many rows."
    ),
)
def q_part_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import ols_xy

    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    base = li.join(p, li.l_partkey == p.p_partkey).select(
        F.col("p_type"),
        F.log(
            F.col("l_extendedprice").cast("double")
            / F.col("l_quantity").cast("double")
        ).alias("ln_price"),
        F.log(F.col("l_quantity").cast("double")).alias("ln_qty"),
    )
    return ols_xy(base, "p_type", "ln_price", "ln_qty")


# --------------------------------------------------------------------------
# Compression-ratio quality signal (ordering-invariant gate)
# --------------------------------------------------------------------------


@register(
    "q_docs_compression_contrast",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_real_docs,
           TRUE AS synth_below_real,
           TRUE AS real_band_sane
    FROM documents
    """,
    doc=(
        "Ordering-invariant contract for the zlib compressibility "
        "signal (operators/text_analysis.compression_ratio): score every "
        "real document plus one synthetic pathological doc (a 4000-char "
        "repeated phrase) in the same map-only pass, then pin that (a) "
        "the synthetic repetitive doc compresses below EVERY real doc's "
        "ratio and (b) the real-corpus ratio band lies in (0.05, 1.1) — "
        "the separation a compression-based quality filter thresholds "
        "on. Deflate is not SQL-expressible, so the oracle pins the "
        "verdicts and count; the verdicts are computed from the real "
        "decode, not assumed. Exact per-doc ratios are pytest-covered."
    ),
)
def q_docs_compression_contrast(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text_analysis import compression_ratio

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    synth = d.sparkSession.createDataFrame(
        [(-1, "spam ham jam " * 333)], "doc_id long, text string"
    )
    scored = compression_ratio(d.unionByName(synth), "text", "doc_id")
    real = scored.filter(F.col("doc_id") >= 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_real_docs"),
        F.min("ratio").alias("_min_r"),
        F.max("ratio").alias("_max_r"),
    )
    sy = scored.filter(F.col("doc_id") < 0).select(
        F.col("ratio").alias("_synth_r")
    )
    return real.crossJoin(F.broadcast(sy)).select(
        "n_real_docs",
        (F.col("_synth_r") < F.col("_min_r")).alias("synth_below_real"),
        (
            (F.col("_min_r") > 0.05) & (F.col("_max_r") < 1.1)
        ).alias("real_band_sane"),
    )


# --------------------------------------------------------------------------
# Trimmed mean
# --------------------------------------------------------------------------


@register(
    "q_events_trimmed_mean",
    """
    WITH b AS (
      SELECT event_type AS g,
             CAST(round(CAST(value AS DOUBLE) * 1e9) AS BIGINT) AS vn
      FROM events WHERE value IS NOT NULL),
    r AS (
      SELECT g, vn,
             row_number() OVER (PARTITION BY g ORDER BY vn) AS r,
             count(*) OVER (PARTITION BY g) AS n
      FROM b),
    kept AS (
      SELECT g, vn, n FROM r
      WHERE r > CAST(floor(n * CAST(0.1 AS DOUBLE)) AS BIGINT)
        AND r <= n - CAST(floor(n * CAST(0.1 AS DOUBLE)) AS BIGINT))
    SELECT g AS event_type,
           CAST(max(n) AS BIGINT) AS n,
           CAST(count(*) AS BIGINT) AS n_used,
           round(CAST(sum(vn) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1e9,
                 6) + 0.0 AS trimmed_mean
    FROM kept GROUP BY g
    """,
    doc=(
        "10%-symmetric trimmed mean of value per event type "
        "(operators/stats.trimmed_mean): the robust location estimate "
        "between mean (breakdown 0) and median (discards magnitude) for "
        "heavy-tailed columns. Exact integer rank bounds over one "
        "per-group sort window; kept values sum as BIGINT nanos — ties "
        "at the cut share a value, so the kept multiset (and the gate) "
        "is partitioning-invariant with no tiebreak column needed."
    ),
)
def q_events_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import trimmed_mean

    e = read_table(spark, sf_dir, "events")
    return trimmed_mean(e, "event_type", "value", trim_frac=0.1)


# --------------------------------------------------------------------------
# Per-user KS drift screen with BH FDR control
# --------------------------------------------------------------------------


@register(
    "q_events_user_drift_fdr",
    """
    WITH b AS (
      SELECT user_id AS k,
             ts < TIMESTAMP '2024-01-16 00:00:00' AS f,
             CAST(value AS DOUBLE) AS v
      FROM events WHERE value IS NOT NULL),
    pv AS (
      SELECT k, v,
             sum(CASE WHEN f THEN 1 ELSE 0 END) AS c1,
             sum(CASE WHEN f THEN 0 ELSE 1 END) AS c2
      FROM b GROUP BY k, v),
    cum AS (
      SELECT k,
             sum(c1) OVER (PARTITION BY k ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS f1,
             sum(c2) OVER (PARTITION BY k ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS f2,
             sum(c1) OVER (PARTITION BY k) AS n1,
             sum(c2) OVER (PARTITION BY k) AS n2
      FROM pv),
    d AS (
      SELECT k, n1, n2,
             max(abs(CAST(f1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                     - CAST(f2 AS DOUBLE) / CAST(n2 AS DOUBLE))) AS dd
      FROM cum WHERE n1 > 0 AND n2 > 0 GROUP BY k, n1, n2),
    ks AS (
      SELECT k,
             round(least(CAST(1 AS DOUBLE),
                         2.0 * exp(-2.0 * dd * dd
                                   * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                                   / (CAST(n1 AS DOUBLE)
                                      + CAST(n2 AS DOUBLE)))), 6) + 0.0 AS p
      FROM d),
    r AS (
      SELECT k, p, row_number() OVER (ORDER BY p, k) AS pr,
             count(*) OVER () AS m
      FROM ks),
    fin AS (
      SELECT k, p, pr, m,
             CAST(pr AS DOUBLE) / CAST(m AS DOUBLE) * CAST(0.05 AS DOUBLE)
               AS th,
             CASE WHEN p <= CAST(pr AS DOUBLE) / CAST(m AS DOUBLE)
                           * CAST(0.05 AS DOUBLE)
                  THEN 1 ELSE 0 END AS ok
      FROM r)
    SELECT k AS user_id, p,
           CAST(pr AS BIGINT) AS p_rank,
           CAST(m AS BIGINT) AS n_tests,
           round(th, 6) + 0.0 AS threshold,
           max(ok) OVER (ORDER BY pr DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) = 1 AS rejected
    FROM fin
    """,
    doc=(
        "Per-user first-half vs second-half KS drift screen with "
        "Benjamini-Hochberg FDR control at q=0.05 (operators/stats."
        "ks_two_sample_by_key + bh_fdr): run one distribution test per "
        "key over ALL keys at once (tie-safe CDF steps from a "
        "distinct-value aggregate + one key-clustered cumulative "
        "window), convert to asymptotic tail p-values, then the BH "
        "step-up rule as a sort window + a suffix-max look-ahead — the "
        "multiplicity control that keeps 10k key-level screens from "
        "flagging ~500 false keys at raw alpha."
    ),
)
def q_events_user_drift_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import bh_fdr, ks_two_sample_by_key

    e = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .withColumn(
            "is_early",
            F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp_ntz"),
        )
    )
    ks = ks_two_sample_by_key(e, "user_id", "is_early", "value")
    return bh_fdr(ks, "user_id", "p_value", q=0.05)
