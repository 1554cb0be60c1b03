"""Round-12 gated queries.

Survival completions (Schoenfeld PH diagnostic, Aalen-Johansen
competing-risks CIF), corpus-linguistics completions (Heaps' law fit,
Monroe log-odds keyness), and rank-test completions (Brunner-Munzel,
Quade) — each with a token-mirrored DuckDB oracle per the repo's
float-parity recipe (integer micro/pico quantization before any
aggregate; one-shot double expressions mirrored token-for-token).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import word_tokens
from ..sources.lake import read_table
from .registry import register

# --------------------------------------------------------------------------
# Schoenfeld residuals: the proportional-hazards diagnostic
# --------------------------------------------------------------------------


@register(
    "q_events_schoenfeld",
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
    x AS (
      SELECT u, ev, CAST(t AS DOUBLE) AS t,
             CAST(u % 21 AS DOUBLE) / 10.0 - 1.0 AS xv
      FROM dur),
    per AS (
      SELECT t,
             CAST(sum(CAST(round(exp(0.1 * xv) * 1e6) AS BIGINT))
                  AS BIGINT) AS s0q,
             CAST(sum(CAST(round(exp(0.1 * xv) * xv * 1e6) AS BIGINT))
                  AS BIGINT) AS s1q,
             CAST(sum(ev) AS BIGINT) AS dd,
             CAST(sum(CAST(round(ev * xv * 1e6) AS BIGINT))
                  AS BIGINT) AS sxq
      FROM x GROUP BY t),
    sfx AS (
      SELECT t, dd, sxq,
             sum(s0q) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
                            AND UNBOUNDED FOLLOWING) AS s0s,
             sum(s1q) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
                            AND UNBOUNDED FOLLOWING) AS s1s
      FROM per)
    SELECT t, dd AS n_events,
           round(CAST(sxq AS DOUBLE) / 1e6
                 - CAST(dd AS DOUBLE)
                   * (CAST(s1s AS DOUBLE) / CAST(s0s AS DOUBLE)), 6)
             + 0.0 AS residual
    FROM sfx WHERE dd > 0 AND s0s > 0 ORDER BY t
    """,
    doc=(
        "Schoenfeld residuals at FIXED beta = 0.1 (operators/survival."
        "schoenfeld_residuals, Schoenfeld 1982; Grambsch & Therneau "
        "1994): per event time r(t) = sum_events x - d_t*s1(t)/s0(t) "
        "with micro-quantized risk-set suffix sums — THE proportional-"
        "hazards diagnostic a real analysis runs after cox_ph (a time "
        "trend in r(t) means the hazard ratio drifts and the single-"
        "beta readout is mis-specified). Fixed beta keeps it an exact "
        "HASH gate (the cox_baseline contract); the covariate is the "
        "same deterministic (u %% 21)/10 - 1 grid. One per-time "
        "aggregate + ONE ranged prefix pass with three parallel "
        "(signed) integer weights."
    ),
)
def q_events_schoenfeld(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.survival import duration_table, schoenfeld_residuals

    ev = read_table(spark, sf_dir, "events")
    dur = duration_table(
        ev, "user_id", "event_type", "ts",
        entry_type="signup", event_type="purchase",
        horizon_seconds=604800, bucket_seconds=3600,
    ).select(
        "ev",
        F.col("t").cast("double").alias("t"),
        ((F.col("_u") % 21).cast("double") / 10.0 - 1.0).alias("xv"),
    )
    return schoenfeld_residuals(dur, "t", "ev", "xv", beta=0.1)


# --------------------------------------------------------------------------
# Competing-risks cumulative incidence (Aalen-Johansen)
# --------------------------------------------------------------------------


@register(
    "q_events_competing_risks",
    """
    WITH e AS (
      SELECT user_id AS u, event_type AS ty, epoch_us(ts) AS us
      FROM events),
    entry AS (SELECT u, min(us) AS st FROM e WHERE ty = 'signup'
              GROUP BY u),
    f1 AS (
      SELECT e.u, min(e.us) AS pt1
      FROM e JOIN entry USING (u)
      WHERE e.ty = 'purchase' AND e.us > entry.st GROUP BY e.u),
    f2 AS (
      SELECT e.u, min(e.us) AS pt2
      FROM e JOIN entry USING (u)
      WHERE e.ty = 'error' AND e.us > entry.st GROUP BY e.u),
    dur AS (
      SELECT w.u,
             CASE WHEN wt IS NOT NULL AND h1 = wt THEN 1
                  WHEN wt IS NOT NULL AND h2 = wt THEN 2
                  ELSE 0 END AS cause,
             CASE WHEN wt IS NOT NULL
                  THEN (wt - st) // 3600000000 ELSE 168 END AS t
      FROM (
        SELECT entry.u, entry.st,
               CASE WHEN pt1 IS NOT NULL
                         AND pt1 <= st + 604800000000
                    THEN pt1 END AS h1,
               CASE WHEN pt2 IS NOT NULL
                         AND pt2 <= st + 604800000000
                    THEN pt2 END AS h2,
               least(CASE WHEN pt1 IS NOT NULL
                               AND pt1 <= st + 604800000000
                          THEN pt1 END,
                     CASE WHEN pt2 IS NOT NULL
                               AND pt2 <= st + 604800000000
                          THEN pt2 END) AS wt
        FROM entry LEFT JOIN f1 USING (u) LEFT JOIN f2 USING (u)
      ) w),
    agg AS (
      SELECT CAST(t AS BIGINT) AS t,
             CAST(sum(CASE WHEN cause = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS d1,
             CAST(sum(CASE WHEN cause = 2 THEN 1 ELSE 0 END)
                  AS BIGINT) AS d2,
             CAST(count(*) AS BIGINT) AS leaving
      FROM dur GROUP BY t),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dur),
    km AS (
      SELECT t, d1, d2, d1 + d2 AS d,
             (SELECT n FROM tot)
               - coalesce(sum(leaving)
                   OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0) AS n_risk
      FROM agg),
    st AS (
      SELECT t, d1, d2, d, n_risk,
             coalesce(sum(CASE WHEN d = n_risk
                      THEN CAST(0.0 AS DECIMAL(38,12))
                      ELSE CAST(ln(1.0 - d / CAST(n_risk AS DOUBLE))
                           AS DECIMAL(38,12)) END)
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING),
               CAST(0 AS DECIMAL(38,12))) AS lnpre,
             coalesce(sum(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS zpre
      FROM km),
    terms AS (
      SELECT t, d1, d2, d, n_risk,
             CAST(round(CASE WHEN zpre > 0 THEN 0.0
                             ELSE exp(CAST(lnpre AS DOUBLE)) END
                        * CAST(d1 AS DOUBLE)
                        / CAST(n_risk AS DOUBLE) * 1e12)
                  AS BIGINT) AS t1,
             CAST(round(CASE WHEN zpre > 0 THEN 0.0
                             ELSE exp(CAST(lnpre AS DOUBLE)) END
                        * CAST(d2 AS DOUBLE)
                        / CAST(n_risk AS DOUBLE) * 1e12)
                  AS BIGINT) AS t2
      FROM st),
    cum AS (
      SELECT t, d1, d2, d, n_risk,
             sum(CAST(t1 AS DECIMAL(38,0)))
               OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS c1,
             sum(CAST(t2 AS DECIMAL(38,0)))
               OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS c2
      FROM terms)
    SELECT t, CAST(n_risk AS BIGINT) AS n_risk,
           d1 AS n_events_a, d2 AS n_events_b,
           round(CAST(c1 AS DOUBLE) / 1e12, 6) + 0.0 AS cif_a,
           round(CAST(c2 AS DOUBLE) / 1e12, 6) + 0.0 AS cif_b
    FROM cum WHERE d > 0 ORDER BY t
    """,
    doc=(
        "Aalen-Johansen cumulative incidence under COMPETING risks "
        "(operators/survival.competing_risks_cif, Aalen & Johansen "
        "1978): purchase vs error race after signup — CIF_k(t) = "
        "sum_{t_i<=t} S(t_i-)*d_ki/n_i with the ALL-CAUSE KM survival, "
        "the estimator 1-KM_k gets wrong (treating the competing event "
        "as censoring overstates every cause). Tie at the same "
        "microsecond goes to the earlier type in the list, both "
        "engines. KM decimal ln-sum recipe with pico-quantized CIF "
        "increments; windows run over the bounded (<= 168-row) bucket "
        "table, the kaplan_meier precedent."
    ),
)
def q_events_competing_risks(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.survival import competing_risks_cif

    ev = read_table(spark, sf_dir, "events")
    return competing_risks_cif(
        ev, "user_id", "event_type", "ts",
        entry_type="signup", event_types=["purchase", "error"],
        horizon_seconds=604800, bucket_seconds=3600,
    )


# --------------------------------------------------------------------------
# Heaps' law vocabulary-growth fit
# --------------------------------------------------------------------------


@register(
    "q_docs_heaps_fit",
    """
    WITH toks AS (
      SELECT CAST('0x' || substr(md5('heaps-' || CAST(doc_id AS VARCHAR)),
                                 1, 8) AS BIGINT) % 10 AS b,
             unnest(list_filter(string_split_regex(lower(text),
                                                   '[^a-z0-9]+'),
                                x -> x <> '')) AS token
      FROM documents),
    mass AS (SELECT b, CAST(count(*) AS BIGINT) AS m FROM toks
             GROUP BY b),
    fb AS (SELECT token, min(b) AS fb FROM toks GROUP BY token),
    vnew AS (SELECT fb AS b, CAST(count(*) AS BIGINT) AS v FROM fb
             GROUP BY fb),
    idx AS (SELECT unnest(range(0, 10)) AS b),
    cells AS (
      SELECT idx.b, coalesce(m, 0) AS m, coalesce(v, 0) AS v
      FROM idx LEFT JOIN mass USING (b) LEFT JOIN vnew USING (b)),
    cum AS (
      SELECT b,
             sum(m) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS nn,
             sum(v) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS vv
      FROM cells),
    q AS (
      SELECT CAST(round(ln(CAST(nn AS DOUBLE)) * 1000000) AS BIGINT)
               AS x,
             CAST(round(ln(CAST(vv AS DOUBLE)) * 1000000) AS BIGINT)
               AS y
      FROM cum WHERE nn > 0 AND vv > 0),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
             sum(CAST(x AS HUGEINT) * y) AS sxy,
             sum(CAST(x AS HUGEINT) * x) AS sxx,
             sum(CAST(y AS HUGEINT) * y) AS syy
      FROM q),
    fit AS (
      SELECT n,
             CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS dx,
             CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS dy,
             CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov,
             CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
      FROM agg)
    SELECT CASE WHEN n >= 2 AND dx > 0 THEN n ELSE 0 END AS n_points,
           CASE WHEN n >= 2 AND dx > 0
                THEN round(cov / dx, 6) END + 0.0 AS beta,
           CASE WHEN n >= 2 AND dx > 0
                THEN round((syd - cov / dx * sxd) / CAST(n AS DOUBLE)
                           / 1000000.0, 6) END + 0.0 AS log_k,
           CASE WHEN n >= 2 AND dx > 0 AND dy > 0
                THEN round(cov * cov / (dx * dy), 4)
           END + 0.0 AS r2
    FROM fit
    """,
    doc=(
        "Heaps'/Herdan's law vocabulary-growth fit (operators/"
        "text_analysis.heaps_fit): log-log OLS of ln(types) on "
        "ln(tokens) over 10 NESTED md5-hash-bucket corpus prefixes — "
        "natural text grows types at beta ~ 0.4-0.6; templated "
        "corpora flatten, id-garbage pushes beta toward 1. The "
        "companion diagnostic to q_docs_zipf_fit. V per prefix comes "
        "from ONE token min-bucket aggregate (no per-prefix distinct "
        "pass); windows run over the 10-row dense bucket table; the "
        "fit is stats.ols_xy's micro-quantized sufficient-statistics "
        "recipe mirrored token-for-token."
    ),
)
def q_docs_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text_analysis import heaps_fit

    docs = read_table(spark, sf_dir, "documents")
    return heaps_fit(docs, "text", "doc_id", n_points=10)


# --------------------------------------------------------------------------
# Monroe log-odds keyness ("Fightin' Words")
# --------------------------------------------------------------------------


@register(
    "q_docs_log_odds_keyness",
    """
    WITH toks AS (
      SELECT CASE WHEN doc_id % 17 = 0 THEN 1 ELSE 0 END AS t,
             unnest(list_filter(string_split_regex(lower(text),
                                                   '[^a-z0-9]+'),
                                x -> x <> '')) AS token
      FROM documents),
    per AS (
      SELECT token, CAST(sum(t) AS BIGINT) AS n_target,
             CAST(sum(1 - t) AS BIGINT) AS n_ref
      FROM toks GROUP BY token
      HAVING sum(t) + sum(1 - t) >= 5),
    tot AS (
      SELECT CAST(sum(n_target) AS BIGINT) AS tt,
             CAST(sum(n_ref) AS BIGINT) AS tr
      FROM per),
    raw AS (
      SELECT token, n_target, n_ref,
             ln((CAST(n_target AS DOUBLE)
                 + CAST(500.0 AS DOUBLE)
                   * (CAST(n_target AS DOUBLE) + CAST(n_ref AS DOUBLE))
                   / (CAST(tt AS DOUBLE) + CAST(tr AS DOUBLE)))
                / (CAST(tt AS DOUBLE) + CAST(500.0 AS DOUBLE)
                   - CAST(n_target AS DOUBLE)
                   - CAST(500.0 AS DOUBLE)
                     * (CAST(n_target AS DOUBLE) + CAST(n_ref AS DOUBLE))
                     / (CAST(tt AS DOUBLE) + CAST(tr AS DOUBLE))))
             - ln((CAST(n_ref AS DOUBLE)
                   + CAST(500.0 AS DOUBLE)
                     * (CAST(n_target AS DOUBLE) + CAST(n_ref AS DOUBLE))
                     / (CAST(tt AS DOUBLE) + CAST(tr AS DOUBLE)))
                  / (CAST(tr AS DOUBLE) + CAST(500.0 AS DOUBLE)
                     - CAST(n_ref AS DOUBLE)
                     - CAST(500.0 AS DOUBLE)
                       * (CAST(n_target AS DOUBLE)
                          + CAST(n_ref AS DOUBLE))
                       / (CAST(tt AS DOUBLE) + CAST(tr AS DOUBLE))))
               AS delta_raw,
             sqrt(CAST(1.0 AS DOUBLE)
                  / (CAST(n_target AS DOUBLE)
                     + CAST(500.0 AS DOUBLE)
                       * (CAST(n_target AS DOUBLE)
                          + CAST(n_ref AS DOUBLE))
                       / (CAST(tt AS DOUBLE) + CAST(tr AS DOUBLE)))
                  + CAST(1.0 AS DOUBLE)
                    / (CAST(n_ref AS DOUBLE)
                       + CAST(500.0 AS DOUBLE)
                         * (CAST(n_target AS DOUBLE)
                            + CAST(n_ref AS DOUBLE))
                         / (CAST(tt AS DOUBLE) + CAST(tr AS DOUBLE))))
               AS sigma_raw
      FROM per CROSS JOIN tot),
    sc AS (
      SELECT token, n_target, n_ref,
             round(delta_raw, 6) + 0.0 AS delta,
             round(delta_raw / sigma_raw, 6) + 0.0 AS z
      FROM raw)
    SELECT token, n_target, n_ref, delta, z
    FROM sc ORDER BY abs(z) DESC, token LIMIT 50
    """,
    doc=(
        "Monroe/Colaresi/Quinn 'Fightin' Words' log-odds keyness with "
        "an informative Dirichlet prior (operators/text_analysis."
        "log_odds_keyness, 2008): prior-shrunk per-token log-odds "
        "z-scores between the doc_id %% 17 = 0 slice and the rest, "
        "prior mass alpha0 = 500 spread proportional to the corpus "
        "unigram distribution — the standard companion to G2 keyness "
        "(q_docs_keyness): G2 rewards raw frequency; the shrunk z "
        "surfaces distinctive mid-frequency vocabulary and damps "
        "hapax noise. Only integer counts aggregate; delta/sigma/z "
        "are one-shot per-token doubles mirrored token-for-token, "
        "ordered by 6-dp |z| with a token tiebreak (total cut)."
    ),
)
def q_docs_log_odds_keyness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.text_analysis import log_odds_keyness

    docs = read_table(spark, sf_dir, "documents")
    return log_odds_keyness(
        docs, "text", "doc_id", F.col("doc_id") % 17 == 0,
        alpha0=500.0, min_count=5, top_n=50,
    )


# --------------------------------------------------------------------------
# Brunner-Munzel: the heteroskedasticity-robust rank test
# --------------------------------------------------------------------------


@register(
    "q_events_brunner_munzel",
    """
    WITH b AS (
      SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS isa,
             CAST(value AS DOUBLE) AS v
      FROM events
      WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
    per AS (
      SELECT v, CAST(count(*) AS BIGINT) AS t,
             CAST(sum(isa) AS BIGINT) AS ta
      FROM b GROUP BY v),
    pre AS (
      SELECT v, t, ta,
             coalesce(sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
               PRECEDING AND 1 PRECEDING), 0) AS off,
             coalesce(sum(ta) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
               PRECEDING AND 1 PRECEDING), 0) AS offa
      FROM per),
    agg AS (
      SELECT CAST(sum(ta) AS BIGINT) AS n_a,
             CAST(sum(t - ta) AS BIGINT) AS n_b,
             sum(CAST(ta AS HUGEINT) * (2 * off + t + 1)) AS ra2,
             sum(CAST(t - ta AS HUGEINT) * (2 * off + t + 1)) AS rb2,
             sum(CAST(ta AS HUGEINT)
                 * (2 * (off - offa) + (t - ta))) AS sa1,
             sum(CAST(ta AS HUGEINT)
                 * (2 * (off - offa) + (t - ta))
                 * (2 * (off - offa) + (t - ta))) AS sa2,
             sum(CAST(t - ta AS HUGEINT) * (2 * offa + ta)) AS sb1,
             sum(CAST(t - ta AS HUGEINT) * (2 * offa + ta)
                 * (2 * offa + ta)) AS sb2
      FROM pre),
    fin AS (
      SELECT n_a, n_b,
             CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
             CAST(ra2 AS DOUBLE) / 2.0 / CAST(n_a AS DOUBLE) AS ra_bar,
             CAST(rb2 AS DOUBLE) / 2.0 / CAST(n_b AS DOUBLE) AS rb_bar,
             (CAST(sa2 AS DOUBLE) / 4.0
              - CAST(n_a AS DOUBLE)
                * (CAST(sa1 AS DOUBLE) / 2.0 / CAST(n_a AS DOUBLE))
                * (CAST(sa1 AS DOUBLE) / 2.0 / CAST(n_a AS DOUBLE)))
             / (CAST(n_a AS DOUBLE) - 1.0) AS s2a,
             (CAST(sb2 AS DOUBLE) / 4.0
              - CAST(n_b AS DOUBLE)
                * (CAST(sb1 AS DOUBLE) / 2.0 / CAST(n_b AS DOUBLE))
                * (CAST(sb1 AS DOUBLE) / 2.0 / CAST(n_b AS DOUBLE)))
             / (CAST(n_b AS DOUBLE) - 1.0) AS s2b
      FROM agg)
    SELECT n_a, n_b,
           CASE WHEN n_a > 0 THEN
             round((rb_bar - (nb + 1.0) / 2.0) / na, 6) END + 0.0
             AS p_hat,
           CASE WHEN n_a > 1 AND n_b > 1
                     AND na * s2a + nb * s2b > 0.0 THEN
             round(na * nb * (rb_bar - ra_bar)
                   / ((na + nb) * sqrt(na * s2a + nb * s2b)), 6)
           END + 0.0 AS w,
           CASE WHEN n_a > 1 AND n_b > 1
                     AND na * s2a + nb * s2b > 0.0 THEN
             round((na * s2a + nb * s2b) * (na * s2a + nb * s2b)
                   / ((na * s2a) * (na * s2a) / (na - 1.0)
                      + (nb * s2b) * (nb * s2b) / (nb - 1.0)), 6)
           END + 0.0 AS df_welch
    FROM fin
    """,
    doc=(
        "Brunner-Munzel generalized Wilcoxon test (operators/stats."
        "brunner_munzel, Brunner & Munzel 2000) between click and view "
        "event values: tests P(A<B)+0.5*P(A=B) = 0.5 WITHOUT the "
        "equal-shape assumption Mann-Whitney needs — the rank analog "
        "of Welch's t, correct when dispersions differ. Combined AND "
        "within-group midranks from ONE range-partitioned exclusive-"
        "prefix pass (per-value differences are pure integers in x2 "
        "half-units: 2(R-Ra) = 2(off-offa)+(t-ta)); moments in "
        "DECIMAL(38,0)/HUGEINT; W, Welch df, and the stochastic-"
        "superiority p_hat are one-shot mirrored doubles."
    ),
)
def q_events_brunner_munzel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.stats import brunner_munzel

    ev = read_table(spark, sf_dir, "events")
    return brunner_munzel(ev, "event_type", "value", "click", "view")


# --------------------------------------------------------------------------
# Quade test: range-weighted blocked comparison
# --------------------------------------------------------------------------


@register(
    "q_events_quade",
    """
    WITH b AS (
      SELECT CAST(user_id AS VARCHAR) AS bk,
             CASE WHEN EXTRACT(hour FROM ts) < 8 THEN 'night'
                  WHEN EXTRACT(hour FROM ts) < 16 THEN 'day'
                  ELSE 'evening' END AS t,
             CAST(value AS DOUBLE) AS v
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND value IS NOT NULL),
    cell AS (
      SELECT bk, t,
             CAST(sum(CAST(v AS DECIMAL(38,12))) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS m
      FROM b GROUP BY bk, t),
    comp AS (
      SELECT bk FROM cell GROUP BY bk HAVING count(*) = 3),
    cc AS (SELECT cell.* FROM cell JOIN comp USING (bk)),
    rk AS (
      SELECT bk, t,
             CAST(2 * rank() OVER (PARTITION BY bk ORDER BY m)
                  + count(*) OVER (PARTITION BY bk, m) - 1
                  AS BIGINT) AS r2
      FROM cc),
    rng AS (SELECT bk, max(m) - min(m) AS rg FROM cc GROUP BY bk),
    perr AS (SELECT rg, CAST(count(*) AS BIGINT) AS c FROM rng
             GROUP BY rg),
    qoff AS (
      SELECT rg, c,
             coalesce(sum(c) OVER (ORDER BY rg ROWS BETWEEN UNBOUNDED
               PRECEDING AND 1 PRECEDING), 0) AS qo
      FROM perr),
    qrk AS (
      SELECT rng.bk, CAST(2 * qo + c + 1 AS BIGINT) AS q2
      FROM rng JOIN qoff USING (rg)),
    sc AS (
      SELECT rk.t, CAST(q2 AS HUGEINT) * (r2 - 4) AS s4
      FROM rk JOIN qrk USING (bk)),
    a16 AS (SELECT sum(CAST(s4 AS HUGEINT) * s4) AS a FROM sc),
    perj AS (SELECT t, CAST(sum(s4) AS HUGEINT) AS sj FROM sc
             GROUP BY t),
    b16 AS (SELECT sum(CAST(sj AS HUGEINT) * sj) AS bb FROM perj),
    nbl AS (SELECT CAST(count(*) AS BIGINT) AS n FROM comp)
    SELECT n AS n_blocks, CAST(3 AS BIGINT) AS k_treatments,
           CASE WHEN n >= 2 AND CAST(n AS DOUBLE) * CAST(a AS DOUBLE)
                                  - CAST(bb AS DOUBLE) > 0.0 THEN
             round((CAST(n AS DOUBLE) - 1.0) * CAST(bb AS DOUBLE)
                   / (CAST(n AS DOUBLE) * CAST(a AS DOUBLE)
                      - CAST(bb AS DOUBLE)), 6)
           END + 0.0 AS f_stat,
           CAST(2 AS BIGINT) AS df1,
           CAST((n - 1) * 2 AS BIGINT) AS df2
    FROM nbl CROSS JOIN a16 CROSS JOIN b16
    """,
    doc=(
        "Quade test (operators/stats.quade_test, Quade 1979): the "
        "Friedman-family blocked comparison that weights each user "
        "block by the across-blocks midrank of its RANGE, so blocks "
        "where the night/day/evening means actually differ dominate — "
        "more powerful than Friedman at k <= 4 (Conover 1999); "
        "completes the blocked family beside q_events_page_trend "
        "(ordered) and friedman (unordered). Exact DECIMAL cell "
        "means; within-block 3-row midrank windows; block-range "
        "midranks from ONE ranged exclusive-prefix pass (blocks are "
        "corpus-sized); S_ij in exact x4 quarter-units, A/B in "
        "DECIMAL(38,0)/HUGEINT, F one mirrored double."
    ),
)
def q_events_quade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import quade_test

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    ).select(
        F.col("user_id").cast("string").alias("bk"),
        F.when(F.hour("ts") < 8, F.lit("night"))
        .when(F.hour("ts") < 16, F.lit("day"))
        .otherwise(F.lit("evening"))
        .alias("t"),
        F.col("value").cast("double").alias("v"),
    ).filter(F.col("v").isNotNull() & F.col("bk").isNotNull())
    return quade_test(ev, "bk", "t", "v", ["night", "day", "evening"])


# --------------------------------------------------------------------------
# Yule's K lexical-richness constant
# --------------------------------------------------------------------------


@register(
    "q_docs_yule_k",
    """
    WITH toks AS (
      SELECT unnest(list_filter(string_split_regex(lower(text),
                                                   '[^a-z0-9]+'),
                                x -> x <> '')) AS token
      FROM documents),
    tf AS (SELECT token, CAST(count(*) AS BIGINT) AS f FROM toks
           GROUP BY token)
    SELECT CAST(count(*) AS BIGINT) AS vocab_size,
           CAST(sum(f) AS BIGINT) AS total_tokens,
           CASE WHEN sum(f) > 0 THEN
             round(CAST(10000.0 AS DOUBLE)
                   * (CAST(sum(CAST(f AS HUGEINT) * f) AS DOUBLE)
                      - CAST(sum(f) AS DOUBLE))
                   / (CAST(sum(f) AS DOUBLE) * CAST(sum(f) AS DOUBLE)),
                   6)
           END + 0.0 AS yule_k
    FROM tf
    """,
    doc=(
        "Yule's characteristic K (operators/text_analysis.yule_k, "
        "Yule 1944): 10^4*(sum tf^2 - N)/N^2 — the length-invariant "
        "lexical-richness constant; template spam and boilerplate "
        "jump out as K outliers before the zipf/heaps curves are "
        "plotted. Needs only the token-frequency second moment "
        "(sum_f f^2*V_f = sum_tokens tf^2): one token groupBy + one "
        "1-row reduction, tf^2 in DECIMAL(38,0)/HUGEINT (a corpus-"
        "scale stopword squares past 2^63), K one mirrored double."
    ),
)
def q_docs_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text_analysis import yule_k

    docs = read_table(spark, sf_dir, "documents")
    return yule_k(docs, "text")


# --------------------------------------------------------------------------
# Burrows' Delta stylometric distance
# --------------------------------------------------------------------------


@register(
    "q_docs_burrows_delta",
    """
    WITH toks AS (
      SELECT CAST(doc_id % 4 AS VARCHAR) AS g,
             unnest(list_filter(string_split_regex(lower(text),
                                                   '[^a-z0-9]+'),
                                x -> x <> '')) AS token
      FROM documents),
    cell AS (
      SELECT g, token, CAST(count(*) AS BIGINT) AS c
      FROM toks GROUP BY g, token),
    topm AS (
      SELECT token FROM (
        SELECT token, sum(c) AS tot FROM cell GROUP BY token
        ORDER BY tot DESC, token LIMIT 30)),
    gtot AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM cell
             GROUP BY g),
    ng AS (SELECT CAST(count(*) AS BIGINT) AS k FROM gtot),
    fg AS (
      SELECT gtot.g, topm.token,
             CAST(round(CAST(coalesce(cell.c, 0) AS DOUBLE)
                        / CAST(gtot.n AS DOUBLE) * 1e12) AS BIGINT)
               AS fq
      FROM gtot CROSS JOIN topm
      LEFT JOIN cell ON cell.g = gtot.g AND cell.token = topm.token),
    mom AS (
      SELECT token,
             CAST(sum(fq) AS DOUBLE) / CAST((SELECT k FROM ng)
                                            AS DOUBLE) AS mu,
             sqrt(CAST(sum(CAST(fq AS HUGEINT) * fq) AS DOUBLE)
                  / CAST((SELECT k FROM ng) AS DOUBLE)
                  - (CAST(sum(fq) AS DOUBLE)
                     / CAST((SELECT k FROM ng) AS DOUBLE))
                    * (CAST(sum(fq) AS DOUBLE)
                       / CAST((SELECT k FROM ng) AS DOUBLE))) AS sd
      FROM fg GROUP BY token),
    z AS (
      SELECT fg.g, fg.token,
             (CAST(fq AS DOUBLE) - mu) / sd AS zv
      FROM fg JOIN mom USING (token) WHERE sd > 0.0),
    pairs AS (
      SELECT a.g AS group_a, b.g AS group_b,
             CAST(round(abs(a.zv - b.zv) * 1e9) AS BIGINT) AS term
      FROM z a JOIN z b ON a.token = b.token AND a.g < b.g)
    SELECT group_a, group_b,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(CAST(sum(term) AS DOUBLE) / 1e9
                 / CAST(count(*) AS DOUBLE), 6) + 0.0 AS delta
    FROM pairs GROUP BY group_a, group_b
    """,
    doc=(
        "Burrows' Delta stylometric distance (operators/text_analysis."
        "burrows_delta, Burrows 2002) between the four doc_id %% 4 "
        "document groups over the corpus's 30 most-frequent tokens "
        "(count-desc, token-asc total cut): mean |z_a - z_b| of "
        "z-scored relative frequencies — the standard authorship / "
        "style-drift screen ('did these sources come from the same "
        "generator?'). Relative frequencies quantize to integer picos "
        "BEFORE the cross-group moments; everything after the one "
        "(group, token) count aggregate is k x 30 rows, so the pair "
        "join is broadcast-scale."
    ),
)
def q_docs_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text_analysis import burrows_delta

    docs = read_table(spark, sf_dir, "documents")
    return burrows_delta(
        docs, "text", F.col("doc_id") % 4, top_m=30
    )


# --------------------------------------------------------------------------
# Hurst exponent (aggregated variance)
# --------------------------------------------------------------------------


@register(
    "q_events_hurst",
    """
    WITH base AS (
      SELECT CAST(floor(epoch(ts)) AS BIGINT) AS sec,
             CAST(value AS DOUBLE) AS v
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
    cells AS (
      SELECT w, sec // w AS bkt, v
      FROM base CROSS JOIN (
        SELECT unnest([3600, 7200, 14400, 28800, 57600, 115200]) AS w)),
    means AS (
      SELECT w, bkt,
             CAST(round(CAST(sum(CAST(v AS DECIMAL(38,12))) AS DOUBLE)
                        / CAST(count(*) AS DOUBLE) * 1e6) AS BIGINT)
               AS mq
      FROM cells GROUP BY w, bkt),
    per_w AS (
      SELECT w, CAST(count(*) AS BIGINT) AS nb,
             sum(CAST(mq AS HUGEINT)) AS s1,
             sum(CAST(mq AS HUGEINT) * mq) AS s2
      FROM means GROUP BY w),
    vw AS (
      SELECT w, nb,
             (CAST(s2 AS DOUBLE) / CAST(nb AS DOUBLE)
              - (CAST(s1 AS DOUBLE) / CAST(nb AS DOUBLE))
                * (CAST(s1 AS DOUBLE) / CAST(nb AS DOUBLE))) / 1e12
               AS var
      FROM per_w WHERE nb >= 2),
    q AS (
      SELECT CAST(round(ln(CAST(w AS DOUBLE)) * 1000000) AS BIGINT)
               AS x,
             CAST(round(ln(var) * 1000000) AS BIGINT) AS y
      FROM vw WHERE var > 0.0),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
             sum(CAST(x AS HUGEINT) * y) AS sxy,
             sum(CAST(x AS HUGEINT) * x) AS sxx,
             sum(CAST(y AS HUGEINT) * y) AS syy
      FROM q),
    fit AS (
      SELECT n,
             CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS dx,
             CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS dy,
             CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov
      FROM agg),
    sl AS (
      SELECT n, dy, dx, cov,
             CASE WHEN n >= 2 AND dx > 0
                  THEN round(cov / dx, 6) END + 0.0 AS slope
      FROM fit)
    SELECT CASE WHEN n >= 2 AND dx > 0 THEN n ELSE 0 END
             AS n_scales_used,
           CASE WHEN n >= 2 AND dx > 0
                THEN round(1.0 + slope / 2.0, 6) END + 0.0 AS hurst,
           slope,
           CASE WHEN n >= 2 AND dx > 0 AND dy > 0
                THEN round(cov * cov / (dx * dy), 4)
           END + 0.0 AS r2
    FROM sl
    """,
    doc=(
        "Hurst exponent via aggregated variance (operators/timeseries."
        "hurst_aggvar, Taqqu/Teverovsky/Willinger 1995): variance of "
        "hourly-to-32-hourly bucket means of event value, log-log "
        "slope -> H = 1 + slope/2 — the long-range-dependence readout "
        "(H ~ 0.5 memoryless, H -> 1 persistent) that says whether "
        "naive confidence intervals on this series are too tight. ONE "
        "corpus pass: explode into 6 (scale, bucket) cells, exact "
        "DECIMAL bucket means micro-quantized before the per-scale "
        "moment reduction, ols_xy's quantized fit over <= 6 points."
    ),
)
def q_events_hurst(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import hurst_aggvar

    ev = read_table(spark, sf_dir, "events")
    return hurst_aggvar(ev, "ts", "value", base_seconds=3600, n_scales=6)


# --------------------------------------------------------------------------
# Two-sample scale tests: Ansari-Bradley + Mood (rank) and Bartlett
# (parametric) — the "did the SPREAD move?" family
# --------------------------------------------------------------------------


_SCALE_TEST_PRE = """
    WITH b AS (
      SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS isa,
             CAST(value AS DOUBLE) AS v
      FROM events
      WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
    per AS (
      SELECT v, CAST(count(*) AS BIGINT) AS t,
             CAST(sum(isa) AS BIGINT) AS ta
      FROM b GROUP BY v),
    tot AS (SELECT CAST(sum(t) AS BIGINT) AS nn FROM per),
    pre AS (
      SELECT v, t, ta,
             coalesce(sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
               PRECEDING AND 1 PRECEDING), 0) AS off
      FROM per)
"""


def _scale_test_sql(g2_expr: str, stat_alias: str, stat_sel: str) -> str:
    return (
        _SCALE_TEST_PRE
        + f""",
    sc AS (
      SELECT t, ta, {g2_expr} AS g2
      FROM pre CROSS JOIN tot),
    agg AS (
      SELECT CAST(sum(ta) AS BIGINT) AS n_a,
             CAST(sum(t - ta) AS BIGINT) AS n_b,
             sum(CAST(ta AS HUGEINT) * g2) AS t2,
             sum(CAST(t AS HUGEINT) * g2) AS g1,
             sum(CAST(t AS HUGEINT) * g2 * g2) AS g2s
      FROM sc),
    fin AS (
      SELECT n_a, n_b,
             CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
             CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) AS nd,
             CAST(t2 AS DOUBLE) / 2.0 AS t_stat,
             CAST(n_a AS DOUBLE) * CAST(g1 AS DOUBLE) / 2.0
               / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS e_stat,
             CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
               * (CAST(g2s AS DOUBLE)
                  - CAST(g1 AS DOUBLE) * CAST(g1 AS DOUBLE)
                    / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
               / (4.0 * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                  * ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                     - 1.0)) AS var_stat
      FROM agg)
    SELECT n_a, n_b,
           {stat_sel} AS {stat_alias},
           CASE WHEN var_stat > 0.0 THEN
             round((t_stat - e_stat) / sqrt(var_stat), 6)
           END + 0.0 AS z
    FROM fin
    """
    )


@register(
    "q_events_ansari",
    _scale_test_sql(
        "least(2 * off + t + 1, 2 * (nn + 1) - (2 * off + t + 1))",
        "ab_stat",
        "round(t_stat, 2) + 0.0",
    ),
    doc=(
        "Ansari-Bradley two-sample SCALE test (operators/stats."
        "ansari_bradley, 1960) between click and view event values: "
        "scores g(R) = min(R, N+1-R) peak mid-rank, so a low group "
        "sum means MORE dispersion — the rank-based 'did the spread "
        "move?' screen location tests are blind to. Exact conditional "
        "permutation moments over midrank scores (no tie-correction "
        "formula needed); one distinct-value aggregate + one ranged "
        "prefix pass; z a mirrored one-shot double."
    ),
)
def q_events_ansari(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import ansari_bradley

    ev = read_table(spark, sf_dir, "events")
    return ansari_bradley(ev, "event_type", "value", "click", "view")


@register(
    "q_events_mood",
    _scale_test_sql(
        "(2 * off + t + 1 - (nn + 1)) * (2 * off + t + 1 - (nn + 1))",
        "mood_stat",
        "round((round(t_stat, 2) + 0.0) / 2.0, 2) + 0.0",
    ),
    doc=(
        "Mood two-sample SCALE test (operators/stats.mood_test, 1954) "
        "between click and view event values: squared central-rank "
        "deviations peak in the TAILS (opposite polarity to "
        "Ansari-Bradley — the pair agreeing is the robust dispersion "
        "readout). Same shared rank-score engine: exact permutation "
        "moments, one ranged pass; the statistic is reported halved "
        "from the engine's x2 half-unit fold, mirrored double-round."
    ),
)
def q_events_mood(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import mood_test

    ev = read_table(spark, sf_dir, "events")
    return mood_test(ev, "event_type", "value", "click", "view")


@register(
    "q_lineitem_bartlett",
    """
    WITH b AS (
      SELECT CAST(l_returnflag AS VARCHAR) AS g,
             CAST(round(CAST(l_extendedprice AS DOUBLE) * 1e6)
                  AS BIGINT) AS vq
      FROM lineitem
      WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL),
    per AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n,
             sum(CAST(vq AS HUGEINT)) AS s1,
             sum(CAST(vq AS HUGEINT) * vq) AS s2
      FROM b GROUP BY g HAVING count(*) >= 2),
    terms AS (
      SELECT n,
             (CAST(s2 AS DOUBLE)
              - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                / CAST(n AS DOUBLE))
             / (CAST(n AS DOUBLE) - 1.0) / 1e12 AS var,
             CAST(round((CAST(n AS DOUBLE) - 1.0)
                        * ln((CAST(s2 AS DOUBLE)
                              - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                                / CAST(n AS DOUBLE))
                             / (CAST(n AS DOUBLE) - 1.0) / 1e12)
                        * 1e9) AS BIGINT) AS lnq,
             CAST(round(1.0 / (CAST(n AS DOUBLE) - 1.0) * 1e12)
                  AS BIGINT) AS invq,
             CAST(round((CAST(s2 AS DOUBLE)
                         - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                           / CAST(n AS DOUBLE)) / 1e12 * 1e9)
                  AS HUGEINT) AS sswq
      FROM per),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS k_groups,
             CAST(sum(n) AS BIGINT) AS n,
             CAST(sum(sswq) AS HUGEINT) AS ssw,
             CAST(sum(lnq) AS BIGINT) AS lnsum,
             CAST(sum(invq) AS BIGINT) AS invsum,
             CAST(sum(CASE WHEN var <= 0.0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS degen
      FROM terms)
    SELECT k_groups, n,
           CASE WHEN k_groups >= 2 AND degen = 0
                     AND CAST(ssw AS DOUBLE) / 1e9
                         / (CAST(n AS DOUBLE)
                            - CAST(k_groups AS DOUBLE)) > 0.0 THEN
             round(((CAST(n AS DOUBLE) - CAST(k_groups AS DOUBLE))
                    * ln(CAST(ssw AS DOUBLE) / 1e9
                         / (CAST(n AS DOUBLE)
                            - CAST(k_groups AS DOUBLE)))
                    - CAST(lnsum AS DOUBLE) / 1e9)
                   / (1.0 + (CAST(invsum AS DOUBLE) / 1e12
                             - 1.0 / (CAST(n AS DOUBLE)
                                      - CAST(k_groups AS DOUBLE)))
                            / (3.0 * (CAST(k_groups AS DOUBLE)
                                      - 1.0))), 6)
           END + 0.0 AS t_stat,
           CAST(k_groups - 1 AS BIGINT) AS df
    FROM agg
    """,
    doc=(
        "Bartlett's equal-variance test (operators/stats."
        "bartlett_test, 1937) of l_extendedprice across the three "
        "l_returnflag groups: the PARAMETRIC dispersion gate (most "
        "powerful under normality; levene_test is the robust "
        "fallback, ansari/mood the rank pair). Micro-quantized "
        "DECIMAL(38,0) per-group moments; the (n-1)ln(S^2), 1/(n-1) "
        "and within-SS pieces nano-quantize per group before the "
        "k-row sums; T one mirrored double on k-1 df."
    ),
)
def q_lineitem_bartlett(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import bartlett_test

    li = read_table(spark, sf_dir, "lineitem")
    return bartlett_test(li, "l_returnflag", "l_extendedprice")


# --------------------------------------------------------------------------
# Multi-rater agreement: Fleiss' kappa + Krippendorff's alpha
# --------------------------------------------------------------------------

#: Three deterministic "raters" over documents — the labeling-pool
#: audit shape: independent quality gates voting keep/drop. r3 is the
#: one that ABSTAINS on non-multiples-of-3 doc ids in the
#: Krippendorff gate (missing ratings are its whole point).
_RATERS_SQL = """
      SELECT doc_id AS u,
             CASE WHEN length(text) >= 200 THEN 'keep' ELSE 'drop' END
               AS v
      FROM documents
      UNION ALL
      SELECT doc_id AS u,
             CASE WHEN len(list_filter(string_split_regex(lower(text),
                                                          '[^a-z0-9]+'),
                                       x -> x <> '')) >= 40
                  THEN 'keep' ELSE 'drop' END AS v
      FROM documents
      UNION ALL
      SELECT doc_id AS u,
             CASE WHEN doc_id % 10 < 7 THEN 'keep' ELSE 'drop' END AS v
      FROM documents{r3_where}
"""


def _rater_rows(spark: SparkSession, sf_dir: str, r3_partial: bool):
    docs = read_table(spark, sf_dir, "documents")
    toks = F.size(word_tokens(F.col("text")))
    r1 = docs.select(
        F.col("doc_id").alias("u"),
        F.when(F.length("text") >= 200, F.lit("keep"))
        .otherwise(F.lit("drop"))
        .alias("v"),
    )
    r2 = docs.select(
        F.col("doc_id").alias("u"),
        F.when(toks >= 40, F.lit("keep"))
        .otherwise(F.lit("drop"))
        .alias("v"),
    )
    d3 = docs.filter(F.col("doc_id") % 3 == 0) if r3_partial else docs
    r3 = d3.select(
        F.col("doc_id").alias("u"),
        F.when(F.col("doc_id") % 10 < 7, F.lit("keep"))
        .otherwise(F.lit("drop"))
        .alias("v"),
    )
    return r1.unionByName(r2).unionByName(r3)


@register(
    "q_docs_fleiss_kappa",
    """
    WITH r AS (""" + _RATERS_SQL.format(r3_where="") + """),
    cell AS (
      SELECT u, v, CAST(count(*) AS BIGINT) AS c FROM r GROUP BY u, v),
    per_u AS (
      SELECT u, CAST(sum(c) AS BIGINT) AS m,
             sum(CAST(c AS HUGEINT) * c) AS s2
      FROM cell GROUP BY u HAVING sum(c) = 3),
    kept AS (SELECT cell.* FROM cell JOIN per_u USING (u)),
    cat AS (SELECT v, CAST(sum(c) AS BIGINT) AS nk FROM kept
            GROUP BY v),
    ua AS (SELECT CAST(count(*) AS BIGINT) AS n_units,
                  CAST(sum(s2) AS HUGEINT) AS ss2 FROM per_u),
    ca AS (SELECT CAST(count(*) AS BIGINT) AS k_categories,
                  CAST(sum(nk) AS BIGINT) AS ntot,
                  sum(CAST(nk AS HUGEINT) * nk) AS nk2 FROM cat),
    fin AS (
      SELECT n_units, k_categories,
             (CAST(ss2 AS DOUBLE) - CAST(n_units AS DOUBLE) * 3.0)
               / (CAST(n_units AS DOUBLE) * 3.0 * (3.0 - 1.0)) AS p_bar,
             CAST(nk2 AS DOUBLE)
               / (CAST(ntot AS DOUBLE) * CAST(ntot AS DOUBLE)) AS p_e
      FROM ua CROSS JOIN ca)
    SELECT n_units, CAST(3 AS BIGINT) AS n_raters, k_categories,
           round(p_bar, 6) + 0.0 AS p_bar,
           round(p_e, 6) + 0.0 AS p_e,
           CASE WHEN p_e < 1.0 THEN
             round((p_bar - p_e) / (1.0 - p_e), 6) END + 0.0 AS kappa
    FROM fin
    """,
    doc=(
        "Fleiss' kappa (operators/agreement.fleiss_kappa, Fleiss "
        "1971) over three deterministic quality 'raters' per document "
        "(char-length gate, token-count gate, id-bucket gate): "
        "chance-corrected agreement for a FIXED rating count per unit "
        "— the multi-rater sibling of q_docs_rater_kappa. Sum of "
        "per-unit P_i collapses to exact integer arithmetic when n is "
        "fixed; cell squares in DECIMAL(38,0)/HUGEINT; kappa one "
        "mirrored double."
    ),
)
def q_docs_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.agreement import fleiss_kappa

    return fleiss_kappa(
        _rater_rows(spark, sf_dir, r3_partial=False), "u", "v",
        n_raters=3,
    )


@register(
    "q_docs_krippendorff",
    """
    WITH r AS ("""
    + _RATERS_SQL.format(r3_where=" WHERE doc_id % 3 = 0")
    + """),
    cell AS (
      SELECT u, v, CAST(count(*) AS BIGINT) AS c FROM r GROUP BY u, v),
    per_u AS (
      SELECT u, CAST(sum(c) AS BIGINT) AS m,
             sum(CAST(c AS HUGEINT) * c) AS s2
      FROM cell GROUP BY u HAVING sum(c) >= 2),
    du AS (
      SELECT u, m,
             CAST(round((CAST(m AS DOUBLE) * CAST(m AS DOUBLE)
                         - CAST(s2 AS DOUBLE))
                        / (CAST(m AS DOUBLE) - 1.0) * 1e9)
                  AS BIGINT) AS dq
      FROM per_u),
    ua AS (SELECT CAST(count(*) AS BIGINT) AS n_units,
                  CAST(sum(m) AS BIGINT) AS ntot,
                  CAST(sum(dq) AS BIGINT) AS doq FROM du),
    kept AS (SELECT cell.* FROM cell JOIN per_u USING (u)),
    ca AS (
      SELECT CAST(count(*) AS BIGINT) AS k_categories,
             sum(CAST(nk AS HUGEINT) * nk) AS nk2
      FROM (SELECT v, CAST(sum(c) AS BIGINT) AS nk FROM kept
            GROUP BY v)),
    fin AS (
      SELECT n_units, ntot, k_categories,
             CAST(doq AS DOUBLE) / 1e9 AS d_o,
             (CAST(ntot AS DOUBLE) * CAST(ntot AS DOUBLE)
              - CAST(nk2 AS DOUBLE)) / (CAST(ntot AS DOUBLE) - 1.0)
               AS d_e
      FROM ua CROSS JOIN ca)
    SELECT n_units, ntot AS n_values, k_categories,
           CASE WHEN d_e > 0.0 THEN round(1.0 - d_o / d_e, 6)
           END + 0.0 AS alpha
    FROM fin
    """,
    doc=(
        "Krippendorff's alpha, nominal (operators/agreement."
        "krippendorff_alpha_nominal, Krippendorff 2004) over the same "
        "three quality raters with rater 3 ABSTAINING on 2/3 of "
        "documents — the agreement coefficient that tolerates missing "
        "ratings (Fleiss wants a fixed panel; Cohen two named raters), "
        "i.e. the real shape of pooled labeling efforts. Per-unit "
        "disagreement mass (m^2 - sum c^2)/(m-1) nano-quantized "
        "before the unit sum; expected mass from pooled integer "
        "totals; alpha one mirrored double."
    ),
)
def q_docs_krippendorff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.agreement import krippendorff_alpha_nominal

    return krippendorff_alpha_nominal(
        _rater_rows(spark, sf_dir, r3_partial=True), "u", "v"
    )


# --------------------------------------------------------------------------
# Gumbel block maxima (extreme-value return levels)
# --------------------------------------------------------------------------


@register(
    "q_events_gumbel",
    """
    WITH base AS (
      SELECT CAST(floor(epoch(ts)) AS BIGINT) AS sec,
             CAST(value AS DOUBLE) AS v
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
    blocks AS (
      SELECT sec // 86400 AS b, max(v) AS mx FROM base GROUP BY b),
    mq AS (SELECT CAST(round(mx * 1e6) AS BIGINT) AS mq FROM blocks),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_blocks,
             sum(CAST(mq AS HUGEINT)) AS s1,
             sum(CAST(mq AS HUGEINT) * mq) AS s2
      FROM mq),
    fin AS (
      SELECT n_blocks,
             CAST(s1 AS DOUBLE) / CAST(n_blocks AS DOUBLE) / 1e6
               AS mean,
             (CAST(s2 AS DOUBLE) / CAST(n_blocks AS DOUBLE)
              - (CAST(s1 AS DOUBLE) / CAST(n_blocks AS DOUBLE))
                * (CAST(s1 AS DOUBLE) / CAST(n_blocks AS DOUBLE)))
             / 1e12 AS var
      FROM agg),
    fit AS (
      SELECT n_blocks, var,
             sqrt(var) * 0.779696801233676 AS beta,
             mean - 0.5772156649015329
                    * (sqrt(var) * 0.779696801233676) AS mu
      FROM fin)
    SELECT n_blocks,
           CASE WHEN n_blocks >= 2 AND var > 0.0 THEN round(mu, 6)
           END + 0.0 AS mu,
           CASE WHEN n_blocks >= 2 AND var > 0.0 THEN round(beta, 6)
           END + 0.0 AS beta,
           CASE WHEN n_blocks >= 2 AND var > 0.0 THEN
             round(mu - beta * -3.3842944934992527, 6)
           END + 0.0 AS rl_30,
           CASE WHEN n_blocks >= 2 AND var > 0.0 THEN
             round(mu - beta * -5.8985259242227315, 6)
           END + 0.0 AS rl_365
    FROM fit
    """,
    doc=(
        "Gumbel block-maxima tail fit (operators/timeseries."
        "gumbel_block_maxima, Fisher-Tippett type I): daily maxima of "
        "event value, method-of-moments beta = s*sqrt(6)/pi, mu = m - "
        "gamma*beta, and 30/365-day RETURN LEVELS mu - beta*ln(-ln(1-"
        "1/T)) — the capacity-planning readout a percentile cannot "
        "give (p99.9 describes the sample; the return level "
        "extrapolates the tail law). Maxima micro-quantized before "
        "the DECIMAL moment reduction; constants mirrored as exact "
        "double literals; one block-max aggregate + one 1-row reduce."
    ),
)
def q_events_gumbel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import gumbel_block_maxima

    ev = read_table(spark, sf_dir, "events")
    return gumbel_block_maxima(
        ev, "ts", "value", block_seconds=86400, return_periods=(30, 365)
    )
