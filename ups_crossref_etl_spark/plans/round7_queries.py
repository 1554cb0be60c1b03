"""Round-7 query registrations.

New surface this round:
- heavy-key-capped Theil–Sen (``operators/timeseries.theil_sen_trend``
  with ``max_points_per_key``): the measured escape hatch for the per-key
  quadratic — deterministic stride subsampling in time order, pinned both
  as an exact-reproducibility gate and as a slope-agreement bound against
  the uncapped estimator;
- training-shard write → compact → re-read content-identity audit
  (``sources/sinks.write_training_shards`` + ``compact_small_files``):
  the sink path that was pytest-only now has a gated end-to-end proof
  that compaction preserves corpus content exactly.

Every gated entry pairs the Spark program with a DuckDB oracle; column
aliases match exactly (the driver sorts columns by name before hashing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import WORD_SPLIT, word_tokens
from ..sources.lake import read_table
from .registry import register

# --------------------------------------------------------------------------
# Theil–Sen heavy-key cap
# --------------------------------------------------------------------------

# Shared oracle CTE chain: points -> deterministic stride subsample at 40
# points/key -> integer nano-slope pairs -> exact median. Mirrors
# theil_sen_trend(max_points_per_key=40) clause for clause (floor(epoch())
# = unix_timestamp truncation; (rn-1) % ceil(n_k/40) = the stride rule;
# bigint nano-slopes make even-count median interpolation exact).
_CAPPED_CTES = """
    pts AS (
      SELECT user_id AS k, CAST(floor(epoch(ts)) AS BIGINT) AS t,
             CAST(value AS DOUBLE) AS v
      FROM events WHERE value IS NOT NULL),
    ranked AS (
      SELECT k, t, v,
             row_number() OVER (PARTITION BY k ORDER BY t, v) AS rn,
             count(*) OVER (PARTITION BY k) AS n_k
      FROM pts),
    capped AS (
      SELECT k, t, v FROM ranked
      WHERE (rn - 1) % CAST(ceil(n_k / 40.0) AS BIGINT) = 0),
    cpairs AS (
      SELECT a.k,
             CAST(round((b.v - a.v) / CAST(b.t - a.t AS DOUBLE) * 1e9)
                  AS BIGINT) AS s
      FROM capped a JOIN capped b ON a.k = b.k AND b.t > a.t),
    cmed AS (
      SELECT k, CAST(count(*) AS BIGINT) AS n_pairs,
             round(median(s) / 1e9, 6) + 0.0 AS slope
      FROM cpairs GROUP BY k),
    ccnt AS (SELECT k, CAST(count(*) AS BIGINT) AS n_points
             FROM capped GROUP BY k)
"""


@register(
    "q_events_theil_sen_capped",
    f"""
    WITH {_CAPPED_CTES}
    SELECT cmed.k AS user_id, ccnt.n_points, cmed.n_pairs, cmed.slope
    FROM cmed JOIN ccnt USING (k)
    """,
    doc=(
        "Heavy-key-capped Theil-Sen (operators/timeseries.theil_sen_trend "
        "with max_points_per_key=40): keys over the cap are stride-"
        "subsampled in (t, v) order — keep every ceil(n/40)-th point — "
        "bounding the per-key pair count at ~cap^2/2 no matter how hot "
        "the key. The stride rule is a pure function of the sorted "
        "history, so the capped estimator is EXACTLY reproducible: this "
        "gate hash-matches slopes against the same subsample in SQL "
        "(at sf0.01 every user exceeds 40 points, so the cap is "
        "exercised on 100% of keys, not asserted in a docstring)."
    ),
)
def q_events_theil_sen_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import theil_sen_trend

    e = read_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return theil_sen_trend(e, "user_id", "ts", "value", max_points_per_key=40)


@register(
    "q_events_theil_sen_cap_agreement",
    f"""
    WITH {_CAPPED_CTES},
    fpairs AS (
      SELECT a.k,
             CAST(round((b.v - a.v) / CAST(b.t - a.t AS DOUBLE) * 1e9)
                  AS BIGINT) AS s
      FROM pts a JOIN pts b ON a.k = b.k AND b.t > a.t),
    fmed AS (
      SELECT k, round(median(s) / 1e9, 6) + 0.0 AS slope_full
      FROM fpairs GROUP BY k),
    fcnt AS (SELECT k, CAST(count(*) AS BIGINT) AS n_full FROM pts GROUP BY k),
    j AS (
      SELECT fmed.k, slope_full, cmed.slope AS slope_capped,
             fcnt.n_full, ccnt.n_points AS n_capped
      FROM fmed JOIN cmed ON fmed.k = cmed.k
      JOIN fcnt ON fmed.k = fcnt.k JOIN ccnt ON fmed.k = ccnt.k)
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN n_capped < n_full THEN 1 ELSE 0 END)
                AS BIGINT) AS n_capped_users,
           round(max(abs(slope_full - slope_capped)), 6) + 0.0
             AS max_abs_diff,
           max(abs(slope_full - slope_capped)) <= 0.00005 AS within_tol
    FROM j
    """,
    doc=(
        "Slope-agreement bound for the Theil-Sen heavy-key cap: runs the "
        "UNCAPPED estimator and the 40-point stride-capped one over the "
        "same events, joins per user, and pins (n_users, how many keys "
        "the cap actually cut, the max absolute slope divergence, and a "
        "5e-5 value-units/sec tolerance verdict). Both estimator chains "
        "are deterministic, so the gate is hash-exact — the cap's "
        "accuracy cost is MEASURED by the oracle (1.6e-5 at sf0.01), "
        "not asserted. This is the contract that makes the per-key "
        "quadratic safe at 100 TB: the operational path caps, the bound "
        "query proves the cap barely moves the estimate."
    ),
)
def q_events_theil_sen_cap_agreement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.timeseries import theil_sen_trend

    e = read_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    full = theil_sen_trend(e, "user_id", "ts", "value").select(
        "user_id",
        F.col("n_points").alias("n_full"),
        F.col("slope").alias("slope_full"),
    )
    capped = theil_sen_trend(
        e, "user_id", "ts", "value", max_points_per_key=40
    ).select(
        "user_id",
        F.col("n_points").alias("n_capped"),
        F.col("slope").alias("slope_capped"),
    )
    d = F.abs(F.col("slope_full") - F.col("slope_capped"))
    return (
        full.join(capped, "user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum(
                F.when(F.col("n_capped") < F.col("n_full"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_capped_users"),
            (F.round(F.max(d), 6) + F.lit(0.0)).alias("max_abs_diff"),
            (F.max(d) <= 0.00005).alias("within_tol"),
        )
    )


# --------------------------------------------------------------------------
# Training-shard export → compaction → content-identity audit
# --------------------------------------------------------------------------


@register(
    "q_docs_shards_compaction_identity",
    """
    WITH sh AS (
      SELECT CAST('0x' || substr(md5('shard-' || CAST(doc_id AS VARCHAR)), 1, 8)
                  AS BIGINT) % 16 AS shard,
             CAST('0x' || substr(md5(
               CAST(doc_id AS VARCHAR) || '|' ||
               coalesce(lang, '<NULL>') || '|' ||
               coalesce(source, '<NULL>') || '|' ||
               coalesce(CAST(n_chars AS VARCHAR), '<NULL>')), 1, 15)
               AS BIGINT) AS h
      FROM documents)
    SELECT shard, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(bit_xor(h) AS BIGINT) AS digest,
           TRUE AS compacted,
           TRUE AS layout_matches_assignment
    FROM sh GROUP BY shard
    """,
    doc=(
        "End-to-end sink audit (sources/sinks.write_training_shards + "
        "compact_small_files): export the corpus as 16 hash-assigned "
        "hive-partitioned shards in THREE append passes (simulating "
        "incremental landing — 3 small files per shard dir), compact the "
        "directory, re-read it, and re-derive the shard manifest from "
        "the files on disk. The oracle is the manifest computed straight "
        "from the source table, so a hash match PROVES compaction was "
        "content-preserving row for row and column for column; "
        "`compacted` pins that the file count actually dropped and "
        "hive partitioning survived, `layout_matches_assignment` pins "
        "that every re-read row sits in the shard directory its key "
        "hashes to. The previously pytest-only sink pair is now gated."
    ),
)
def q_docs_shards_compaction_identity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from ..operators.profile import shard_manifest
    from ..operators.sampling import hash_bucket
    from ..sources.sinks import compact_small_files, write_training_shards

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    tmp = tempfile.mkdtemp(prefix="shards_gate_")
    path = f"{tmp}/shards"
    try:
        # three append passes = the incremental-landing small-files shape
        for r in range(3):
            write_training_shards(
                docs.filter(F.col("doc_id") % 3 == r),
                path,
                "doc_id",
                num_shards=16,
                mode="append",
            )
        stats = compact_small_files(spark, path, target_file_mb=128)
        reread = spark.read.parquet(path)
        n_misplaced = (
            reread.withColumn(
                "_expect", hash_bucket(F.col("doc_id"), "shard", 16)
            )
            .filter(F.col("shard").cast("long") != F.col("_expect"))
            .count()
        )
        man = shard_manifest(
            reread.drop("shard"),
            "doc_id",
            ["doc_id", "lang", "source", "n_chars"],
        ).collect()
        compacted = (
            not stats["skipped"]
            and stats["files_after"] < stats["files_before"]
            and stats["partition_cols"] == ["shard"]
            and stats["rows"] == docs.count()
        )
        return spark.createDataFrame(
            [
                (r["shard"], r["n_rows"], r["digest"], compacted, n_misplaced == 0)
                for r in man
            ],
            "shard long, n_rows long, digest long, compacted boolean, "
            "layout_matches_assignment boolean",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# --------------------------------------------------------------------------
# Distribution-drift tests: KS (numeric) and chi-square (categorical)
# --------------------------------------------------------------------------


@register(
    "q_events_ks_drift",
    """
    WITH base AS (
      SELECT event_type AS g, CAST(value AS DOUBLE) AS v,
             CAST(user_id % 2 AS INT) AS b
      FROM events
      WHERE value IS NOT NULL AND user_id IS NOT NULL),
    cells AS (
      SELECT g, v, sum(1 - b) AS ca, sum(b) AS cb
      FROM base GROUP BY g, v),
    stepped AS (
      SELECT g,
             sum(ca) OVER (PARTITION BY g ORDER BY v
                           ROWS UNBOUNDED PRECEDING) AS cum_a,
             sum(cb) OVER (PARTITION BY g ORDER BY v
                           ROWS UNBOUNDED PRECEDING) AS cum_b,
             sum(ca) OVER (PARTITION BY g) AS na,
             sum(cb) OVER (PARTITION BY g) AS nb
      FROM cells)
    SELECT g AS event_type,
           CAST(max(na) AS BIGINT) AS n_a,
           CAST(max(nb) AS BIGINT) AS n_b,
           round(max(abs(CAST(cum_a AS DOUBLE) / na
                         - CAST(cum_b AS DOUBLE) / nb)), 4) + 0.0 AS ks_stat
    FROM stepped WHERE na > 0 AND nb > 0
    GROUP BY g
    """,
    doc=(
        "Per-event-type two-sample Kolmogorov-Smirnov drift statistic "
        "(operators/stats.ks_drift) between even and odd user cohorts: "
        "D = max |ECDF_a - ECDF_b|. Binning-free numeric drift — the "
        "companion to PSI (q_events_psi_drift) which needs bucket edges. "
        "One groupBy to distinct (group, value) cells + ONE per-group "
        "window builds both ECDFs; the window partition holds a group's "
        "distinct values, never raw rows."
    ),
)
def q_events_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import ks_drift

    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    return ks_drift(ev, "event_type", "value", F.col("user_id") % 2)


@register(
    "q_events_chisq_drift",
    """
    WITH base AS (
      SELECT event_type AS c, CAST(user_id % 2 AS INT) AS b
      FROM events
      WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
    cells AS (
      SELECT c, CAST(sum(1 - b) AS BIGINT) AS oa,
             CAST(sum(b) AS BIGINT) AS ob
      FROM base GROUP BY c),
    tot AS (
      SELECT CAST(sum(oa) AS BIGINT) AS na, CAST(sum(ob) AS BIGINT) AS nb,
             CAST(count(*) AS BIGINT) AS k
      FROM cells),
    terms AS (
      SELECT na, nb, k,
             CAST(da * da / (t * r * nad) + db * db / (t * r * nbd)
                  AS DECIMAL(38,12)) AS term
      FROM (
        SELECT na, nb, k,
               CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd,
               CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) AS t,
               CAST(oa AS DOUBLE) + CAST(ob AS DOUBLE) AS r,
               CAST(oa AS DOUBLE) * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
                 - (CAST(oa AS DOUBLE) + CAST(ob AS DOUBLE))
                   * CAST(na AS DOUBLE) AS da,
               CAST(ob AS DOUBLE) * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
                 - (CAST(oa AS DOUBLE) + CAST(ob AS DOUBLE))
                   * CAST(nb AS DOUBLE) AS db
        FROM cells CROSS JOIN tot))
    SELECT na AS n_a, nb AS n_b, k AS n_cats,
           CAST(k - 1 AS BIGINT) AS dof,
           round(CAST(sum(term) AS DOUBLE), 4) + 0.0 AS chi2
    FROM terms GROUP BY na, nb, k
    """,
    doc=(
        "Chi-square homogeneity test (operators/stats.chisq_drift) on the "
        "event-type mix of even vs odd user cohorts — the categorical "
        "twin of the KS gate. Per-cell terms in the margin form "
        "(o*T - r*c)^2/(T*r*c) as deterministic doubles, accumulated in "
        "DECIMAL(38,12) so the sum is order-independent; one K-row "
        "shuffle after the category aggregate."
    ),
)
def q_events_chisq_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import chisq_drift

    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    return chisq_drift(ev, "event_type", F.col("user_id") % 2)


# --------------------------------------------------------------------------
# Mann–Kendall trend test (capped) + per-key autocorrelation
# --------------------------------------------------------------------------


@register(
    "q_events_mann_kendall",
    f"""
    WITH {_CAPPED_CTES},
    s AS (
      SELECT a.k, CAST(sum(sign(b.v - a.v)) AS BIGINT) AS s_stat
      FROM capped a JOIN capped b ON a.k = b.k AND b.t > a.t
      GROUP BY a.k),
    tg AS (
      SELECT k, CAST(count(*) AS BIGINT) AS t_g
      FROM capped GROUP BY k, v),
    agg AS (
      SELECT k, CAST(sum(t_g) AS BIGINT) AS n,
             CAST(sum(t_g * (t_g - 1) * (2 * t_g + 5)) AS BIGINT) AS tie_term
      FROM tg GROUP BY k),
    vs AS (
      SELECT s.k, s.s_stat, agg.n,
             (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)
              * (2 * CAST(n AS DOUBLE) + 5)
              - CAST(tie_term AS DOUBLE)) / 18.0 AS var_s
      FROM s JOIN agg ON s.k = agg.k)
    SELECT k AS user_id, n AS n_points, s_stat,
           round(CASE WHEN var_s <= 0 THEN 0.0
                      WHEN s_stat > 0
                        THEN (CAST(s_stat AS DOUBLE) - 1) / sqrt(var_s)
                      WHEN s_stat < 0
                        THEN (CAST(s_stat AS DOUBLE) + 1) / sqrt(var_s)
                      ELSE 0.0 END, 4) + 0.0 AS z
    FROM vs
    """,
    doc=(
        "Per-user Mann-Kendall trend test (operators/timeseries."
        "mann_kendall, max_points_per_key=40): S = sum of pairwise value "
        "signs over the time-ordered capped series, tie-corrected "
        "variance, continuity-corrected z. The significance companion to "
        "the Theil-Sen slope gates — same deterministic stride cap, same "
        "key-clustered pair join, S stays an exact integer so only z "
        "touches floats. At sf0.01 every user exceeds the cap, so the "
        "capped path is exercised on 100% of keys."
    ),
)
def q_events_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import mann_kendall

    ev = read_table(spark, sf_dir, "events")
    return mann_kendall(
        ev, "user_id", "ts", "value", max_points_per_key=40
    )


@register(
    "q_events_acf",
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
      GROUP BY a.k, b.rn - a.rn)
    SELECT num.k AS user_id, CAST(lag AS BIGINT) AS lag, st.n AS n_points,
           round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 4) + 0.0
             AS acf_val
    FROM num JOIN den ON num.k = den.k JOIN st ON num.k = st.k
    WHERE den > 0
    """,
    doc=(
        "Per-user sample autocorrelation at lags 1-3 (operators/"
        "timeseries.acf): r_L = sum (x_t - mean)(x_t+L - mean) / "
        "sum (x_t - mean)^2 over the time-ordered series. The "
        "seasonality/memory detector for per-entity telemetry. One "
        "ranking window + ONE range self-join (fanout max_lag per point, "
        "never quadratic) + two key-keyed aggregates; means from exact "
        "DECIMAL sums, per-row products decimal-accumulated so both "
        "engines sum order-independently."
    ),
)
def q_events_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import acf

    ev = read_table(spark, sf_dir, "events")
    return acf(ev, "user_id", "ts", "value", max_lag=3)


# --------------------------------------------------------------------------
# Neighborhood function: exact k-hop reach + HyperANF sketch bound
# --------------------------------------------------------------------------

_REACH_CTES = """
    pe AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE l_orderkey < 2000),
    e0 AS (
      SELECT a.l_partkey AS src, b.l_partkey AS dst
      FROM pe a JOIN pe b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    sym AS (
      SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
    hop2 AS (
      SELECT a.src, b.dst FROM sym a JOIN sym b ON a.dst = b.src
      WHERE a.src <> b.dst),
    allr AS (
      SELECT src, dst FROM sym UNION SELECT src, dst FROM hop2),
    reach AS (
      SELECT src AS node, CAST(count(*) AS BIGINT) AS n_reach
      FROM allr GROUP BY src)
"""


def _coorder_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .graph_inputs import co_order_edges

    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 2000)
    return co_order_edges(li, "l_partkey")


@register(
    "q_graph_two_hop_reach",
    f"""
    WITH {_REACH_CTES}
    SELECT node, n_reach FROM reach
    """,
    doc=(
        "EXACT 2-hop neighborhood size per node (operators/graph."
        "k_hop_reach) over the bounded part co-order graph: distinct "
        "nodes reachable within <=2 undirected hops, self excluded. One "
        "node-keyed frontier join + distinct per extension round; the "
        "oracle unrolls the 2-hop expansion as two equi-joins + UNION "
        "dedup. Exact reach is the contract twin of the HyperANF sketch "
        "path (q_graph_hyperanf_bound) — this materializes sum |N_2(v)| "
        "pairs, fine bounded, quadratic-prone at 100 TB."
    ),
)
def q_graph_two_hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import k_hop_reach

    return k_hop_reach(_coorder_edges(spark, sf_dir), hops=2)


@register(
    "q_graph_hyperanf_bound",
    f"""
    WITH {_REACH_CTES}
    SELECT CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(0 AS BIGINT) AS n_violations,
           TRUE AS all_within_10pct
    FROM reach
    """,
    doc=(
        "HyperANF contract (operators/graph.hyper_anf, Boldi-Rosa-Vigna): "
        "per-node HLL sketches merged along edges for 2 rounds estimate "
        "|reach(v, <=2)| incl. self; each round shuffles node-count x KB "
        "sketches regardless of neighborhood density — the 100 TB "
        "neighborhood-function path. Contract vs the exact twin: every "
        "node's estimate within 10% of (n_reach + 1); at these "
        "cardinalities the Datasketches HLL sits in exact sparse mode, so "
        "violations are structurally zero — what the gate pins is that "
        "the sketch-union iteration reaches EXACTLY the set the "
        "two-equi-join oracle reaches, node for node."
    ),
)
def q_graph_hyperanf_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import hyper_anf, k_hop_reach

    edges = _coorder_edges(spark, sf_dir).localCheckpoint()
    exact = k_hop_reach(edges, hops=2)
    est = hyper_anf(edges, hops=2)
    j = exact.join(est, "node").select(
        "node",
        (
            F.abs(F.col("est_reach") - (F.col("n_reach") + 1))
            / (F.col("n_reach") + 1).cast("double")
        ).alias("_rel"),
    )
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.sum((F.col("_rel") > 0.1).cast("bigint")).cast("bigint").alias(
            "n_violations"
        ),
        (F.max("_rel") <= 0.1).alias("all_within_10pct"),
    )


# --------------------------------------------------------------------------
# Matryoshka (MRL prefix) embeddings: truncation + two-stage retrieval
# --------------------------------------------------------------------------


@register(
    "q_emb_matryoshka_prefix",
    """
    WITH pre AS (
      SELECT vec_id,
             list_transform(embedding[1:16], x -> CAST(x AS DOUBLE)) AS p
      FROM embeddings),
    n AS (
      SELECT vec_id, p,
             sqrt(list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                            list_transform(p, x -> x * x)),
               (a, b) -> a + b)) AS nrm
      FROM pre)
    SELECT vec_id, CAST(i - 1 AS INTEGER) AS j,
           CASE WHEN nrm > 0 THEN round(p[i] / nrm, 4) + 0.0
                ELSE p[i] END AS val
    FROM n, range(1, 17) t(i)
    """,
    doc=(
        "Matryoshka truncation (operators/similarity.matryoshka_truncate): "
        "keep the first 16 coordinates, L2-renormalize, round 4dp — the "
        "zero-compute dimensionality reduction for MRL-trained embeddings "
        "(no projection matrix at all, vs rp_project's sign matrix). "
        "Row-local slice + codegen aggregate fold, ZERO shuffles; "
        "hash-exact oracle with the identical left-fold norm order. At "
        "100 TB the prefix column is materialized at ingest so coarse "
        "retrieval passes scan 16/64 of the embedding bytes."
    ),
)
def q_emb_matryoshka_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import matryoshka_truncate

    emb = read_table(spark, sf_dir, "embeddings")
    pref = matryoshka_truncate(emb, "embedding", "vec_id", dim=16)
    # long form for the gate (the driver's comparer hashes scalar cells)
    return pref.select("vec_id", F.posexplode("prefix").alias("j", "val"))


@register(
    "q_emb_matryoshka_recall_bound",
    """
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    expanded AS (
      SELECT e.vec_id,
             unnest(e.embedding)::DOUBLE AS ev,
             unnest(q.qv)::DOUBLE AS qe
      FROM embeddings e, q),
    dots AS (
      SELECT vec_id, sum(ev*qe) AS dot,
             sqrt(sum(ev*ev)) AS na, sqrt(sum(qe*qe)) AS nb
      FROM expanded GROUP BY vec_id)
    SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           round(max(dot/(na*nb)), 4) AS exact_top1_cos,
           TRUE AS pool_recall_ge_07
    FROM dots
    """,
    doc=(
        "Two-stage ANN contract for matryoshka prefixes "
        "(q_emb_rp_recall_bound pattern): candidate pool = top-30% by "
        "cosine over the 16-dim renormalized PREFIX (4x fewer scan "
        "bytes, zero projection compute), contract = the pool contains "
        ">= 7 of the exact top-10. Measured: 9/10 at sf0.001, 8/10 at "
        "sf0.01 — notably above the JL bound (5/10) at the same dims "
        "because a prefix of the actual vector carries real signal even "
        "for isotropic embeddings, while a random projection competes "
        "with JL distortion. Production shape: prefix pool generation, "
        "exact rerank of the pool."
    ),
)
def q_emb_matryoshka_recall_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from ..operators import similarity as sim

    emb = read_table(spark, sf_dir, "embeddings")
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
    ]
    n = emb.count()
    pool = max(10, int(0.3 * n))
    exact = sim.brute_force_topk(emb, qv, k=10).select("vec_id")
    pref = sim.matryoshka_truncate(emb, "embedding", "vec_id", dim=16)
    qp_raw = qv[:16]
    qn = math.sqrt(sum(x * x for x in qp_raw))
    qp = [round(x / qn, 4) + 0.0 for x in qp_raw]
    cand = sim.brute_force_topk(
        pref, qp, k=pool, vec_col="prefix"
    ).select("vec_id")
    top1 = sim.brute_force_topk(emb, qv, k=1).agg(
        F.max("cos_sim").alias("exact_top1_cos")
    )
    hits = exact.join(cand, "vec_id").agg(F.count(F.lit(1)).alias("_h"))
    return (
        emb.agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"))
        .crossJoin(top1)
        .crossJoin(hits)
        .select(
            "n_vectors",
            "exact_top1_cos",
            (F.col("_h") >= 7).alias("pool_recall_ge_07"),
        )
    )


# --------------------------------------------------------------------------
# Trigram stupid-backoff LM scoring (held-out corpus-quality filter)
# --------------------------------------------------------------------------


@register(
    "q_docs_stupid_backoff_nll",
    """
    WITH tk AS (
      SELECT doc_id,
             [x for x in regexp_split_to_array(lower(text), '[^a-z0-9]+')
              IF x <> ''] AS t
      FROM documents),
    m AS (SELECT * FROM tk WHERE doc_id % 2 = 0),
    uni AS (
      SELECT w1, CAST(count(*) AS BIGINT) AS c1
      FROM (SELECT unnest(t) AS w1 FROM m) GROUP BY w1),
    stats AS (
      SELECT CAST(sum(c1) AS BIGINT) AS tt, CAST(count(*) AS BIGINT) AS vv
      FROM uni),
    bi AS (
      SELECT g.w1 AS w1, g.w2 AS w2, CAST(count(*) AS BIGINT) AS c2
      FROM (SELECT unnest(list_transform(range(1, len(t)),
                     i -> {'w1': t[i], 'w2': t[i+1]})) AS g
            FROM m)
      GROUP BY g.w1, g.w2),
    tri AS (
      SELECT g.w1 AS w1, g.w2 AS w2, g.w3 AS w3,
             CAST(count(*) AS BIGINT) AS c3
      FROM (SELECT unnest(list_transform(range(1, len(t) - 1),
                     i -> {'w1': t[i], 'w2': t[i+1], 'w3': t[i+2]})) AS g
            FROM m)
      GROUP BY g.w1, g.w2, g.w3),
    tf AS (
      SELECT doc_id, g.w1 AS w1, g.w2 AS w2, g.w3 AS w3,
             CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id,
                   unnest(list_transform(range(1, len(t) - 1),
                     i -> {'w1': t[i], 'w2': t[i+1], 'w3': t[i+2]})) AS g
            FROM tk)
      GROUP BY doc_id, g.w1, g.w2, g.w3),
    sc AS (
      SELECT tf.doc_id, tf.tf,
             CASE WHEN tri.c3 IS NOT NULL
                    THEN CAST(tri.c3 AS DOUBLE) / b12.c2
                  WHEN b23.c2 IS NOT NULL
                    THEN CAST(0.4 AS DOUBLE)
                         * (CAST(b23.c2 AS DOUBLE) / u2.c1)
                  ELSE CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE)
                       * (CAST(coalesce(u3.c1, 0) + 1 AS DOUBLE)
                          / (stats.tt + stats.vv))
             END AS s
      FROM tf
      LEFT JOIN tri ON tf.w1 = tri.w1 AND tf.w2 = tri.w2 AND tf.w3 = tri.w3
      LEFT JOIN bi b12 ON tf.w1 = b12.w1 AND tf.w2 = b12.w2
      LEFT JOIN bi b23 ON tf.w2 = b23.w1 AND tf.w3 = b23.w2
      LEFT JOIN uni u2 ON tf.w2 = u2.w1
      LEFT JOIN uni u3 ON tf.w3 = u3.w1
      CROSS JOIN stats)
    SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_trigrams,
           round(CAST(sum(CAST(tf * -ln(s) AS DECIMAL(38,12))) AS DOUBLE)
                 / sum(tf), 4) + 0.0 AS nll
    FROM sc GROUP BY doc_id
    """,
    doc=(
        "Trigram stupid-backoff scoring (operators/text_analysis."
        "stupid_backoff_nll, Brants et al. 2007): model counts from the "
        "even-doc_id slice, ALL docs scored against it — the held-out "
        "deployment shape, so every rung of the backoff chain "
        "(trigram hit -> 0.4 x bigram -> 0.16 x Laplace unigram) is "
        "actually exercised on the odd docs. N-grams generated "
        "row-locally (codegen transform, no window); three count tables "
        "joined on gram keys; T/V broadcast; per-term weights "
        "decimal-accumulated. The plan shape KenLM scores would reuse "
        "verbatim at 100 TB."
    ),
)
def q_docs_stupid_backoff_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text_analysis import stupid_backoff_nll

    d = read_table(spark, sf_dir, "documents")
    model = d.filter(F.col("doc_id") % 2 == 0)
    return stupid_backoff_nll(d, "text", "doc_id", model_df=model)


# --------------------------------------------------------------------------
# WordPiece tokenizer (greedy longest-match-first, ## continuations)
# --------------------------------------------------------------------------

# Shared oracle chain: corpus word counts -> positional piece vocabulary
# (initial vs ## continuation inventories, single chars kept
# unconditionally) -> greedy longest-match segmentation as a recursive
# CTE whose step picks THE match no longer match can beat (NOT EXISTS) —
# greedy is deterministic because at fixed position and length at most
# one vocab string equals the substring.
_WP_CTES = """
    wc AS (
      SELECT word, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT unnest([x for x in
                     regexp_split_to_array(lower(text), '[^a-z0-9]+')
                     IF x <> '']) AS word
            FROM documents)
      GROUP BY word),
    cand AS (
      SELECT g.p AS piece, g.c AS is_cont, cnt
      FROM (SELECT unnest(flatten(list_transform(range(1, len(word) + 1),
                     i -> list_transform(
                            range(1, least(6, len(word) - i + 1) + 1),
                            L -> {'p': substr(word, i, L),
                                  'c': i > 1})))) AS g,
                   cnt
            FROM wc)),
    vocab AS (
      SELECT piece, is_cont
      FROM (SELECT piece, is_cont, sum(cnt) AS piece_cnt
            FROM cand GROUP BY piece, is_cont)
      WHERE len(piece) = 1 OR piece_cnt >= 800),
    seg(word, pos, acc, n) AS (
      SELECT word, 1, '', 0 FROM wc
      UNION ALL
      SELECT s.word, s.pos + len(m.piece),
             s.acc || CASE WHEN s.acc = '' THEN '' ELSE ' ' END ||
               CASE WHEN s.pos = 1 THEN m.piece ELSE '##' || m.piece END,
             s.n + 1
      FROM seg s JOIN vocab m
        ON m.is_cont = (s.pos > 1)
       AND substr(s.word, s.pos, len(m.piece)) = m.piece
      WHERE s.pos <= len(s.word)
        AND NOT EXISTS (
          SELECT 1 FROM vocab m2
          WHERE m2.is_cont = (s.pos > 1)
            AND len(m2.piece) > len(m.piece)
            AND substr(s.word, s.pos, len(m2.piece)) = m2.piece)),
    fin AS (
      SELECT s.word, s.acc AS seg, CAST(s.n AS BIGINT) AS n_pieces
      FROM seg s JOIN wc ON s.word = wc.word
      WHERE s.pos = len(s.word) + 1)
"""


@register(
    "q_docs_wordpiece_segment",
    f"""
    WITH RECURSIVE {_WP_CTES}
    SELECT wc.word, wc.cnt, fin.seg, fin.n_pieces
    FROM fin JOIN wc ON fin.word = wc.word
    """,
    doc=(
        "WordPiece segmentation of every distinct corpus word "
        "(operators/wordpiece.wordpiece_segment_words): greedy "
        "longest-match-first with separate word-initial and ## "
        "continuation inventories (Wu et al. 2016 / BERT's tokenizer) — "
        "the third tokenizer family next to BPE (merge-based) and "
        "unigram-LM (Viterbi). Vocab = positional char n-grams (1..6) "
        "weighted by word count, min_count=800, single chars kept "
        "unconditionally so coverage is total and [UNK] never fires. "
        "All-integer/string determinism (no floats anywhere); Spark "
        "side = one piece-keyed groupBy for the vocab + Arrow-batched "
        "greedy matching over the DISTINCT-word table only; oracle = "
        "recursive CTE whose step is pinned longest by NOT EXISTS."
    ),
)
def q_docs_wordpiece_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.unigram import word_counts
    from ..operators.wordpiece import wordpiece_segment_words, wordpiece_vocab

    wc = word_counts(read_table(spark, sf_dir, "documents")).localCheckpoint()
    vocab = wordpiece_vocab(wc, max_piece_len=6, min_count=800)
    return wordpiece_segment_words(wc, vocab, max_piece_len=6)


@register(
    "q_docs_wordpiece_token_counts",
    f"""
    WITH RECURSIVE {_WP_CTES},
    docw AS (
      SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id,
                   unnest([x for x in
                     regexp_split_to_array(lower(text), '[^a-z0-9]+')
                     IF x <> '']) AS word
            FROM documents)
      GROUP BY doc_id, word)
    SELECT doc_id,
           CAST(sum(tf) AS BIGINT) AS n_words,
           CAST(sum(tf * fin.n_pieces) AS BIGINT) AS n_wp_tokens
    FROM docw JOIN fin ON docw.word = fin.word
    GROUP BY doc_id
    """,
    doc=(
        "Corpus tokenization under the WordPiece vocab: per-document "
        "word and wordpiece-token counts — the token-budget accounting "
        "pass of a training-data pipeline (sequence packing, cost "
        "estimates). The Zipf head is segmented ONCE on the "
        "distinct-word table, then broadcast-joined back onto (doc, "
        "word) rows — per-occurrence matching never happens; the final "
        "groupBy(doc) shuffles (doc, tf, n_pieces) only."
    ),
)
def q_docs_wordpiece_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.unigram import word_counts
    from ..operators.wordpiece import wordpiece_segment_words, wordpiece_vocab

    docs = read_table(spark, sf_dir, "documents")
    wc = word_counts(docs).localCheckpoint()
    vocab = wordpiece_vocab(wc, max_piece_len=6, min_count=800)
    seg = wordpiece_segment_words(wc, vocab, max_piece_len=6)
    docw = (
        docs.select(
            "doc_id",
            F.explode(word_tokens("text")).alias("word"),
        )
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return (
        docw.join(F.broadcast(seg.select("word", "n_pieces")), "word")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_words"),
            F.sum(F.col("tf") * F.col("n_pieces")).cast("bigint").alias(
                "n_wp_tokens"
            ),
        )
    )


# --------------------------------------------------------------------------
# KLL mergeable quantile sketch (bound contract)
# --------------------------------------------------------------------------


@register(
    "q_events_kll_quantiles_bound",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(19 AS BIGINT) AS n_probs,
           TRUE AS single_within_bound,
           TRUE AS merged_within_bound,
           TRUE AS merge_commutative
    FROM events WHERE value IS NOT NULL
    """,
    doc=(
        "Rank-error contract for the deterministic KLL quantile sketch "
        "(operators/kll) — the one-pass mergeable summary that replaces "
        "a full sort for percentile cutoffs at 100 TB. Pins three "
        "properties on events.value at 19 vigintiles: (1) every "
        "single-sketch estimate's exact rank interval is within 5% of "
        "the target rank (k=200's theoretical worst case is ~2.8%); "
        "(2) the SAME bound holds for a sketch merged from two disjoint "
        "halves (event_id parity) — mergeability is what makes it a "
        "partial aggregate; (3) merge is commutative (A.merge(B) and "
        "B.merge(A) estimate identically — per-level multisets are "
        "order-free under deterministic even-index compaction). The "
        "sketch state is engine-specific, so the gate pins invariants; "
        "rank verification is a 19-row broadcast join + one aggregate."
    ),
)
def q_events_kll_quantiles_bound(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.kll import KLLSketch, kll_build

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    vals = ev.select("event_id", F.col("value").cast("double").alias("v"))
    probs = [i / 20.0 for i in range(1, 20)]

    single = kll_build(vals, "v", k=200)
    half_a = kll_build(vals.filter(F.col("event_id") % 2 == 0), "v", k=200)
    half_b = kll_build(vals.filter(F.col("event_id") % 2 == 1), "v", k=200)
    ab = KLLSketch.from_json(half_a.to_json()).merge(
        KLLSketch.from_json(half_b.to_json())
    )
    ba = KLLSketch.from_json(half_b.to_json()).merge(
        KLLSketch.from_json(half_a.to_json())
    )
    commutative = all(ab.quantile(p) == ba.quantile(p) for p in probs)

    est = spark.createDataFrame(
        [(p, single.quantile(p), ab.quantile(p)) for p in probs],
        "p double, est double, est_m double",
    )
    # Exact rank of each estimate: one broadcast join, one aggregate.
    ranks = (
        vals.crossJoin(F.broadcast(est))
        .groupBy("p")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("v") < F.col("est")).cast("long")).alias("lt"),
            F.sum((F.col("v") <= F.col("est")).cast("long")).alias("le"),
            F.sum((F.col("v") < F.col("est_m")).cast("long")).alias("lt_m"),
            F.sum((F.col("v") <= F.col("est_m")).cast("long")).alias("le_m"),
        )
    )

    def _err(lt, le):
        target = F.col("p") * F.col("n")
        below = (lt - target) / F.col("n")
        above = (target - le) / F.col("n")
        return F.greatest(below, above, F.lit(0.0))

    agg = ranks.agg(
        F.max("n").alias("_n"),
        F.count(F.lit(1)).alias("_np"),
        F.max(_err(F.col("lt"), F.col("le"))).alias("_e1"),
        F.max(_err(F.col("lt_m"), F.col("le_m"))).alias("_e2"),
    )
    return agg.select(
        F.col("_n").cast("bigint").alias("n_rows"),
        F.col("_np").cast("bigint").alias("n_probs"),
        (F.col("_e1") <= 0.05).alias("single_within_bound"),
        (F.col("_e2") <= 0.05).alias("merged_within_bound"),
        F.lit(bool(commutative)).alias("merge_commutative"),
    )


# --------------------------------------------------------------------------
# Edit-distance similarity join (FastSS deletion neighborhoods)
# --------------------------------------------------------------------------


@register(
    "q_words_edit_distance_join",
    """
    WITH w AS (
      SELECT DISTINCT w FROM (
        SELECT unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS w
        FROM documents
        UNION ALL
        SELECT unnest(regexp_split_to_array(lower(p_name), '[^a-z0-9]+')) AS w
        FROM part)
      WHERE len(w) >= 3)
    SELECT a.w AS text_a, b.w AS text_b,
           CAST(levenshtein(a.w, b.w) AS INT) AS edit_dist
    FROM w a JOIN w b ON a.w < b.w
    WHERE levenshtein(a.w, b.w) <= 2
    """,
    doc=(
        "Exact edit-distance <= 2 similarity join over the combined "
        "dictionary (document words + part-name tokens, len >= 3) — "
        "typo-clustering for corpus vocab normalization. Spark side "
        "(operators/editjoin.edit_distance_join) blocks via COMPLETE "
        "FastSS deletion neighborhoods (equi-join on xxhash64(variant), "
        "codegen levenshtein verify; no CartesianProduct, pinned); "
        "oracle is the brute-force all-pairs twin — legitimate ONLY "
        "because the blocking is provably complete, so both compute "
        "exactly {(a,b) : ed <= 2}."
    ),
)
def q_words_edit_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.editjoin import edit_distance_join

    docs = read_table(spark, sf_dir, "documents").select(
        F.explode(F.split(F.lower("text"), WORD_SPLIT)).alias("w")
    )
    parts = read_table(spark, sf_dir, "part").select(
        F.explode(F.split(F.lower("p_name"), WORD_SPLIT)).alias("w")
    )
    words = (
        docs.unionByName(parts)
        .filter(F.length("w") >= 3)
        .distinct()
    )
    return edit_distance_join(words, "w", "w", max_edit=2).select(
        "text_a", "text_b", "edit_dist"
    )


# --------------------------------------------------------------------------
# Poisson bootstrap (one-pass resampling CI)
# --------------------------------------------------------------------------


def _poisson_oracle_ctes() -> str:
    from ..operators.bootstrap import poisson_weight_sql

    wcase = poisson_weight_sql("h")
    return f"""
    base AS (
      SELECT CAST(event_id AS VARCHAR) AS id,
             CAST(round(value * 1e9) AS BIGINT) AS v_nano
      FROM events WHERE value IS NOT NULL),
    reps AS (
      SELECT r.b AS b, v_nano,
             CAST('0x' || substr(md5('boot:' || id || ':' ||
                                     CAST(r.b AS VARCHAR)), 1, 8)
                  AS BIGINT) AS h
      FROM base, (SELECT unnest(range(1, 202)) AS b) r),
    wtd AS (SELECT b, v_nano, {wcase} AS w FROM reps),
    m AS (
      SELECT b,
             round(sum(w * v_nano) / (sum(w) * 1e9), 6) + 0.0 AS mean
      FROM wtd GROUP BY b),
    rk AS (
      SELECT mean, row_number() OVER (ORDER BY mean, b) AS rk FROM m),
    samp AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             round(CAST(sum(v_nano) AS DOUBLE) / (count(*) * 1e9), 6)
               + 0.0 AS sample_mean
      FROM base)
    """


@register(
    "q_events_poisson_bootstrap_ci",
    f"""
    WITH {_poisson_oracle_ctes()}
    SELECT samp.n_rows,
           CAST((SELECT count(*) FROM m) AS BIGINT) AS n_replicates,
           samp.sample_mean,
           (SELECT round(sum(CAST(round(mean * 1e6) AS BIGINT))
                         / (count(*) * 1e6), 6) FROM m) + 0.0 AS boot_mean,
           (SELECT mean FROM rk WHERE rk = 6) + 0.0 AS ci_lo,
           (SELECT mean FROM rk WHERE rk = 196) + 0.0 AS ci_hi,
           samp.sample_mean >= (SELECT mean FROM rk WHERE rk = 6)
             AND samp.sample_mean <= (SELECT mean FROM rk WHERE rk = 196)
             AS covers_sample_mean
    FROM samp
    """,
    doc=(
        "Poisson bootstrap CI for mean(events.value), B = 201 "
        "(operators/bootstrap.poisson_bootstrap_mean_ci) — the one-pass "
        "large-scale bootstrap (per-(row, replicate) Poisson(1) weights "
        "instead of materialized resamples). Fully deterministic and "
        "hash-exact vs the DuckDB twin: weights come from md5 through "
        "shared integer CDF thresholds, replicate means are exact "
        "integer nano-unit sums, CI endpoints are exact order "
        "statistics (ranks 6 / 196 of 201 — no interpolation). Scale: "
        "explode(1..B) collapses map-side into B-per-partition partial "
        "sums; the shuffle carries two BIGINTs per (b, partition)."
    ),
)
def q_events_poisson_bootstrap_ci(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.bootstrap import poisson_bootstrap_mean_ci

    ev = read_table(spark, sf_dir, "events")
    return poisson_bootstrap_mean_ci(
        ev, "value", "event_id", n_replicates=201, alpha=0.05, seed="boot"
    )


# --------------------------------------------------------------------------
# GSP-style sequential pattern support (gap-constrained)
# --------------------------------------------------------------------------

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "q_events_seq2_support",
    """
    WITH sup AS (
      SELECT DISTINCT e1.user_id AS u, e1.event_type AS t1,
             e2.event_type AS t2
      FROM events e1
      JOIN events e2 ON e2.user_id = e1.user_id
       AND e2.ts > e1.ts AND e2.ts <= e1.ts + INTERVAL 3600 SECOND)
    SELECT t1, t2, CAST(count(*) AS BIGINT) AS n_users
    FROM sup GROUP BY t1, t2
    """,
    doc=(
        "Support of every gap-constrained 2-sequence (a then b within "
        "1 h, strict order) over the event log — GSP's counting core "
        "(operators/seqmine.sequential_support, k=2). Spark side is "
        "ONE per-user window sort with RANGE(-gap, -1) flag columns "
        "(tie-exact strictness) — no event-to-event join; the oracle "
        "is the brute-force EXISTS self-join twin."
    ),
)
def q_events_seq2_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.seqmine import sequential_support

    ev = read_table(spark, sf_dir, "events")
    return sequential_support(
        ev, "user_id", "event_type", "ts", _EVENT_TYPES, 3600, k=2
    )


@register(
    "q_events_seq3_support",
    """
    WITH sup AS (
      SELECT DISTINCT e1.user_id AS u, e1.event_type AS t1,
             e2.event_type AS t2, e3.event_type AS t3
      FROM events e1
      JOIN events e2 ON e2.user_id = e1.user_id
       AND e2.ts > e1.ts AND e2.ts <= e1.ts + INTERVAL 21600 SECOND
      JOIN events e3 ON e3.user_id = e2.user_id
       AND e3.ts > e2.ts AND e3.ts <= e2.ts + INTERVAL 21600 SECOND)
    SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n_users
    FROM sup GROUP BY t1, t2, t3
    HAVING count(*) >= 5
    """,
    doc=(
        "Support of every 3-sequence with per-step max-gap 6 h, min "
        "support 5 users (operators/seqmine.sequential_support, k=3): "
        "two chained window passes sharing one Exchange+Sort (stage-2 "
        "flags reference stage-1 flags — the funnel generalized to all "
        "T^3 type combinations at once). The naive plan is a 3-way "
        "self-join with |events|^3/|users|^2 intermediate; this one "
        "shuffles each event row exactly once."
    ),
)
def q_events_seq3_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.seqmine import sequential_support

    ev = read_table(spark, sf_dir, "events")
    return sequential_support(
        ev,
        "user_id",
        "event_type",
        "ts",
        _EVENT_TYPES,
        21600,
        k=3,
        min_support=5,
    )


# --------------------------------------------------------------------------
# Winnowing fingerprints (MOSS minimizers)
# --------------------------------------------------------------------------

# Shared oracle chain: token 3-grams with positions -> 40-bit md5 hash ->
# combined = h * 2^20 + (2^20-1-pos) so ONE window min implements
# "minimum hash, rightmost position on ties" -> full windows only ->
# distinct decoded selections.
_WINNOW_CTES = """
    toks AS (
      SELECT doc_id,
             [x for x in regexp_split_to_array(lower(text), '[^a-z0-9]+')
              IF x <> ''] AS tk
      FROM documents),
    grams AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             CAST('0x' || substr(md5(array_to_string(
                    list_slice(tk, i, i + 2), ' ')), 1, 10) AS BIGINT) AS h
      FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i
            FROM toks WHERE len(tk) >= 3)),
    sel AS (
      SELECT DISTINCT doc_id,
             1048575 - (c % 1048576) AS pos,
             CAST(c // 1048576 AS BIGINT) AS fp_hash
      FROM (SELECT doc_id, pos,
                   min(h * 1048576 + (1048575 - pos))
                     OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS c,
                   max(pos) OVER (PARTITION BY doc_id) AS n
            FROM grams) s
      WHERE pos <= n - 3)
"""


@register(
    "q_docs_winnow_fingerprints",
    f"""
    WITH {_WINNOW_CTES}
    SELECT doc_id, CAST(pos AS BIGINT) AS pos, fp_hash FROM sel
    """,
    doc=(
        "Winnowing fingerprint selection (operators/winnow."
        "winnow_fingerprints, k=3 token-grams, window w=4) — Schleimer/"
        "Wilkerson/Aiken 2003, the MOSS detector: every shared run of "
        "w+k-1 = 6 tokens between two documents is guaranteed a common "
        "selected fingerprint, at ~1/w the index size of the full gram "
        "set. Rightmost-min tie rule encoded arithmetically so one "
        "window MIN does both comparisons (h*2^20 + (2^20-1-pos)); "
        "decode uses integer div/mod — hash-exact on both engines. One "
        "per-doc window sort is the only shuffle; text never shuffles."
    ),
)
def q_docs_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.winnow import winnow_fingerprints

    d = read_table(spark, sf_dir, "documents")
    return winnow_fingerprints(d, "text", "doc_id", k=3, w=4).select(
        "doc_id", F.col("pos").cast("bigint").alias("pos"), "fp_hash"
    )


@register(
    "q_docs_winnow_overlap_pairs",
    f"""
    WITH {_WINNOW_CTES},
    fp AS (SELECT DISTINCT doc_id, fp_hash FROM sel),
    kept AS (
      SELECT doc_id, fp_hash FROM fp
      WHERE fp_hash IN (SELECT fp_hash FROM fp
                        GROUP BY fp_hash HAVING count(*) <= 50)),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM kept a JOIN kept b
        ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b, n_shared FROM pairs WHERE n_shared >= 3
    """,
    doc=(
        "Local-overlap candidate pairs from shared winnowing "
        "fingerprints (operators/winnow.winnow_overlap_pairs): "
        "fingerprint-keyed equi-join with a document-frequency cap 50 "
        "on join keys (ubiquitous grams are boilerplate, and the cap "
        "bounds join fanout at 100 TB exactly like the inverted-index "
        "posting cap), >= 3 shared mins. The MOSS use case: candidate "
        "copy pairs without ever comparing documents pairwise."
    ),
)
def q_docs_winnow_overlap_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.winnow import winnow_overlap_pairs

    d = read_table(spark, sf_dir, "documents")
    return winnow_overlap_pairs(
        d, "text", "doc_id", k=3, w=4, min_shared=3, max_df=50
    )


# --------------------------------------------------------------------------
# Frequent itemsets (relational Apriori over order baskets)
# --------------------------------------------------------------------------

_BASKET_CTES = """
    b AS (
      SELECT DISTINCT l_orderkey AS bk, p_brand AS it
      FROM lineitem JOIN part ON l_partkey = p_partkey),
    n AS (SELECT count(DISTINCT bk) AS nb FROM b)
"""


@register(
    "q_basket_frequent_pairs",
    f"""
    WITH {_BASKET_CTES},
    l1 AS (
      SELECT it, CAST(count(*) AS BIGINT) AS c1 FROM b GROUP BY it
      HAVING count(*) >= (SELECT 0.022 * nb FROM n)),
    pr AS (
      SELECT a.it AS ia, x.it AS ib, CAST(count(*) AS BIGINT) AS c
      FROM b a JOIN b x ON a.bk = x.bk AND a.it < x.it
      GROUP BY 1, 2
      HAVING count(*) >= (SELECT 0.022 * nb FROM n))
    SELECT ia AS item_a, ib AS item_b, c AS n_baskets,
           round(c * (SELECT CAST(nb AS DOUBLE) FROM n)
                 / (la.c1 * lb.c1), 4) AS lift
    FROM pr JOIN l1 la ON pr.ia = la.it JOIN l1 lb ON pr.ib = lb.it
    """,
    doc=(
        "Frequent brand pairs over order baskets (operators/itemsets."
        "frequent_pairs, support >= 2.2% of the 14.7k baskets) with "
        "lift — relational Apriori: L1 broadcast prune before the "
        "basket-keyed self-join, per-basket fanout bounded by basket "
        "width. Fraction-based threshold keeps the query equally "
        "selective at any scale factor. Oracle is the brute-force "
        "self-join twin (valid: the pruning is lossless by the Apriori "
        "property — subsets of frequent sets are frequent)."
    ),
)
def q_basket_frequent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.itemsets import frequent_pairs

    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = li.join(p, li.l_partkey == p.p_partkey).select(
        "l_orderkey", "p_brand"
    )
    return frequent_pairs(baskets, "l_orderkey", "p_brand", 0.022)


@register(
    "q_basket_frequent_triples",
    f"""
    WITH {_BASKET_CTES}
    SELECT a.it AS item_a, x.it AS item_b, y.it AS item_c,
           CAST(count(*) AS BIGINT) AS n_baskets
    FROM b a
    JOIN b x ON a.bk = x.bk AND a.it < x.it
    JOIN b y ON a.bk = y.bk AND x.it < y.it
    GROUP BY 1, 2, 3
    HAVING count(*) >= (SELECT 0.0032 * nb FROM n)
    """,
    doc=(
        "Frequent brand triples (operators/itemsets.frequent_triples, "
        "support >= 0.32% of baskets): candidates extend frequent "
        "pairs by a third item and are pruned so ALL three sub-pairs "
        "are frequent (two broadcast semi-joins against L2) before the "
        "triple aggregation — the level-wise Apriori walk, lossless by "
        "the downward-closure property, which is why the brute-force "
        "3-way-join oracle hash-matches."
    ),
)
def q_basket_frequent_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.itemsets import frequent_triples

    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = li.join(p, li.l_partkey == p.p_partkey).select(
        "l_orderkey", "p_brand"
    )
    return frequent_triples(baskets, "l_orderkey", "p_brand", 0.0032)


# --------------------------------------------------------------------------
# Kneser-Ney bigram LM scoring
# --------------------------------------------------------------------------


@register(
    "q_docs_kneser_ney_nll",
    """
    WITH tk AS (
      SELECT doc_id,
             [x for x in regexp_split_to_array(lower(text), '[^a-z0-9]+')
              IF x <> ''] AS t
      FROM documents),
    m AS (SELECT * FROM tk WHERE doc_id % 2 = 0),
    bi AS (
      SELECT g.w1 AS w1, g.w2 AS w2, CAST(count(*) AS BIGINT) AS c12
      FROM (SELECT unnest(list_transform(range(1, len(t)),
                     i -> {'w1': t[i], 'w2': t[i+1]})) AS g
            FROM m)
      GROUP BY g.w1, g.w2),
    lt AS (
      SELECT w1, CAST(sum(c12) AS BIGINT) AS cl,
             CAST(count(*) AS BIGINT) AS nl
      FROM bi GROUP BY w1),
    rt AS (SELECT w2, CAST(count(*) AS BIGINT) AS nr FROM bi GROUP BY w2),
    st AS (SELECT CAST(count(*) AS BIGINT) AS B FROM bi),
    vs AS (
      SELECT CAST(count(DISTINCT w1) AS BIGINT) AS V
      FROM (SELECT unnest(t) AS w1 FROM m)),
    tf AS (
      SELECT doc_id, g.w1 AS w1, g.w2 AS w2,
             CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id,
                   unnest(list_transform(range(1, len(t)),
                     i -> {'w1': t[i], 'w2': t[i+1]})) AS g
            FROM tk)
      GROUP BY doc_id, g.w1, g.w2),
    sc AS (
      SELECT tf.doc_id, tf.tf,
             CASE WHEN lt.cl IS NOT NULL THEN
                    greatest(coalesce(bi.c12, 0) - 0.75, 0.0) / lt.cl
                    + (0.75 * lt.nl / lt.cl)
                      * ((coalesce(rt.nr, 0) + 1.0) / (st.B + vs.V))
                  ELSE (coalesce(rt.nr, 0) + 1.0) / (st.B + vs.V)
             END AS p
      FROM tf
      LEFT JOIN bi ON tf.w1 = bi.w1 AND tf.w2 = bi.w2
      LEFT JOIN lt ON tf.w1 = lt.w1
      LEFT JOIN rt ON tf.w2 = rt.w2
      CROSS JOIN st CROSS JOIN vs)
    SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
           round(CAST(sum(CAST(tf * -ln(p) AS DECIMAL(38,12))) AS DOUBLE)
                 / sum(tf), 4) + 0.0 AS nll
    FROM sc GROUP BY doc_id
    """,
    doc=(
        "Interpolated bigram Kneser-Ney scoring (operators/"
        "text_analysis.kneser_ney_nll, D=0.75, Laplace-smoothed "
        "continuation): model counts from the even-doc_id slice, all "
        "docs scored held-out — the third LM-scoring family next to "
        "MLE+Laplace bigrams and stupid backoff, distinguished by "
        "backing off to CONTINUATION probability (distinct-context "
        "counts), the bit that makes KN the standard n-gram smoother. "
        "Same scale shape as its siblings: row-local grams, "
        "vocab-sized model joins, one broadcast stats row, decimal-"
        "accumulated doc sums."
    ),
)
def q_docs_kneser_ney_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text_analysis import kneser_ney_nll

    d = read_table(spark, sf_dir, "documents")
    model = d.filter(F.col("doc_id") % 2 == 0)
    return kneser_ney_nll(d, "text", "doc_id", model_df=model)


# --------------------------------------------------------------------------
# Spearman rank correlation (monotone trend per event type)
# --------------------------------------------------------------------------


@register(
    "q_events_spearman_value_time",
    """
    WITH b AS (
      SELECT event_type AS g, CAST(floor(epoch(ts)) AS BIGINT) AS x,
             value AS y
      FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
    r AS (
      SELECT g,
             2 * rank() OVER (PARTITION BY g ORDER BY x)
               + count(*) OVER (PARTITION BY g, x) - 1 AS rx,
             2 * rank() OVER (PARTITION BY g ORDER BY y)
               + count(*) OVER (PARTITION BY g, y) - 1 AS ry
      FROM b),
    a AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(rx) AS DOUBLE) AS sx, CAST(sum(ry) AS DOUBLE) AS sy,
             CAST(sum(rx * ry) AS DOUBLE) AS sxy,
             CAST(sum(rx * rx) AS DOUBLE) AS sxx,
             CAST(sum(ry * ry) AS DOUBLE) AS syy
      FROM r GROUP BY g)
    SELECT g AS event_type, n,
           round((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 4)
             + 0.0 AS rho
    FROM a
    WHERE n >= 2 AND (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
    """,
    doc=(
        "Per-event-type Spearman rank correlation between value and "
        "event time (operators/stats.spearman_corr) — the monotone-"
        "association test ('is this metric drifting in SOME direction') "
        "that Pearson-on-raw-values misses under nonlinearity. Tie-"
        "correct fractional ranks carried as exact doubled BIGINTs "
        "(2*rank + tie_count - 1 — the half cancels in rho); five "
        "integer sufficient statistics; one double expression, "
        "identical shape both engines. Two rank windows + one aggregate "
        "over the same partitioning."
    ),
)
def q_events_spearman_value_time(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..functions.dates import epoch_seconds
    from ..operators.stats import spearman_corr

    ev = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "event_type",
            epoch_seconds("ts").alias("x"),
            F.col("value").alias("y"),
        )
    )
    return spearman_corr(ev, "event_type", "x", "y")


# --------------------------------------------------------------------------
# Benford first-digit audit
# --------------------------------------------------------------------------


def _benford_oracle() -> str:
    from ..operators.quality import BENFORD_P

    arr = ", ".join(repr(p) for p in BENFORD_P)
    return f"""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(abs(l_extendedprice)) AS BIGINT)
                              AS VARCHAR), 1, 1) AS INT) AS digit
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND abs(l_extendedprice) >= 1),
    c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs
          FROM d GROUP BY digit),
    t AS (SELECT CAST(sum(n_obs) AS DOUBLE) AS n FROM c),
    p AS (SELECT digit, n_obs,
                 CAST(([{arr}])[digit] AS DOUBLE) AS ep FROM c)
    SELECT digit, n_obs,
           round(CAST(n_obs AS DOUBLE) / t.n, 6) + 0.0 AS obs_frac,
           round(ep, 6) AS exp_frac,
           round(pow(CAST(n_obs AS DOUBLE) - t.n * ep, 2) / (t.n * ep), 4)
             + 0.0 AS chi2_term
    FROM p CROSS JOIN t
    """


@register(
    "q_lineitem_benford_audit",
    _benford_oracle(),
    doc=(
        "Benford first-significant-digit audit of l_extendedprice "
        "(operators/quality.benford_audit): observed digit fractions "
        "vs log10(1+1/d) with per-digit chi-square terms — the "
        "forensic screen for fabricated/unit-mixed numerics. Digit "
        "extraction on the integer path (first char of floor(abs(v))) "
        "so no float-log boundary risk; expected probabilities are "
        "frozen shared literals (BENFORD_P); one 9-key aggregate."
    ),
)
def q_lineitem_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quality import benford_audit

    li = read_table(spark, sf_dir, "lineitem")
    return benford_audit(li, "l_extendedprice")


# --------------------------------------------------------------------------
# PCA (bound contract)
# --------------------------------------------------------------------------


@register(
    "q_emb_pca_bound",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(8 AS BIGINT) AS k,
           TRUE AS components_orthonormal,
           TRUE AS eigenvalues_descending,
           TRUE AS component_variance_matches_eigenvalue,
           TRUE AS reconstruction_residual_matches_spectrum,
           TRUE AS total_variance_matches
    FROM embeddings
    """,
    doc=(
        "Invariant contract for distributed PCA (operators/pca: one "
        "mapInPandas moments pass -> driver eigh -> broadcast map-only "
        "projection — the learned counterpart to the JL random "
        "projection). Eigenvectors are sign/rotation-ambiguous, so the "
        "gate pins what must hold regardless: components orthonormal "
        "(1e-9), eigenvalues descending, the DATA variance of each "
        "projected component equal to its eigenvalue (rel 1e-6), the "
        "mean reconstruction residual equal to trace minus the kept "
        "spectrum, and mean ||x-mu||^2 equal to the trace — computed "
        "distributed over the projection, not from the model."
    ),
)
def q_emb_pca_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..operators.pca import pca_fit, pca_transform

    k = 8
    emb = read_table(spark, sf_dir, "embeddings")
    model = pca_fit(emb, "embedding", k=k)
    orth = bool(
        np.max(
            np.abs(model.components @ model.components.T - np.eye(k))
        )
        < 1e-9
    )
    desc = bool(np.all(np.diff(model.eigenvalues) <= 1e-12))

    proj = pca_transform(emb, model, "embedding", out_col="pc")
    mean_lit = F.array(*[F.lit(float(m)) for m in model.mean])
    xd = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    sq = F.aggregate(
        F.zip_with(xd, mean_lit, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pcsq = F.aggregate(
        F.col("pc"), F.lit(0.0), lambda acc, x: acc + x * x
    )
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.avg(sq).alias("tv"),
        F.avg(sq - pcsq).alias("resid"),
    ]
    for i in range(k):
        e = F.element_at("pc", i + 1)
        aggs.append(F.avg(e * e).alias(f"m2_{i}"))
        aggs.append(F.avg(e).alias(f"m1_{i}"))
    row = proj.agg(*aggs).first()

    lam = model.eigenvalues
    var_ok = all(
        abs((row[f"m2_{i}"] - row[f"m1_{i}"] ** 2) - lam[i])
        <= 1e-6 * max(lam[i], 1e-12)
        for i in range(k)
    )
    tv = model.total_variance
    resid_ok = abs(row["resid"] - (tv - float(lam.sum()))) <= 1e-6 * tv
    tv_ok = abs(row["tv"] - tv) <= 1e-6 * tv

    return spark.createDataFrame(
        [
            (
                int(row["n"]),
                k,
                orth,
                desc,
                bool(var_ok),
                bool(resid_ok),
                bool(tv_ok),
            )
        ],
        "n_vecs long, k long, components_orthonormal boolean, "
        "eigenvalues_descending boolean, "
        "component_variance_matches_eigenvalue boolean, "
        "reconstruction_residual_matches_spectrum boolean, "
        "total_variance_matches boolean",
    )


# --------------------------------------------------------------------------
# Multi-touch conversion attribution
# --------------------------------------------------------------------------


@register(
    "q_events_attribution",
    """
    WITH conv AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase' AND value IS NOT NULL),
    t AS (
      SELECT user_id, ts, event_type FROM events
      WHERE event_type IN ('click', 'view')),
    m AS (
      SELECT c.event_id, c.value, t.event_type AS tt,
             row_number() OVER (PARTITION BY c.event_id
                                ORDER BY t.ts ASC, t.event_type ASC)
               AS rn_first,
             row_number() OVER (PARTITION BY c.event_id
                                ORDER BY t.ts DESC, t.event_type DESC)
               AS rn_last,
             count(*) OVER (PARTITION BY c.event_id) AS n_t
      FROM conv c JOIN t ON t.user_id = c.user_id
       AND t.ts < c.ts AND t.ts >= c.ts - INTERVAL 86400 SECOND)
    SELECT 'first_touch' AS model, tt AS touch_type,
           CAST(count(*) AS BIGINT) AS n_conversions,
           CAST(round(sum(CAST(value AS DECIMAL(38,12))), 2) AS DOUBLE)
             AS credited_value
    FROM m WHERE rn_first = 1 GROUP BY tt
    UNION ALL
    SELECT 'last_touch', tt, CAST(count(*) AS BIGINT),
           CAST(round(sum(CAST(value AS DECIMAL(38,12))), 2) AS DOUBLE)
    FROM m WHERE rn_last = 1 GROUP BY tt
    UNION ALL
    SELECT 'linear', tt, CAST(count(DISTINCT event_id) AS BIGINT),
           CAST(round(sum(CAST(value / n_t AS DECIMAL(38,12))), 2)
                AS DOUBLE)
    FROM m GROUP BY tt
    """,
    doc=(
        "First/last/linear multi-touch attribution of purchase value "
        "to click/view touches within a 24 h lookback (operators/"
        "attribution.attribute_conversions). Spark side is ONE per-user "
        "RANGE window (strict precedence via the (-lookback, -1) "
        "micros frame; min/max struct(ts,type) for first/last; "
        "per-type counts for linear) — no conversions x touches "
        "interval join ever materializes. Linear credit accumulates "
        "DECIMAL(value/n) * cnt, bit-equal to the oracle's per-touch-"
        "row sum. Oracle is the brute-force interval-join twin."
    ),
)
def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.attribution import attribute_conversions

    ev = read_table(spark, sf_dir, "events")
    return attribute_conversions(
        ev,
        "user_id",
        "event_type",
        "ts",
        "value",
        conversion_type="purchase",
        touch_types=["click", "view"],
        lookback_seconds=86400,
    )


# --------------------------------------------------------------------------
# TextRank keyword centrality
# --------------------------------------------------------------------------


@register(
    "q_docs_textrank_keywords",
    """
    WITH tk AS (
      SELECT doc_id,
             [x for x in regexp_split_to_array(lower(text), '[^a-z0-9]+')
              IF x <> ''] AS t
      FROM documents),
    fwd AS (
      SELECT t[i] AS src, t[i + o] AS dst
      FROM (SELECT t, unnest(range(1, len(t))) AS i FROM tk
            WHERE len(t) >= 2),
           (SELECT unnest([1, 2]) AS o)
      WHERE i + o <= len(t) AND t[i] <> t[i + o]),
    e AS (
      SELECT DISTINCT src, dst FROM
        (SELECT src, dst FROM fwd UNION ALL
         SELECT dst AS src, src AS dst FROM fwd)),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    nn AS (SELECT count(*) AS n FROM nodes),
    od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
    r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
    c1 AS (SELECT e.dst AS node, sum(r.rank / od.outdeg) AS c
           FROM e JOIN od USING (src) JOIN r0 r ON r.node = e.src
           GROUP BY e.dst),
    r1 AS (SELECT nd.node,
                  0.15 / (SELECT n FROM nn) + 0.85 * coalesce(c1.c, 0) AS rank
           FROM nodes nd LEFT JOIN c1 USING (node)),
    c2 AS (SELECT e.dst AS node, sum(r.rank / od.outdeg) AS c
           FROM e JOIN od USING (src) JOIN r1 r ON r.node = e.src
           GROUP BY e.dst),
    r2 AS (SELECT nd.node,
                  0.15 / (SELECT n FROM nn) + 0.85 * coalesce(c2.c, 0) AS rank
           FROM nodes nd LEFT JOIN c2 USING (node)),
    c3 AS (SELECT e.dst AS node, sum(r.rank / od.outdeg) AS c
           FROM e JOIN od USING (src) JOIN r2 r ON r.node = e.src
           GROUP BY e.dst),
    r3 AS (SELECT nd.node,
                  0.15 / (SELECT n FROM nn) + 0.85 * coalesce(c3.c, 0) AS rank
           FROM nodes nd LEFT JOIN c3 USING (node))
    SELECT node AS word, round(rank, 6) AS rank FROM r3
    """,
    doc=(
        "TextRank keyword centrality (operators/text_analysis."
        "textrank_keywords, Mihalcea & Tarau 2004): PageRank (3 "
        "iterations, damping 0.85) over the word co-occurrence graph "
        "(window 2, undirected) — the unsupervised keyword extractor, "
        "composing the row-local pair generation with the existing "
        "pagerank operator. Edge list is vocab-bounded; the corpus is "
        "scanned once. Oracle: same graph + 3 unrolled power "
        "iterations, ranks rounded 6 dp."
    ),
)
def q_docs_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text_analysis import textrank_keywords

    d = read_table(spark, sf_dir, "documents")
    return textrank_keywords(d, "text", window=2, n_iter=3)


# --------------------------------------------------------------------------
# HLL intersection estimate (bound contract)
# --------------------------------------------------------------------------


@register(
    "q_events_hll_intersection_bound",
    """
    WITH a AS (SELECT DISTINCT user_id FROM events
               WHERE event_type = 'click'),
    b AS (SELECT DISTINCT user_id FROM events
          WHERE event_type = 'purchase'),
    i AS (SELECT count(*) AS n FROM a JOIN b USING (user_id))
    SELECT CAST((SELECT count(*) FROM a) AS BIGINT) AS exact_a,
           CAST((SELECT count(*) FROM b) AS BIGINT) AS exact_b,
           CAST(i.n AS BIGINT) AS exact_intersection,
           TRUE AS a_within_5pct,
           TRUE AS b_within_5pct,
           TRUE AS intersection_within_10pct
    FROM i
    """,
    doc=(
        "Bound contract for HLL inclusion-exclusion intersection "
        "(operators/sketches.hll_intersection_estimate): distinct "
        "users with BOTH a click and a purchase, estimated as "
        "est(A)+est(B)-est(A∪B) from lg_k=12 sketches sharing one "
        "scan. Pins each single-set estimate within 5% of exact "
        "(sketch σ≈2.5%) and the intersection within 10% (the "
        "difference inherits three absolute errors — the documented "
        "reason this is a bound, not a hash). Exact counts come from "
        "the semi-join twin on both sides."
    ),
)
def q_events_hll_intersection_bound(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.sketches import hll_intersection_estimate

    ev = read_table(spark, sf_dir, "events")
    est = hll_intersection_estimate(
        ev, "user_id", "event_type", "click", "purchase", lg_k=12
    ).first()

    a = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    b = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
    )
    inter = a.join(b, "user_id").count()
    ea, eb = a.count(), b.count()
    return spark.createDataFrame(
        [
            (
                ea,
                eb,
                inter,
                abs(est["est_a"] - ea) <= 0.05 * ea,
                abs(est["est_b"] - eb) <= 0.05 * eb,
                abs(est["est_intersection"] - inter) <= 0.10 * inter,
            )
        ],
        "exact_a long, exact_b long, exact_intersection long, "
        "a_within_5pct boolean, b_within_5pct boolean, "
        "intersection_within_10pct boolean",
    )


# --------------------------------------------------------------------------
# Top session paths (clickstream trajectory mining)
# --------------------------------------------------------------------------


@register(
    "q_events_top_session_paths",
    """
    WITH flagged AS (
      SELECT user_id AS u, event_id AS id, event_type AS t, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) IS NULL
                  OR ts - lag(ts) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id)
                     > INTERVAL 1800 SECOND
                  THEN 1 ELSE 0 END AS ns
      FROM events),
    sess AS (
      SELECT u, id, t, ts,
             sum(ns) OVER (PARTITION BY u ORDER BY ts, id
                           ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged),
    capped AS (
      SELECT u, sid, t, ts, id,
             row_number() OVER (PARTITION BY u, sid ORDER BY ts, id) AS rn
      FROM sess),
    paths AS (
      SELECT string_agg(t, '>' ORDER BY ts, id) AS path
      FROM capped WHERE rn <= 8 GROUP BY u, sid),
    counted AS (
      SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
      FROM paths GROUP BY path),
    ranked AS (
      SELECT path, n_sessions,
             CAST(row_number() OVER (ORDER BY n_sessions DESC, path)
                  AS BIGINT) AS rank
      FROM counted)
    SELECT path, n_sessions, rank FROM ranked WHERE rank <= 20
    """,
    doc=(
        "Top-20 session paths, 30 min gap, first 8 events per session "
        "(operators/paths.top_session_paths) — whole-trajectory mining "
        "the transition-matrix marginals can't reconstruct. Sessions "
        "cut on exact epoch-micros gaps; within-session order "
        "(ts, event_id) is total; path strings built from sorted "
        "structs; top-k is a rank over (count DESC, path) — no bare "
        "LIMIT. One user-window pass + bounded-string session "
        "aggregate + path-keyed count."
    ),
)
def q_events_top_session_paths(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.paths import top_session_paths

    ev = read_table(spark, sf_dir, "events")
    return top_session_paths(
        ev,
        "user_id",
        "ts",
        "event_type",
        "event_id",
        gap_seconds=1800,
        max_events=8,
        k=20,
    )


# --------------------------------------------------------------------------
# Largest-remainder quota allocation + Zipf power-law diagnostics
# --------------------------------------------------------------------------


@register(
    "q_docs_quota_allocate",
    """
    WITH g AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_rows
      FROM documents GROUP BY source),
    t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS tot FROM g),
    q AS (
      SELECT source, n_rows,
             (137 * n_rows) // tot AS base,
             (137 * n_rows) % tot AS rem
      FROM g CROSS JOIN t),
    s AS (SELECT 137 - sum(base) AS leftover FROM q),
    r AS (
      SELECT source, n_rows, base,
             row_number() OVER (ORDER BY rem DESC, source) AS rk
      FROM q)
    SELECT source, n_rows,
           CAST(base + CASE WHEN rk <= (SELECT leftover FROM s)
                            THEN 1 ELSE 0 END AS BIGINT) AS alloc
    FROM r
    """,
    doc=(
        "Largest-remainder (Hamilton) apportionment of a 137-doc "
        "sampling budget across sources (operators/sampling."
        "quota_allocate): Σ alloc == 137 exactly, each group within 1 "
        "of its proportional share — the integer-quota step stratified "
        "samplers need (naive rounding drifts). All-integer arithmetic "
        "(base = div, remainder = mod, leftovers to largest remainders "
        "with key tiebreak); one group count + one group-table rank."
    ),
)
def q_docs_quota_allocate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import quota_allocate

    d = read_table(spark, sf_dir, "documents")
    return quota_allocate(d, "source", 137)


@register(
    "q_docs_zipf_power_law",
    """
    WITH wc AS (
      SELECT w, CAST(count(*) AS BIGINT) AS f
      FROM (SELECT unnest([x for x in
              regexp_split_to_array(lower(text), '[^a-z0-9]+')
              IF x <> '']) AS w FROM documents)
      GROUP BY w),
    ranked AS (
      SELECT w, f, row_number() OVER (ORDER BY f DESC, w) AS r FROM wc),
    mo AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(CAST(ln(CAST(r AS DOUBLE)) AS DECIMAL(38,12))) AS sx,
             sum(CAST(ln(CAST(f AS DOUBLE)) AS DECIMAL(38,12))) AS sy,
             sum(CAST(ln(CAST(r AS DOUBLE)) * ln(CAST(f AS DOUBLE))
                      AS DECIMAL(38,12))) AS sxy,
             sum(CAST(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE))
                      AS DECIMAL(38,12))) AS sxx,
             sum(CAST(ln(CAST(f AS DOUBLE)) * ln(CAST(f AS DOUBLE))
                      AS DECIMAL(38,12))) AS syy
      FROM ranked),
    kth AS (SELECT f AS fk FROM ranked WHERE r = 11),
    hill AS (
      SELECT sum(CAST(ln(f / fk) AS DECIMAL(38,12))) AS hs,
             CAST(count(*) AS BIGINT) AS hk
      FROM ranked CROSS JOIN kth WHERE r <= 10)
    SELECT n AS n_words,
           round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                    * CAST(sy AS DOUBLE))
                 / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                    * CAST(sx AS DOUBLE)), 4) + 0.0 AS zipf_slope,
           round(pow(n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                       * CAST(sy AS DOUBLE), 2)
                 / ((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                       * CAST(sx AS DOUBLE))
                    * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
                       * CAST(sy AS DOUBLE))), 4) + 0.0 AS zipf_r2,
           round(1.0 + hk / CAST(hs AS DOUBLE), 4) + 0.0 AS hill_alpha
    FROM mo CROSS JOIN hill
    """,
    doc=(
        "Corpus power-law diagnostics (operators/text_analysis."
        "zipf_power_law_stats): OLS slope/r2 of ln(freq) on ln(rank) "
        "over the vocabulary (Zipf predicts slope ~ -1) plus the Hill "
        "tail-index MLE over the top-10 frequencies — the fast corpus-"
        "composition drift alarm. Integer counts; every ln-term "
        "DECIMAL(38,12)-accumulated; fixed-shape double finishers."
    ),
)
def q_docs_zipf_power_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text_analysis import zipf_power_law_stats

    d = read_table(spark, sf_dir, "documents")
    return zipf_power_law_stats(d, "text", hill_k=10)


# --------------------------------------------------------------------------
# Deterministic uniform negative sampling
# --------------------------------------------------------------------------


@register(
    "q_emb_negative_sampling",
    """
    WITH ids AS (
      SELECT vec_id AS nid, label AS nlabel,
             row_number() OVER (ORDER BY vec_id) - 1 AS idx
      FROM embeddings),
    n AS (SELECT CAST(count(*) AS BIGINT) AS cnt FROM ids),
    slots AS (
      SELECT e.vec_id AS anchor_id, e.label AS albl, s.slot,
             CAST('0x' || substr(md5('neg:' || CAST(e.vec_id AS VARCHAR)
                    || ':' || CAST(s.slot AS VARCHAR)), 1, 8) AS BIGINT)
               % (SELECT cnt FROM n) AS idx
      FROM embeddings e,
           (SELECT unnest(range(1, 9)) AS slot) s),
    joined AS (
      SELECT anchor_id, s.slot AS draw_slot, nid, nlabel
      FROM slots s JOIN ids USING (idx)
      WHERE nid <> anchor_id AND nlabel <> albl),
    renum AS (
      SELECT anchor_id, nid, nlabel,
             CAST(row_number() OVER (PARTITION BY anchor_id
                                     ORDER BY draw_slot) AS BIGINT) AS slot
      FROM joined)
    SELECT anchor_id, slot, nid AS neg_id, nlabel AS neg_label
    FROM renum WHERE slot <= 5
    """,
    doc=(
        "Deterministic uniform negative sampling, k=5 per anchor with "
        "3 oversample slots (operators/mining.uniform_negative_"
        "sampling): md5(seed:anchor:slot) mod N -> dense-rank index "
        "lookup, rejecting self and same-label hits — the unbiased "
        "contrastive-pair generator, exactly reproducible with no RNG "
        "state (same recipe as the split/sample family). One "
        "index-keyed equi-join; slot factor bounds the blowup."
    ),
)
def q_emb_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.mining import uniform_negative_sampling

    emb = read_table(spark, sf_dir, "embeddings")
    return uniform_negative_sampling(
        emb, "vec_id", "label", k=5, oversample=3, seed="neg"
    )


# --------------------------------------------------------------------------
# Functional-dependency audit
# --------------------------------------------------------------------------


@register(
    "q_lineitem_fd_audit",
    """
    WITH g1 AS (
      SELECT l_partkey AS k,
             count(DISTINCT l_suppkey)
               + max(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END) AS nd
      FROM lineitem GROUP BY l_partkey),
    g2 AS (
      SELECT l_orderkey AS k,
             count(DISTINCT l_returnflag)
               + max(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS nd
      FROM lineitem GROUP BY l_orderkey),
    g3 AS (
      SELECT l_partkey AS k,
             count(DISTINCT l_extendedprice)
               + max(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END)
               AS nd
      FROM lineitem GROUP BY l_partkey)
    SELECT 'l_partkey' AS lhs, 'l_suppkey' AS rhs,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating,
           round(CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 / CAST(count(*) AS DOUBLE), 6) + 0.0 AS violation_rate,
           CAST(max(nd) AS BIGINT) AS max_rhs_distinct
    FROM g1
    UNION ALL
    SELECT 'l_orderkey', 'l_returnflag', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
           round(CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 / CAST(count(*) AS DOUBLE), 6) + 0.0,
           CAST(max(nd) AS BIGINT)
    FROM g2
    UNION ALL
    SELECT 'l_partkey', 'l_extendedprice', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
           round(CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 / CAST(count(*) AS DOUBLE), 6) + 0.0,
           CAST(max(nd) AS BIGINT)
    FROM g3
    """,
    doc=(
        "Functional-dependency audit over lineitem (operators/profile."
        "fd_audit): violation counts/rates for three candidate FDs "
        "(partkey->suppkey: violated, parts ship from several "
        "suppliers; orderkey->returnflag: near-FD; partkey->"
        "extendedprice: violated, price scales with quantity) — the "
        "key-discovery/normalization profiling primitive. One "
        "groupBy(lhs) + count_distinct per candidate, NULL counted as "
        "a value; exact integer counts, rate rounded 6 dp."
    ),
)
def q_lineitem_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import fd_audit

    li = read_table(spark, sf_dir, "lineitem")
    return fd_audit(
        li,
        [
            ("l_partkey", "l_suppkey"),
            ("l_orderkey", "l_returnflag"),
            ("l_partkey", "l_extendedprice"),
        ],
    )


# --------------------------------------------------------------------------
# Reciprocal nearest neighbors (mutual top-1)
# --------------------------------------------------------------------------


@register(
    "q_emb_mutual_top1_pairs",
    """
    WITH ex AS (
      SELECT vec_id, unnest(embedding)::DOUBLE AS v,
             unnest(range(1, len(embedding) + 1)) AS i
      FROM embeddings WHERE vec_id < 300),
    dots AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             round(sum(a.v * b.v)
                   / (sqrt(sum(a.v * a.v)) * sqrt(sum(b.v * b.v))), 4)
               AS cos
      FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id <> b.vec_id
      GROUP BY 1, 2),
    top1 AS (
      SELECT ia, ib, cos,
             row_number() OVER (PARTITION BY ia
                                ORDER BY cos DESC, ib) AS rn
      FROM dots)
    SELECT f.ia AS id_a, f.ib AS id_b, f.cos + 0.0 AS cos_sim
    FROM top1 f JOIN top1 r ON f.ia = r.ib AND f.ib = r.ia
    WHERE f.rn = 1 AND r.rn = 1 AND f.ia < f.ib
    """,
    doc=(
        "Reciprocal nearest neighbors on the bounded slice vec_id < "
        "300 (operators/similarity.mutual_top1_pairs): pairs that are "
        "each other's cosine top-1 — the hub-killing precision filter "
        "semantic-dedup pipelines stack on kNN. Similarities rounded "
        "4 dp before ranking, (cos DESC, id) tiebreak; oracle is the "
        "unnest-join all-pairs twin. Sample-bounded exact construction "
        "by design (the scale path is the same mutuality join over "
        "IVF/LSH top-1 tables)."
    ),
)
def q_emb_mutual_top1_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import mutual_top1_pairs

    emb = read_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 300
    )
    return mutual_top1_pairs(emb)


# --------------------------------------------------------------------------
# Kaplan-Meier survival (signup -> purchase, censored at 7 days)
# --------------------------------------------------------------------------


@register(
    "q_events_kaplan_meier",
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
    km AS (
      SELECT t, n_events,
             (SELECT n FROM tot)
               - coalesce(sum(leaving)
                   OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0) AS n_risk
      FROM agg),
    st AS (
      SELECT t, n_risk, n_events,
             sum(CASE WHEN n_events = n_risk
                      THEN CAST(0.0 AS DECIMAL(38,12))
                      ELSE CAST(ln(1.0 - n_events
                                   / CAST(n_risk AS DOUBLE))
                           AS DECIMAL(38,12)) END)
               OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS lnsum,
             sum(CASE WHEN n_events = n_risk THEN 1 ELSE 0 END)
               OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS zeros
      FROM km)
    SELECT t, CAST(n_risk AS BIGINT) AS n_risk, n_events,
           CASE WHEN zeros > 0 THEN 0.0
                ELSE round(exp(CAST(lnsum AS DOUBLE)), 6) END + 0.0
             AS survival
    FROM st WHERE n_events > 0
    """,
    doc=(
        "Kaplan-Meier product-limit curve for time from first signup "
        "to first purchase, hour buckets, right-censored at 7 days "
        "(operators/survival.kaplan_meier) — the statistically-correct "
        "incomplete-window conversion curve (censored users are not "
        "failures). Integer-exact durations via epoch-micros integer "
        "division; the running product is exp of a DECIMAL-accumulated "
        "cumulative ln-sum; a d==n step pins survival to exactly 0. "
        "Two user-keyed aggregates + one bucket-table window pass."
    ),
)
def q_events_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.survival import kaplan_meier

    ev = read_table(spark, sf_dir, "events")
    return kaplan_meier(
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
# Grouped KLL quantiles (exact regime, hash-pinned)
# --------------------------------------------------------------------------


@register(
    "q_docs_kll_group_quantiles",
    """
    WITH n AS (SELECT source, count(*) AS cnt FROM documents
               GROUP BY source),
    r AS (
      SELECT source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars) AS rk
      FROM documents),
    p AS (SELECT unnest([0.25, 0.5, 0.75]) AS p)
    SELECT r.source, p.p + 0.0 AS p, CAST(r.n_chars AS DOUBLE) AS est
    FROM r JOIN n USING (source) CROSS JOIN p
    WHERE r.rk = CAST(ceil(p.p * n.cnt) AS BIGINT)
    """,
    doc=(
        "Per-source n_chars quartiles from grouped KLL sketches "
        "(operators/kll.kll_group_quantiles, k=200) — the grouped-"
        "percentile primitive at 100 TB (a fixed-size sketch per key "
        "instead of per-group sorts). At sf0.01 every source group has "
        "n <= k, so the sketch never compacts and its estimate IS the "
        "exact order statistic at rank ceil(p*n) — hash-pinned here; "
        "the compaction regime's rank error is bound-pinned by "
        "q_events_kll_quantiles_bound."
    ),
)
def q_docs_kll_group_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.kll import kll_group_quantiles

    d = read_table(spark, sf_dir, "documents")
    return kll_group_quantiles(
        d, "source", "n_chars", [0.25, 0.5, 0.75], k=200
    )


# --------------------------------------------------------------------------
# ABC / Pareto contribution analysis
# --------------------------------------------------------------------------


@register(
    "q_part_abc_classification",
    """
    WITH pk AS (
      SELECT l_partkey,
             round(sum(CAST(l_extendedprice * (1 - l_discount)
                            AS DECIMAL(18,6))), 2) AS v
      FROM lineitem GROUP BY l_partkey),
    t AS (SELECT sum(v) AS tot FROM pk),
    c AS (
      SELECT l_partkey, v,
             round(CAST(sum(v) OVER (ORDER BY v DESC, l_partkey
                                     ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                   / CAST((SELECT tot FROM t) AS DOUBLE), 6) + 0.0
               AS cum_share
      FROM pk)
    SELECT l_partkey, CAST(v AS DOUBLE) AS value, cum_share,
           CASE WHEN cum_share <= 0.8 THEN 'A'
                WHEN cum_share <= 0.95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM c
    """,
    doc=(
        "ABC/Pareto classification of parts by discounted revenue "
        "(operators/stats.abc_classification, 80/95 cut points) — the "
        "contribution analysis that answers 'which keys carry the "
        "corpus, which are tail'. Money-exact per-key sums "
        "(DECIMAL(18,6) accumulate, 2 dp), cumulative share over a "
        "total (value DESC, key) order, one key-table window pass."
    ),
)
def q_part_abc_classification(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.stats import abc_classification

    li = read_table(spark, sf_dir, "lineitem")
    return abc_classification(
        li,
        "l_partkey",
        F.col("l_extendedprice") * (1 - F.col("l_discount")),
    )


# --------------------------------------------------------------------------
# Optimal entropy split (decision stump)
# --------------------------------------------------------------------------


@register(
    "q_docs_best_entropy_split",
    """
    WITH pv AS (
      SELECT n_chars AS x, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS p
      FROM documents
      WHERE n_chars IS NOT NULL
      GROUP BY n_chars),
    t AS (SELECT sum(n) AS tn, sum(p) AS tp FROM pv),
    cum AS (
      SELECT x,
             sum(n) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS nl,
             sum(p) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS pl,
             (SELECT tn FROM t) AS tn, (SELECT tp FROM t) AS tp
      FROM pv),
    g AS (
      SELECT x, nl, pl, tn - nl AS nr, tp - pl AS pr, tn, tp
      FROM cum WHERE tn - nl > 0),
    sc AS (
      SELECT x, nl, pl, nr, pr,
             round(
               (CASE WHEN tp > 0 THEN -(CAST(tp AS DOUBLE)/CAST(tn AS DOUBLE)) * ln(CAST(tp AS DOUBLE)/CAST(tn AS DOUBLE)) ELSE 0.0 END
                + CASE WHEN tp < tn THEN -(1 - CAST(tp AS DOUBLE)/CAST(tn AS DOUBLE)) * ln(1 - CAST(tp AS DOUBLE)/CAST(tn AS DOUBLE)) ELSE 0.0 END)
               - (CAST(nl AS DOUBLE)/CAST(tn AS DOUBLE)) *
                 (CASE WHEN pl > 0 THEN -(CAST(pl AS DOUBLE)/CAST(nl AS DOUBLE)) * ln(CAST(pl AS DOUBLE)/CAST(nl AS DOUBLE)) ELSE 0.0 END
                  + CASE WHEN pl < nl THEN -(1 - CAST(pl AS DOUBLE)/CAST(nl AS DOUBLE)) * ln(1 - CAST(pl AS DOUBLE)/CAST(nl AS DOUBLE)) ELSE 0.0 END)
               - (CAST(nr AS DOUBLE)/CAST(tn AS DOUBLE)) *
                 (CASE WHEN pr > 0 THEN -(CAST(pr AS DOUBLE)/CAST(nr AS DOUBLE)) * ln(CAST(pr AS DOUBLE)/CAST(nr AS DOUBLE)) ELSE 0.0 END
                  + CASE WHEN pr < nr THEN -(1 - CAST(pr AS DOUBLE)/CAST(nr AS DOUBLE)) * ln(1 - CAST(pr AS DOUBLE)/CAST(nr AS DOUBLE)) ELSE 0.0 END)
             , 6) + 0.0 AS gain
      FROM g),
    rk AS (
      SELECT x, gain, nl, pl, nr, pr,
             row_number() OVER (ORDER BY gain DESC, x) AS r
      FROM sc)
    SELECT x AS threshold, gain,
           CAST(nl AS BIGINT) AS n_left, CAST(pl AS BIGINT) AS pos_left,
           CAST(nr AS BIGINT) AS n_right, CAST(pr AS BIGINT) AS pos_right
    FROM rk WHERE r = 1
    """,
    doc=(
        "Optimal entropy decision stump on n_chars predicting "
        "lang='en' (operators/evaluation.best_entropy_split): the "
        "max-information-gain threshold from ONE cumulative window "
        "over the distinct-value table — the tree-learner primitive "
        "and feature-predictiveness screen. Exact integer counts, "
        "mirrored double entropy expressions (0 ln 0 = 0), gain "
        "rounded 6 dp before the (gain DESC, threshold) argmax."
    ),
)
def q_docs_best_entropy_split(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.evaluation import best_entropy_split

    d = read_table(spark, sf_dir, "documents")
    return best_entropy_split(d, "n_chars", F.col("lang") == "en")


# --------------------------------------------------------------------------
# Horvitz-Thompson estimation from the stratified sample
# --------------------------------------------------------------------------


@register(
    "q_docs_ht_estimate",
    """
    WITH s AS (
      SELECT source, n_chars,
             CASE WHEN source = 'src0' THEN 2000
                  WHEN source = 'src1' THEN 5000
                  ELSE 7500 END AS cutoff
      FROM documents
      WHERE CAST('0x' || substr(md5('strat-' || CAST(doc_id AS VARCHAR)),
                                1, 8) AS BIGINT) % 10000
            < CASE WHEN source = 'src0' THEN 2000
                   WHEN source = 'src1' THEN 5000
                   ELSE 7500 END)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_sampled,
           CAST(round(sum(CAST(10000.0 / cutoff AS DECIMAL(38,12))), 4)
                AS DOUBLE) AS n_hat,
           CAST(round(sum(CAST(n_chars * (10000.0 / cutoff)
                               AS DECIMAL(38,12))), 2) AS DOUBLE)
             AS value_hat
    FROM s GROUP BY source
    """,
    doc=(
        "Horvitz-Thompson full-corpus estimates from the deterministic "
        "stratified sample (operators/sampling.ht_estimate; rates "
        "src0=0.2, src1=0.5, default 0.75): inverse-probability-"
        "weighted row and n_chars totals per source — the unbiased "
        "downsampled-corpus accounting move. Weights are exact "
        "rationals from the sampler's own integer cutoffs; weighted "
        "sums DECIMAL-accumulated; the sample membership is the same "
        "md5 rule both engines replicate bit-for-bit."
    ),
)
def q_docs_ht_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import ht_estimate

    d = read_table(spark, sf_dir, "documents")
    return ht_estimate(
        d,
        "source",
        "doc_id",
        "n_chars",
        rates={"src0": 0.2, "src1": 0.5},
        default_rate=0.75,
    )


# --------------------------------------------------------------------------
# Holt double exponential smoothing (level + trend forecast)
# --------------------------------------------------------------------------


@register(
    "q_events_holt_forecast",
    """
    WITH RECURSIVE ser AS (
      SELECT user_id AS u, value AS y,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM events WHERE value IS NOT NULL),
    rec(u, n, step, l, b) AS (
      SELECT s1.u, s1.n, 1, s1.y, s2.y - s1.y
      FROM ser s1 JOIN ser s2 ON s1.u = s2.u AND s2.rn = 2
      WHERE s1.rn = 1 AND s1.n >= 3
      UNION ALL
      SELECT r.u, r.n, r.step + 1,
             0.5 * s.y + 0.5 * (r.l + r.b),
             0.25 * ((0.5 * s.y + 0.5 * (r.l + r.b)) - r.l)
               + 0.75 * r.b
      FROM rec r JOIN ser s ON s.u = r.u AND s.rn = r.step + 1
      WHERE r.step < r.n)
    SELECT u AS user_id, CAST(n AS BIGINT) AS n_points,
           round(l, 4) + 0.0 AS level,
           round(b, 6) + 0.0 AS trend,
           round(l + b, 4) + 0.0 AS forecast_1
    FROM rec WHERE step = n
    """,
    doc=(
        "Holt double exponential smoothing per user (operators/"
        "timeseries.holt_linear_smoothing, alpha 0.5, beta 0.25, "
        "l1=y1, b1=y2-y1): final level/trend state and the one-step "
        "forecast — the trend-aware forecaster one notch up from EWMA. "
        "Sequential in t, parallel across keys (applyInPandas, two "
        "floats of state per key); the oracle replays the IDENTICAL "
        "IEEE update expressions as a recursive CTE, so the recursion "
        "is bit-exact, rounded only at output."
    ),
)
def q_events_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import holt_linear_smoothing

    ev = read_table(spark, sf_dir, "events")
    out = holt_linear_smoothing(
        ev, "user_id", "ts", "value", "event_id", alpha=0.5, beta=0.25
    )
    return out.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        "n_points",
        "level",
        "trend",
        "forecast_1",
    )


# --------------------------------------------------------------------------
# CUPED variance-reduced A/B readout
# --------------------------------------------------------------------------


@register(
    "q_events_cuped_readout",
    """
    WITH ev AS (
      SELECT user_id AS u, ts, CAST(round(value * 1e9) AS BIGINT) AS vn
      FROM events WHERE value IS NOT NULL),
    pu AS (
      SELECT u,
             CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                           THEN vn ELSE 0 END) AS BIGINT) AS xn,
             CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                           THEN vn ELSE 0 END) AS BIGINT) AS yn
      FROM ev GROUP BY u),
    arms AS (
      SELECT u, xn, yn,
             CAST('0x' || substr(md5('ab-' || CAST(u AS VARCHAR)), 1, 8)
                  AS BIGINT) % 2 AS arm
      FROM pu),
    mo AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(xn AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             CAST(sum(CAST(yn AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             CAST(sum(CAST(xn AS DECIMAL(38,0))
                      * CAST(yn AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(xn AS DECIMAL(38,0))
                      * CAST(xn AS DECIMAL(38,0))) AS DOUBLE) AS sxx
      FROM arms),
    th AS (
      SELECT (n * sxy - sx * sy) / (n * sxx - sx * sx) AS theta,
             sx / n AS mx
      FROM mo),
    adj AS (
      SELECT arm,
             CAST(yn AS DOUBLE) / 1e9 AS y,
             (CAST(yn AS DOUBLE)
              - theta * (CAST(xn AS DOUBLE) - mx)) / 1e9 AS ystar,
             theta
      FROM arms CROSS JOIN th),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b,
             max(theta) AS th,
             sum(CAST(CASE WHEN arm = 0 THEN y ELSE 0.0 END
                      AS DECIMAL(38,12))) AS sy0,
             sum(CAST(CASE WHEN arm = 1 THEN y ELSE 0.0 END
                      AS DECIMAL(38,12))) AS sy1,
             sum(CAST(CASE WHEN arm = 0 THEN ystar ELSE 0.0 END
                      AS DECIMAL(38,12))) AS sz0,
             sum(CAST(CASE WHEN arm = 1 THEN ystar ELSE 0.0 END
                      AS DECIMAL(38,12))) AS sz1,
             sum(CAST(y AS DECIMAL(38,12))) AS ty,
             sum(CAST(y * y AS DECIMAL(38,12))) AS tyy,
             sum(CAST(ystar AS DECIMAL(38,12))) AS tz,
             sum(CAST(ystar * ystar AS DECIMAL(38,12))) AS tzz
      FROM adj)
    SELECT n_users, n_a, n_b,
           round(th / 1.0, 6) + 0.0 AS theta,
           round(CAST(sy1 AS DOUBLE) / n_b
                 - CAST(sy0 AS DOUBLE) / n_a, 4) + 0.0 AS diff_raw,
           round(CAST(sz1 AS DOUBLE) / n_b
                 - CAST(sz0 AS DOUBLE) / n_a, 4) + 0.0 AS diff_cuped,
           round(1.0 - (CAST(tzz AS DOUBLE)
                        - CAST(tz AS DOUBLE) * CAST(tz AS DOUBLE)
                          / CAST(n_users AS DOUBLE))
                     / (CAST(tyy AS DOUBLE)
                        - CAST(ty AS DOUBLE) * CAST(ty AS DOUBLE)
                          / CAST(n_users AS DOUBLE)), 4) + 0.0
             AS var_reduction
    FROM agg
    """,
    doc=(
        "CUPED variance-reduced A/B readout (operators/experiment."
        "cuped_readout, Deng/Xu/Kohavi/Walker 2013): md5 hash arms, "
        "X = pre-2024-01-16 per-user value sum, Y = post; "
        "Y* = Y - theta(X - E[X]) with theta from pooled decimal-exact "
        "moments — unbiased diff, variance shrunk by the X-Y "
        "correlation. Raw vs adjusted B-A diffs plus the realized "
        "variance-reduction ratio; one user-keyed aggregate, one "
        "1-row moment pass, one 2-key arm aggregate."
    ),
)
def q_events_cuped_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.experiment import cuped_readout

    ev = read_table(spark, sf_dir, "events")
    return cuped_readout(
        ev, "user_id", "ts", "value", "2024-01-16 00:00:00", seed="ab"
    )


# --------------------------------------------------------------------------
# RFM segmentation
# --------------------------------------------------------------------------


@register(
    "q_customer_rfm_segments",
    """
    WITH pk AS (
      SELECT o_custkey,
             max(o_orderdate) AS last_d,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2)
                  AS DOUBLE) AS monetary
      FROM orders GROUP BY o_custkey),
    a AS (SELECT max(last_d) AS anchor FROM pk),
    base AS (
      SELECT o_custkey,
             CAST(date_diff('day', last_d, (SELECT anchor FROM a))
                  AS BIGINT) AS recency_days,
             frequency, monetary
      FROM pk),
    sc AS (
      SELECT o_custkey, recency_days, frequency, monetary,
             CAST(6 - ntile(5) OVER (ORDER BY recency_days ASC, o_custkey)
                  AS BIGINT) AS r_score,
             CAST(6 - ntile(5) OVER (ORDER BY frequency DESC, o_custkey)
                  AS BIGINT) AS f_score,
             CAST(6 - ntile(5) OVER (ORDER BY monetary DESC, o_custkey)
                  AS BIGINT) AS m_score
      FROM base)
    SELECT o_custkey, recency_days, frequency, monetary,
           r_score, f_score, m_score,
           CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
             || CAST(m_score AS VARCHAR) AS rfm_segment
    FROM sc
    """,
    doc=(
        "RFM customer segmentation over orders (operators/stats."
        "rfm_segments): recency anchored at the data's max order date "
        "(exact integer days), frequency, money-exact monetary, each "
        "ntile(5)-scored with total (metric, key) orderings so bucket "
        "boundaries are engine-identical; classic '555' segment "
        "labels. One key aggregate + three key-table window passes."
    ),
)
def q_customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import rfm_segments

    o = read_table(spark, sf_dir, "orders")
    return rfm_segments(o, "o_custkey", "o_orderdate", "o_totalprice")
