"""Round-6 third-wave query registrations.

New surface:
- snapshot diff (``operators/diff.snapshot_diff``): row-level
  insert/delete/update classification between two table versions with
  per-row changed-column sets — the inverse of CDC apply, backing
  incremental re-processing and ingest audits;
- leakage-safe split (``operators/sampling.leakage_safe_split``):
  train/val/test assignment by near-dup connected component, so a
  near-duplicate pair can never straddle train and test (the eval
  contamination Lee et al., ACL 2022 measure);
- unigram-LM subword segmentation (``operators/unigram``): Viterbi
  max-likelihood tokenization under a frequency-derived piece vocab
  (Kudo 2018 inference — the second tokenizer family next to BPE),
  integer micro-nat scores so the DP is engine-exact.

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
# Snapshot diff
# --------------------------------------------------------------------------

# Deterministic "v2" of the documents table, derived in-query so the diff
# is reproducible on any SF: delete doc_id%17==3, mutate lang (%13==0) and
# n_chars (%11==0) — overlapping at %143 — and insert shifted copies of
# doc_id%29==0 under key doc_id+1_000_000.
_DIFF_ORACLE = """
WITH old AS (
  SELECT doc_id, text, lang, source, n_chars FROM documents),
new AS (
  SELECT doc_id,
         text,
         CASE WHEN doc_id % 13 = 0 THEN 'xx' ELSE lang END AS lang,
         source,
         CASE WHEN doc_id % 11 = 0 THEN n_chars + 1 ELSE n_chars END AS n_chars
  FROM documents WHERE doc_id % 17 <> 3
  UNION ALL
  SELECT doc_id + 1000000, text, lang, source, n_chars
  FROM documents WHERE doc_id % 29 = 0),
j AS (
  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
         o.doc_id IS NULL AS ins, n.doc_id IS NULL AS del,
         list_filter([
           CASE WHEN o.lang    IS DISTINCT FROM n.lang    THEN 'lang' END,
           CASE WHEN o.n_chars IS DISTINCT FROM n.n_chars THEN 'n_chars' END,
           CASE WHEN o.source  IS DISTINCT FROM n.source  THEN 'source' END,
           CASE WHEN o.text    IS DISTINCT FROM n.text    THEN 'text' END
         ], x -> x IS NOT NULL) AS diffs
  FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id)
SELECT doc_id,
       CASE WHEN ins THEN 'I' WHEN del THEN 'D' ELSE 'U' END AS op,
       CASE WHEN ins OR del THEN '' ELSE list_aggr(diffs, 'string_agg', ',') END
         AS changed_cols
FROM j
WHERE ins OR del OR len(diffs) > 0
"""


def _documents_v2(d: DataFrame) -> DataFrame:
    mutated = (
        d.filter(F.col("doc_id") % 17 != 3)
        .withColumn(
            "lang",
            F.when(F.col("doc_id") % 13 == 0, F.lit("xx")).otherwise(F.col("lang")),
        )
        .withColumn(
            "n_chars",
            F.when(F.col("doc_id") % 11 == 0, F.col("n_chars") + 1).otherwise(
                F.col("n_chars")
            ),
        )
    )
    inserted = d.filter(F.col("doc_id") % 29 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    return mutated.unionByName(inserted)


@register(
    "q_docs_snapshot_diff",
    _DIFF_ORACLE,
    doc=(
        "Snapshot diff (operators/diff.snapshot_diff): row-level I/D/U "
        "classification between two versions of the documents table, with "
        "the exact changed-column set per update (null-safe <=> per "
        "column; null->null is no change). ONE key-keyed full-outer hash "
        "join is the only shuffle; classification and the changed-column "
        "array are row-local codegen (no unpivot, no per-column passes); "
        "unchanged rows drop before any consumer sees them, so output is "
        "proportional to churn, not table size. v2 is derived in-query by "
        "deterministic doc_id rules (delete %17==3, mutate lang %13==0 / "
        "n_chars %11==0 — both at %143 — insert shifted %29==0), so the "
        "oracle rebuilds the identical pair of versions."
    ),
)
def q_docs_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.diff import snapshot_diff

    d = read_table(spark, sf_dir, "documents")
    return snapshot_diff(d, _documents_v2(d), "doc_id")


# --------------------------------------------------------------------------
# Leakage-safe split
# --------------------------------------------------------------------------

_LEAKAGE_SPLIT_ORACLE = """
WITH RECURSIVE toks AS (
  SELECT doc_id,
         list_distinct([x for x in regexp_split_to_array(lower(text), '[^a-z0-9]+') IF x <> '']) AS tok
  FROM documents WHERE doc_id < 80),
edges AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM toks a JOIN toks b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.tok, b.tok))::DOUBLE /
        nullif(len(list_distinct(list_concat(a.tok, b.tok))), 0) >= 0.5),
sym AS (
  SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
reach(node, comp) AS (
  SELECT src, src FROM sym
  UNION
  SELECT s.dst, r.comp FROM reach r JOIN sym s ON s.src = r.node),
cc AS (SELECT node, min(comp) AS component FROM reach GROUP BY node),
labeled AS (
  SELECT d.doc_id,
         coalesce(cc.component, d.doc_id) AS component
  FROM (SELECT doc_id FROM documents WHERE doc_id < 80) d
  LEFT JOIN cc ON cc.node = d.doc_id),
b AS (
  SELECT doc_id, component,
         CAST('0x' || substr(md5('split-' || CAST(component AS VARCHAR)), 1, 8)
              AS BIGINT) % 100 AS bkt
  FROM labeled)
SELECT doc_id, component,
       CASE WHEN bkt < 90 THEN 'train'
            WHEN bkt < 95 THEN 'val'
            ELSE 'test' END AS split
FROM b
"""


@register(
    "q_docs_leakage_safe_split",
    _LEAKAGE_SPLIT_ORACLE,
    doc=(
        "Leakage-safe train/val/test split "
        "(operators/sampling.leakage_safe_split): docs connected by a "
        "near-dup edge (exact Jaccard >= 0.5 on the bounded doc_id<80 "
        "sample — the oracle-expressible stand-in for the LSH edge set "
        "the dedup pipeline already materializes at scale) are split BY "
        "CONNECTED COMPONENT, so no near-dup pair ever straddles "
        "train/test — the contamination channel plain id-hash splitting "
        "leaves open. Split is a pure function of the component label, "
        "so the no-cross-split-edge invariant holds by construction "
        "(also pinned in tests/test_operators.py). CC is the iterative "
        "min-label propagation vs a recursive-CTE reachability oracle; "
        "singletons fall back to their own id; the assignment hash is "
        "the engine-portable md5 bucket."
    ),
)
def q_docs_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import leakage_safe_split
    from ..operators.setsim import bounded_jaccard_edges

    d = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 80)
    edges = bounded_jaccard_edges(d, threshold=0.5)
    return leakage_safe_split(d.select("doc_id"), edges, "doc_id").select(
        "doc_id", "component", "split"
    )


# --------------------------------------------------------------------------
# Unigram-LM subword segmentation (SentencePiece-style Viterbi inference)
# --------------------------------------------------------------------------

_UNIGRAM_ORACLE = """
WITH RECURSIVE toks AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            t -> t <> '')) AS word
  FROM documents),
wc AS (SELECT word, count(*) AS cnt FROM toks GROUP BY word),
pieces AS (
  SELECT substr(word, i, L) AS piece, cnt
  FROM wc, range(1, 5) r(L),
       LATERAL (SELECT unnest(range(1, length(word) - L + 2)) AS i)
  WHERE length(word) >= L),
agg AS (SELECT piece, CAST(sum(cnt) AS BIGINT) AS piece_cnt
        FROM pieces GROUP BY piece),
kept AS (SELECT * FROM agg WHERE length(piece) = 1 OR piece_cnt >= 800),
tot AS (SELECT CAST(sum(piece_cnt) AS BIGINT) AS t FROM kept),
vocab AS (
  SELECT piece, piece_cnt,
         CAST(round(1000000.0 * ln(piece_cnt / t)) AS BIGINT) AS score
  FROM kept CROSS JOIN tot),
paths(word, cnt, pos, score, np, path) AS (
  SELECT word, cnt, 0, CAST(0 AS BIGINT), 0, ''
  FROM wc
  UNION ALL
  SELECT p.word, p.cnt, p.pos + length(v.piece), p.score + v.score, p.np + 1,
         CASE WHEN p.path = '' THEN v.piece ELSE p.path || ' ' || v.piece END
  FROM paths p JOIN vocab v
    ON v.piece = substr(p.word, p.pos + 1, length(v.piece))
  WHERE p.pos < length(p.word)),
fin AS (
  SELECT word, cnt, score, np, path,
         row_number() OVER (PARTITION BY word
                            ORDER BY score DESC, np ASC, path ASC) AS rn
  FROM paths WHERE pos = length(word))
SELECT word, CAST(cnt AS BIGINT) AS cnt, path AS seg,
       CAST(np AS BIGINT) AS n_pieces, score
FROM fin WHERE rn = 1
"""


@register(
    "q_docs_unigram_segment",
    _UNIGRAM_ORACLE,
    doc=(
        "Unigram-LM subword segmentation (operators/unigram, Kudo 2018 "
        "inference — the second standard tokenizer family next to "
        "operators/bpe.py): Viterbi-segment every distinct word into the "
        "max-likelihood piece sequence under a frequency-derived char-"
        "n-gram vocabulary (1..4-grams, min_count=800, single chars kept "
        "unconditionally as the coverage guarantee). Piece scores are "
        "INTEGER micro-nats — round(1e6*ln(cnt/total)) — so the DP "
        "compares exact int64 sums (no accumulated-double hazard); ties "
        "break (fewer pieces, lexicographically smallest joined string) "
        "— a total order, since equal-piece-count candidates are equal-"
        "length strings. Scale: word counting is the one corpus shuffle; "
        "the vocab aggregate is bounded by the char-n-gram space "
        "(broadcastable at any corpus size); Viterbi runs ONCE per "
        "distinct word in an Arrow-batched mapInPandas with the score "
        "table a task-closure constant — corpus tokenization is then a "
        "broadcast join against this vocab-sized result, never per-"
        "occurrence DP. Oracle: recursive-CTE path enumeration "
        "(compositions of len<=8 words with parts<=4 — bounded) with the "
        "identical integer scoring and tie-break."
    ),
)
def q_docs_unigram_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.unigram import unigram_segment_words, unigram_vocab, word_counts

    d = read_table(spark, sf_dir, "documents")
    # one corpus shuffle, reused by vocab AND segmentation (checkpointed:
    # vocab.collect() + the segment pass would otherwise re-run it 3x)
    wc = word_counts(d).localCheckpoint()
    vocab = unigram_vocab(wc, max_piece_len=4, min_count=800)
    return unigram_segment_words(wc, vocab, max_piece_len=4)


# --------------------------------------------------------------------------
# Distributed statistics: correlation matrix, robust outliers
# --------------------------------------------------------------------------


@register(
    "q_lineitem_corr_matrix",
    """
    WITH m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(CAST(l_quantity AS DECIMAL(38,12))) AS s_q,
             sum(CAST(l_extendedprice AS DECIMAL(38,12))) AS s_e,
             sum(CAST(l_discount AS DECIMAL(38,12))) AS s_d,
             sum(CAST(l_tax AS DECIMAL(38,12))) AS s_t,
             sum(CAST(CAST(l_quantity AS DECIMAL(38,12)) * CAST(l_quantity AS DECIMAL(38,12)) AS DECIMAL(38,12))) AS p_qq,
             sum(CAST(CAST(l_extendedprice AS DECIMAL(38,12)) * CAST(l_extendedprice AS DECIMAL(38,12)) AS DECIMAL(38,12))) AS p_ee,
             sum(CAST(CAST(l_discount AS DECIMAL(38,12)) * CAST(l_discount AS DECIMAL(38,12)) AS DECIMAL(38,12))) AS p_dd,
             sum(CAST(CAST(l_tax AS DECIMAL(38,12)) * CAST(l_tax AS DECIMAL(38,12)) AS DECIMAL(38,12))) AS p_tt,
             sum(CAST(CAST(l_quantity AS DECIMAL(38,12)) * CAST(l_extendedprice AS DECIMAL(38,12)) AS DECIMAL(38,12))) AS p_qe,
             sum(CAST(CAST(l_quantity AS DECIMAL(38,12)) * CAST(l_discount AS DECIMAL(38,12)) AS DECIMAL(38,12))) AS p_qd,
             sum(CAST(CAST(l_quantity AS DECIMAL(38,12)) * CAST(l_tax AS DECIMAL(38,12)) AS DECIMAL(38,12))) AS p_qt,
             sum(CAST(CAST(l_extendedprice AS DECIMAL(38,12)) * CAST(l_discount AS DECIMAL(38,12)) AS DECIMAL(38,12))) AS p_ed,
             sum(CAST(CAST(l_extendedprice AS DECIMAL(38,12)) * CAST(l_tax AS DECIMAL(38,12)) AS DECIMAL(38,12))) AS p_et,
             sum(CAST(CAST(l_discount AS DECIMAL(38,12)) * CAST(l_tax AS DECIMAL(38,12)) AS DECIMAL(38,12))) AS p_dt
      FROM lineitem),
    pairs(col_a, col_b, sab, sa, sb, saa, sbb) AS (
      SELECT 'l_quantity', 'l_extendedprice', p_qe, s_q, s_e, p_qq, p_ee FROM m
      UNION ALL SELECT 'l_quantity', 'l_discount', p_qd, s_q, s_d, p_qq, p_dd FROM m
      UNION ALL SELECT 'l_quantity', 'l_tax', p_qt, s_q, s_t, p_qq, p_tt FROM m
      UNION ALL SELECT 'l_extendedprice', 'l_discount', p_ed, s_e, s_d, p_ee, p_dd FROM m
      UNION ALL SELECT 'l_extendedprice', 'l_tax', p_et, s_e, s_t, p_ee, p_tt FROM m
      UNION ALL SELECT 'l_discount', 'l_tax', p_dt, s_d, s_t, p_dd, p_tt FROM m)
    SELECT col_a, col_b,
           round((m.n::DOUBLE * sab::DOUBLE - sa::DOUBLE * sb::DOUBLE) /
                 nullif(sqrt(m.n::DOUBLE * saa::DOUBLE - sa::DOUBLE * sa::DOUBLE) *
                        sqrt(m.n::DOUBLE * sbb::DOUBLE - sb::DOUBLE * sb::DOUBLE), 0.0), 4)
             AS corr
    FROM pairs, m
    """,
    doc=(
        "Pearson correlation matrix over the four lineitem measures in "
        "ONE table scan (operators/stats.corr_matrix): all Σx/Σx²/Σxy "
        "moments accumulate in a single map-side-combinable aggregate "
        "whose shuffle is ONE row of DECIMAL(38,12) sums — vs "
        "df.stat.corr's O(k²) rescans. The melt to (col_a, col_b, corr) "
        "pairs is row-local on that one row. Decimal moment sums are "
        "exact and order-independent; the correlation is one double "
        "expression over identical rationals on both engines, rounded "
        "4dp. Null rows excluded up front (listwise deletion — keeps "
        "the matrix PSD)."
    ),
)
def q_lineitem_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import corr_matrix

    li = read_table(spark, sf_dir, "lineitem")
    return corr_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


@register(
    "q_events_mad_outliers",
    """
    WITH med AS (
      SELECT event_type, median(value) AS m, count(*) AS n
      FROM events WHERE value IS NOT NULL GROUP BY event_type),
    dev AS (
      SELECT e.event_type, abs(e.value - med.m) AS adev, med.m, med.n
      FROM events e JOIN med USING (event_type)
      WHERE e.value IS NOT NULL),
    mad AS (
      SELECT event_type, m, n, median(adev) AS md
      FROM dev GROUP BY event_type, m, n),
    fl AS (
      SELECT d.event_type,
             CAST(sum(CASE WHEN mad.md > 0
                           THEN CASE WHEN d.adev > 3.0 * 1.4826 * mad.md THEN 1 ELSE 0 END
                           ELSE CASE WHEN d.adev > 0 THEN 1 ELSE 0 END END) AS BIGINT)
               AS n_outliers
      FROM dev d JOIN mad USING (event_type) GROUP BY d.event_type)
    SELECT mad.event_type, CAST(mad.n AS BIGINT) AS n,
           round(mad.m, 4) AS med, round(mad.md, 4) AS mad,
           fl.n_outliers
    FROM mad JOIN fl USING (event_type)
    """,
    doc=(
        "Robust per-type outlier summary (operators/stats.mad_outliers): "
        "flag |x - median| > 3 * 1.4826 * MAD — the median/MAD pair has "
        "breakdown point 0.5, so heavy tails cannot mask outliers the "
        "way they inflate a z-score's stddev (the existing "
        "q_events_zscore_outliers is the moment-based counterpart). "
        "Exact grouped percentiles both passes (the 100 TB swap-in is "
        "approx_percentile, mergeable, same contract as calibration "
        "bins); three key-clustered shuffles, no window. MAD=0 groups "
        "flag any value off the median — the data-cleaning convention "
        "for near-constant columns. Both engines interpolate the same "
        "two order statistics, and med/mad round 4dp."
    ),
)
def q_events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import mad_outliers

    e = read_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return mad_outliers(e, "event_type", "value")


@register(
    "q_customer_loo_encode",
    """
    WITH cs AS (
      SELECT c_mktsegment,
             sum(CAST(c_acctbal AS DECIMAL(38,12))) AS s,
             count(*) AS n
      FROM customer GROUP BY c_mktsegment),
    g AS (
      SELECT sum(CAST(c_acctbal AS DECIMAL(38,12))) AS gs, count(*) AS gn
      FROM customer)
    SELECT c.c_custkey, c.c_mktsegment,
           round((CAST(cs.s AS DOUBLE) - CAST(c.c_acctbal AS DOUBLE)
                  + 10.0 * (CAST(g.gs AS DOUBLE) / CAST(g.gn AS DOUBLE)))
                 / nullif(CAST(cs.n - 1 AS DOUBLE) + 10.0, 0.0), 4) AS loo_enc
    FROM customer c JOIN cs USING (c_mktsegment) CROSS JOIN g
    """,
    doc=(
        "Leave-one-out target encoding (operators/stats.loo_target_encode, "
        "prior_weight=10): encode c_mktsegment as the mean c_acctbal of "
        "the OTHER rows in the segment, shrunk toward the global mean — "
        "the high-cardinality categorical encoding where including the "
        "row's own target is train-time leakage. ONE category-keyed "
        "aggregate broadcast back + a 1-row global aggregate; the LOO "
        "arithmetic is row-local codegen (no window, no self-join). "
        "Decimal sums are exact/order-independent; the single double "
        "division mirrors the oracle's expression tree, rounded 4dp."
    ),
)
def q_customer_loo_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import loo_target_encode

    c = read_table(spark, sf_dir, "customer")
    return loo_target_encode(c, "c_mktsegment", "c_acctbal", prior_weight=10.0).select(
        "c_custkey", "c_mktsegment", "loo_enc"
    )


_LPA_ORACLE = """
WITH pe AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
ed AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM pe a JOIN pe b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey),
sym AS (
  SELECT DISTINCT src, dst
  FROM (SELECT src, dst FROM ed UNION ALL SELECT dst, src FROM ed)),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM sym),
f1 AS (SELECT e.dst AS node, l.label, count(*) AS n
       FROM sym e JOIN l0 l ON l.node = e.src GROUP BY 1, 2),
l1 AS (SELECT node, label FROM (
         SELECT node, label,
                row_number() OVER (PARTITION BY node
                                   ORDER BY n DESC, label ASC) AS rn
         FROM f1) WHERE rn = 1),
f2 AS (SELECT e.dst AS node, l.label, count(*) AS n
       FROM sym e JOIN l1 l ON l.node = e.src GROUP BY 1, 2),
l2 AS (SELECT node, label FROM (
         SELECT node, label,
                row_number() OVER (PARTITION BY node
                                   ORDER BY n DESC, label ASC) AS rn
         FROM f2) WHERE rn = 1),
f3 AS (SELECT e.dst AS node, l.label, count(*) AS n
       FROM sym e JOIN l2 l ON l.node = e.src GROUP BY 1, 2),
l3 AS (SELECT node, label FROM (
         SELECT node, label,
                row_number() OVER (PARTITION BY node
                                   ORDER BY n DESC, label ASC) AS rn
         FROM f3) WHERE rn = 1)
SELECT node, CAST(label AS BIGINT) AS label FROM l3
"""


@register(
    "q_graph_label_propagation",
    _LPA_ORACLE,
    doc=(
        "Synchronous label-propagation communities "
        "(operators/graph.label_propagation, 3 rounds) over the part "
        "co-order graph: every node simultaneously adopts its neighbors' "
        "most frequent label, ties to the smallest — the deterministic "
        "variant of Raghavan et al. 2007 (asynchronous LPA is update-"
        "order-dependent, useless under a distributed scheduler; fixed "
        "small rounds is also the right contract, since synchronous LPA "
        "can oscillate — unlike kcore's monotone peel there is no "
        "fixpoint to run to). Per round: one src-keyed join, one "
        "(dst,label) count, one per-node struct-max argmax — "
        "aggregates, never a window; lineage truncated per round. "
        "Oracle unrolls the 3 rounds as chained CTEs with the identical "
        "(n DESC, label ASC) total order."
    ),
)
def q_graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import label_propagation
    from .graph_inputs import part_coorder_edges

    return label_propagation(part_coorder_edges(spark, sf_dir), rounds=3)


_SPLIT_AUDIT_ORACLE = """
WITH RECURSIVE toks AS (
  SELECT doc_id,
         list_distinct([x for x in regexp_split_to_array(lower(text), '[^a-z0-9]+') IF x <> '']) AS tok
  FROM documents WHERE doc_id < 80),
edges AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM toks a JOIN toks b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.tok, b.tok))::DOUBLE /
        nullif(len(list_distinct(list_concat(a.tok, b.tok))), 0) >= 0.5),
sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
reach(node, comp) AS (
  SELECT src, src FROM sym
  UNION
  SELECT s.dst, r.comp FROM reach r JOIN sym s ON s.src = r.node),
cc AS (SELECT node, min(comp) AS component FROM reach GROUP BY node),
docs AS (SELECT doc_id FROM documents WHERE doc_id < 80),
naive AS (
  SELECT doc_id,
         CAST('0x' || substr(md5('split-' || CAST(doc_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 100 AS b
  FROM docs),
safe AS (
  SELECT d.doc_id,
         CAST('0x' || substr(md5('split-' ||
              CAST(coalesce(cc.component, d.doc_id) AS VARCHAR)), 1, 8)
              AS BIGINT) % 100 AS b
  FROM docs d LEFT JOIN cc ON cc.node = d.doc_id),
lab AS (
  SELECT 'naive' AS method, doc_id,
         CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
              ELSE 'test' END AS split
  FROM naive
  UNION ALL
  SELECT 'component', doc_id,
         CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END
  FROM safe)
SELECT l.method,
       CAST(count(*) AS BIGINT) AS n_edges,
       CAST(sum(CASE WHEN l.split <> r.split THEN 1 ELSE 0 END) AS BIGINT)
         AS n_cross
FROM edges e
JOIN lab l ON l.doc_id = e.src
JOIN lab r ON r.doc_id = e.dst AND r.method = l.method
GROUP BY l.method
"""


@register(
    "q_docs_split_leakage_audit",
    _SPLIT_AUDIT_ORACLE,
    doc=(
        "Cross-split contamination audit "
        "(operators/sampling.split_leakage_audit): count near-dup edges "
        "whose endpoints landed in different train/val/test splits, for "
        "a naive doc-id-hash split vs the component split, over the same "
        "exact-Jaccard>=0.5 edge set (bounded doc_id<80 sample). The "
        "naive split crosses hundreds of edges (eval contamination, "
        "measured); leakage_safe_split crosses ZERO — and here that "
        "invariant is measured rather than assumed. Two key-keyed "
        "equi-joins of the (key, split) projection onto the edge list + "
        "one aggregate; edge-list-sized, no window."
    ),
)
def q_docs_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import (
        leakage_safe_split,
        split_assign,
        split_leakage_audit,
    )
    from ..operators.setsim import bounded_jaccard_edges

    d = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 80)
    edges = bounded_jaccard_edges(d, threshold=0.5).localCheckpoint()
    ids = d.select("doc_id")
    naive = split_assign(ids, "doc_id")
    safe = leakage_safe_split(ids, edges, "doc_id")
    return split_leakage_audit(naive, edges, "doc_id").select(
        F.lit("naive").alias("method"), "n_edges", "n_cross"
    ).unionByName(
        split_leakage_audit(safe, edges, "doc_id").select(
            F.lit("component").alias("method"), "n_edges", "n_cross"
        )
    )


@register(
    "q_events_seasonal_backtest",
    """
    WITH base AS (
      SELECT event_type,
             EXTRACT(dow FROM ts) AS d, EXTRACT(hour FROM ts) AS h,
             value AS v, ts < TIMESTAMP '2024-01-22' AS train
      FROM events WHERE value IS NOT NULL),
    slot AS (
      SELECT event_type, d, h,
             CAST(sum(CAST(v AS DECIMAL(38,12))) AS DOUBLE) /
             CAST(count(*) AS DOUBLE) AS p
      FROM base WHERE train GROUP BY 1, 2, 3),
    fb AS (
      SELECT event_type,
             CAST(sum(CAST(v AS DECIMAL(38,12))) AS DOUBLE) /
             CAST(count(*) AS DOUBLE) AS p
      FROM base WHERE train GROUP BY 1),
    test AS (
      SELECT b.event_type,
             CAST(round(abs(b.v - coalesce(s.p, fb.p)) * 1000000.0) AS BIGINT)
               AS e,
             CASE WHEN s.p IS NULL THEN 1 ELSE 0 END AS f
      FROM base b
      LEFT JOIN slot s ON s.event_type = b.event_type AND s.d = b.d AND s.h = b.h
      LEFT JOIN fb ON fb.event_type = b.event_type
      WHERE NOT b.train)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(f) AS BIGINT) AS n_fallback,
           round((CAST(sum(e) AS DOUBLE) / CAST(count(*) AS DOUBLE)) / 1000000.0, 4)
             AS mae
    FROM test GROUP BY event_type
    """,
    doc=(
        "Hour-of-week seasonal-mean forecast with held-out backtest "
        "(operators/timeseries.seasonal_baseline_backtest): per-type "
        "(dow, hour) train means (before Jan 22) predict the final week; "
        "unseen slots fall back to the type's train mean; per-type MAE "
        "reported — the baseline any forecasting model must beat. Slot "
        "means divide exact decimal sums; each absolute error converts "
        "to integer micro-units BEFORE summing, so the corpus aggregate "
        "is exact int64 and only the final division is double "
        "(round-before-compare applied to an error metric). Model is a "
        "|types|*168-row broadcast; scoring is row-local; no window."
    ),
)
def q_events_seasonal_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import seasonal_baseline_backtest

    e = read_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return seasonal_baseline_backtest(
        e, "event_type", "ts", "value", "2024-01-22"
    )


@register(
    "q_lineitem_join_preflight",
    """
    WITH la AS (SELECT l_partkey AS k, count(*) AS ca FROM lineitem GROUP BY 1),
    prod AS (
      SELECT CAST(k AS VARCHAR) AS key_repr,
             CAST(ca * ca AS BIGINT) AS out_rows
      FROM la),
    tot AS (SELECT CAST(sum(out_rows) AS BIGINT) AS t FROM prod),
    topk AS (
      SELECT key_repr, out_rows,
             round(CAST(out_rows AS DOUBLE) / CAST(t AS DOUBLE), 4) AS frac,
             row_number() OVER (ORDER BY out_rows DESC, key_repr ASC) AS rank
      FROM prod, tot QUALIFY rank <= 10)
    SELECT CAST(0 AS BIGINT) AS rank, '__TOTAL__' AS key_repr,
           t AS out_rows, 1.0 AS frac
    FROM tot
    UNION ALL
    SELECT CAST(rank AS BIGINT), key_repr, out_rows, frac FROM topk
    """,
    doc=(
        "Join-cardinality pre-flight "
        "(operators/skew.join_cardinality_preflight) for the lineitem "
        "self-join on l_partkey: |A JOIN B| = sum over keys of "
        "cnt_A*cnt_B, computed from two key-histogram aggregates at a "
        "tiny fraction of the join's own cost — plus the top-10 "
        "dominating keys (the join's exact skew profile). At 100 TB "
        "this turns a runaway many-to-many join from a 3-hour stage "
        "failure into a 2-minute aggregate answer that routes the job "
        "to salting / hot-cold splitting FIRST. Histograms are map-side "
        "combinable; their join is distinct-key-sized; top-k is "
        "TakeOrdered with a key tiebreak."
    ),
)
def q_lineitem_join_preflight(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import join_cardinality_preflight

    li = read_table(spark, sf_dir, "lineitem").select("l_partkey")
    return join_cardinality_preflight(li, li, ["l_partkey"])


@register(
    "q_events_psi_drift",
    """
    WITH a AS (SELECT value FROM events
               WHERE value IS NOT NULL AND ts < TIMESTAMP '2024-01-16'),
    b AS (SELECT value FROM events
          WHERE value IS NOT NULL AND ts >= TIMESTAMP '2024-01-16'),
    ta AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM a),
    tb AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM b),
    bin_a AS (
      SELECT CASE WHEN value < 10 THEN 0 WHEN value < 25 THEN 1
                  WHEN value < 50 THEN 2 WHEN value < 100 THEN 3
                  WHEN value < 200 THEN 4 ELSE 5 END AS bin,
             count(*) AS na
      FROM a GROUP BY 1),
    bin_b AS (
      SELECT CASE WHEN value < 10 THEN 0 WHEN value < 25 THEN 1
                  WHEN value < 50 THEN 2 WHEN value < 100 THEN 3
                  WHEN value < 200 THEN 4 ELSE 5 END AS bin,
             count(*) AS nb
      FROM b GROUP BY 1),
    grid AS (SELECT unnest(range(0, 6)) AS bin),
    j AS (
      SELECT g.bin,
             coalesce(bin_a.na, 0) AS na, coalesce(bin_b.nb, 0) AS nb
      FROM grid g
      LEFT JOIN bin_a ON bin_a.bin = g.bin
      LEFT JOIN bin_b ON bin_b.bin = g.bin),
    terms AS (
      SELECT bin, na, nb,
             CAST(round(((na / ta.t + 0.000001) - (nb / tb.t + 0.000001)) *
                        ln((na / ta.t + 0.000001) / (nb / tb.t + 0.000001)) *
                        1000000.0) AS BIGINT) AS tm
      FROM j, ta, tb)
    SELECT CAST(bin AS BIGINT) AS bin,
           round(na / ta.t, 4) AS frac_a,
           round(nb / tb.t, 4) AS frac_b,
           round(CAST(tm AS DOUBLE) / 1000000.0, 4) AS term
    FROM terms, ta, tb
    UNION ALL
    SELECT -1, NULL, NULL,
           round(CAST(sum(tm) AS DOUBLE) / 1000000.0, 4)
    FROM terms
    """,
    doc=(
        "Population Stability Index between the first and second half of "
        "January (operators/profile.psi_drift, cutoffs 10/25/50/100/200): "
        "the distributional drift metric profile_drift cannot see — the "
        "shape shifting inside unchanged bounds. Cutoffs are plan "
        "literals (taken once from the reference snapshot's quantiles at "
        "scale), so binning fuses into both scans; each side pays ONE "
        "bins-sized map-side-combinable aggregate. Each bin's PSI term "
        "converts to integer micro-units before the total sum (exact "
        "int64 — a 6-double fold would be order noise); empty bins are "
        "epsilon-smoothed identically on both engines. Output: per-bin "
        "fractions + terms, and a bin=-1 TOTAL row carrying the PSI."
    ),
)
def q_events_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.dates import epoch_seconds  # noqa: F401 (NTZ-safe read)
    from ..operators.profile import psi_drift

    e = read_table(spark, sf_dir, "events")
    a = e.filter(F.col("ts") < F.lit("2024-01-16").cast("timestamp"))
    b = e.filter(F.col("ts") >= F.lit("2024-01-16").cast("timestamp"))
    return psi_drift(a, b, "value", [10.0, 25.0, 50.0, 100.0, 200.0])


@register(
    "q_docs_containment_join",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         t -> t <> '') AS ts
      FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(ts) - 1),
               i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
      FROM toks WHERE len(ts) >= 3)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS overlap,
           CAST(len(a.s) AS BIGINT) AS size_a,
           CAST(len(b.s) AS BIGINT) AS size_b,
           round(len(list_intersect(a.s, b.s))::DOUBLE / len(a.s), 4)
             AS containment
    FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
    WHERE len(list_intersect(a.s, b.s))::DOUBLE / len(a.s) >= 0.8
    """,
    doc=(
        "Asymmetric set-containment self-join "
        "(operators/setsim.containment_join, word 3-gram shingles, "
        "t=0.8): every DIRECTED pair where A's shingles are mostly "
        "inside B — the quote/excerpt/boilerplate detector Jaccard "
        "cannot see (a fragment inside a 100x longer doc has ~0 Jaccard "
        "but containment ~1; the direction says which is the fragment). "
        "Prefix filtering adapts to the asymmetry: only the contained "
        "side is prefix-pruned (rarest |A|-ceil(t|A|)+1 shingles), the "
        "superset side joins its full list, plus the |B| >= t|A| length "
        "bound — candidate blocks stay rare-shingle-dominated, never "
        "all-pairs. The ORACLE is the brute-force all-pairs join, "
        "tractable at oracle scale — exactly why the Spark side must "
        "not be."
    ),
)
def q_docs_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.setsim import containment_join

    d = read_table(spark, sf_dir, "documents")
    return containment_join(d, "doc_id", "text", threshold=0.8, shingle_width=3)


@register(
    "q_docs_unigram_token_counts",
    _UNIGRAM_ORACLE.replace(
        "SELECT word, CAST(cnt AS BIGINT) AS cnt, path AS seg,\n"
        "       CAST(np AS BIGINT) AS n_pieces, score\n"
        "FROM fin WHERE rn = 1",
        """,
docw AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            t -> t <> '')) AS word
  FROM documents),
seg AS (SELECT word, np FROM fin WHERE rn = 1)
SELECT d.doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(seg.np) AS BIGINT) AS n_pieces
FROM docw d JOIN seg ON seg.word = d.word
GROUP BY d.doc_id""",
    ),
    doc=(
        "Corpus tokenization under the unigram LM "
        "(operators/unigram): per-document word and PIECE counts by "
        "broadcast-joining the corpus's (doc, word) rows against the "
        "vocab-sized Viterbi segmentation — the scale path the "
        "segmenter's docstring promises (the Zipf head is segmented "
        "once, never once per occurrence; the only corpus-sized ops are "
        "the word explode and one doc-keyed count). This is the unigram "
        "twin of q_docs_pack_bpe_sequences' token budget: real "
        "subword counts for sequence packing, not regex proxies."
    ),
)
def q_docs_unigram_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.unigram import unigram_segment_words, unigram_vocab, word_counts

    d = read_table(spark, sf_dir, "documents")
    wc = word_counts(d).localCheckpoint()
    vocab = unigram_vocab(wc, max_piece_len=4, min_count=800)
    seg = unigram_segment_words(wc, vocab, max_piece_len=4).select(
        "word", "n_pieces"
    )
    docw = d.select(
        "doc_id",
        F.explode(word_tokens("text")).alias("word"),
    )
    return (
        docw.join(F.broadcast(seg), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_pieces").cast("long").alias("n_pieces"),
        )
    )


@register(
    "q_docs_shard_manifest",
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
           CAST(bit_xor(h) AS BIGINT) AS digest
    FROM sh GROUP BY shard
    """,
    doc=(
        "Shard verification manifest (operators/profile.shard_manifest, "
        "16 shards): per-shard row count + order-insensitive XOR content "
        "digest under the SAME hash_bucket assignment "
        "write_training_shards lays files out with — a consumer "
        "re-derives this from received files and diffs to catch a "
        "truncated/duplicated/corrupted shard; a post-compaction "
        "re-export is provably content-identical shard by shard. One "
        "map-only hash pass + one shards-sized map-side-combinable "
        "aggregate (XOR and count both commutative — partition- and "
        "order-independent by construction)."
    ),
)
def q_docs_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import shard_manifest

    d = read_table(spark, sf_dir, "documents")
    return shard_manifest(d, "doc_id", ["doc_id", "lang", "source", "n_chars"])


_RANKEVAL_ORACLE = """
WITH qs AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
pairs AS (
  SELECT q.qid, e.vec_id,
         list_sum(list_transform(range(1, len(e.embedding) + 1),
           i -> e.embedding[i]::DOUBLE * q.qv[i]::DOUBLE)) AS dot,
         sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))
           AS na,
         sqrt(list_sum(list_transform(q.qv, x -> x::DOUBLE * x::DOUBLE))) AS nb
  FROM embeddings e, qs q WHERE e.vec_id <> q.qid),
qrels AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid
             ORDER BY round(dot/(na*nb), 4) DESC, vec_id ASC) AS r
    FROM pairs) WHERE r <= 10),
sys AS (
  SELECT qid, vec_id, r AS rank FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid
             ORDER BY round(dot, 4) DESC, vec_id ASC) AS r
    FROM pairs) WHERE r <= 10),
hits AS (
  SELECT s.qid, s.rank,
         CASE WHEN qr.vec_id IS NOT NULL THEN 1 ELSE 0 END AS rel
  FROM sys s LEFT JOIN qrels qr ON qr.qid = s.qid AND qr.vec_id = s.vec_id),
perq AS (
  SELECT qid,
         CAST(sum(rel) AS BIGINT) AS n_hit,
         max(CASE WHEN rel = 1
                  THEN CAST(round(1000000.0 / rank) AS BIGINT)
                  ELSE 0 END) AS best_rr,
         sum(CASE WHEN rel = 1
                  THEN CAST(round(1000000.0 / log2(rank + 1)) AS BIGINT)
                  ELSE 0 END) AS dcg
  FROM hits GROUP BY qid),
ideal AS (
  SELECT CAST(list_sum(list_transform(range(1, 11),
           r -> CAST(round(1000000.0 / log2(r + 1)) AS BIGINT))) AS BIGINT)
         AS idcg)
SELECT qid, CAST(10 AS BIGINT) AS n_rel, n_hit,
       round(CAST(n_hit AS DOUBLE) / 10, 4) AS recall_at_k,
       round(CAST(best_rr AS DOUBLE) / 1000000.0, 4) AS mrr,
       round(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE), 4) AS ndcg
FROM perq, ideal
"""


@register(
    "q_emb_ranking_metrics",
    _RANKEVAL_ORACLE,
    doc=(
        "Retrieval evaluation as a query "
        "(operators/evaluation.ranking_metrics): recall@10 / MRR / "
        "nDCG@10 of an unnormalized dot-product retriever against exact "
        "cosine top-10 ground truth, for 5 query vectors — the metric "
        "trio every retrieval change ships with, distributed (ONE "
        "(qid, doc) equi-join marks hits + one qid aggregate; ranks "
        "come from the systems, no metric-side window). Reciprocal-rank "
        "and DCG terms convert to integer micro-units per row before "
        "summing; nDCG is a ratio of two exact int64 sums — the "
        "round-before-compare rule applied to IR metrics. Both rankings "
        "use round-4dp scores with vec_id tiebreaks, so the top-10 cuts "
        "are total orders on both engines."
    ),
)
def q_emb_ranking_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.evaluation import ranking_metrics
    from ..operators.similarity import cosine

    emb = read_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    pairs = (
        emb.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.aggregate(
                F.zip_with(
                    "embedding", "qv", lambda a, b: a.cast("double") * b
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("dot"),
            cosine(F.col("embedding"), F.col("qv")).alias("cos"),
        )
    )
    wq = Window.partitionBy("qid").orderBy(F.desc("_s"), F.asc("vec_id"))
    qrels = (
        pairs.withColumn("_s", F.round("cos", 4))
        .withColumn("rank", F.row_number().over(wq))
        .filter(F.col("rank") <= 10)
        .select("qid", F.col("vec_id").alias("doc_id"))
    )
    system = (
        pairs.withColumn("_s", F.round("dot", 4))
        .withColumn("rank", F.row_number().over(wq))
        .filter(F.col("rank") <= 10)
        .select("qid", F.col("vec_id").alias("doc_id"), "rank")
    )
    return ranking_metrics(system, qrels, k=10)


@register(
    "q_events_type_hourly_corr",
    """
    WITH hb AS (
      SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS b, event_type,
             round(avg(value), 4) AS hv
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    piv AS (
      SELECT b,
             max(CASE WHEN event_type = 'click' THEN hv END) AS click,
             max(CASE WHEN event_type = 'view' THEN hv END) AS view,
             max(CASE WHEN event_type = 'purchase' THEN hv END) AS purchase
      FROM hb GROUP BY b),
    dn AS (SELECT * FROM piv
           WHERE click IS NOT NULL AND view IS NOT NULL
             AND purchase IS NOT NULL),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(CAST(click AS DECIMAL(38,12))) AS s_c,
             sum(CAST(view AS DECIMAL(38,12))) AS s_v,
             sum(CAST(purchase AS DECIMAL(38,12))) AS s_p,
             sum(CAST(CAST(click AS DECIMAL(38,12)) * CAST(click AS DECIMAL(38,12)) AS DECIMAL(38,12))) AS p_cc,
             sum(CAST(CAST(view AS DECIMAL(38,12)) * CAST(view AS DECIMAL(38,12)) AS DECIMAL(38,12))) AS p_vv,
             sum(CAST(CAST(purchase AS DECIMAL(38,12)) * CAST(purchase AS DECIMAL(38,12)) AS DECIMAL(38,12))) AS p_pp,
             sum(CAST(CAST(click AS DECIMAL(38,12)) * CAST(view AS DECIMAL(38,12)) AS DECIMAL(38,12))) AS p_cv,
             sum(CAST(CAST(click AS DECIMAL(38,12)) * CAST(purchase AS DECIMAL(38,12)) AS DECIMAL(38,12))) AS p_cp,
             sum(CAST(CAST(view AS DECIMAL(38,12)) * CAST(purchase AS DECIMAL(38,12)) AS DECIMAL(38,12))) AS p_vp
      FROM dn),
    pairs(col_a, col_b, sab, sa, sb, saa, sbb) AS (
      SELECT 'click', 'purchase', p_cp, s_c, s_p, p_cc, p_pp FROM m
      UNION ALL SELECT 'click', 'view', p_cv, s_c, s_v, p_cc, p_vv FROM m
      UNION ALL SELECT 'purchase', 'view', p_vp, s_p, s_v, p_pp, p_vv FROM m)
    SELECT col_a, col_b,
           round((m.n::DOUBLE * sab::DOUBLE - sa::DOUBLE * sb::DOUBLE) /
                 nullif(sqrt(m.n::DOUBLE * saa::DOUBLE - sa::DOUBLE * sa::DOUBLE) *
                        sqrt(m.n::DOUBLE * sbb::DOUBLE - sb::DOUBLE * sb::DOUBLE), 0.0), 4)
             AS corr
    FROM pairs, m
    """,
    doc=(
        "Cross-series correlation: do click/view/purchase hourly value "
        "series co-move? Composition of the engine's own operators — "
        "hourly resample (bucket means, deterministic under row order) "
        "-> manual pivot to one row per hour -> operators/stats."
        "corr_matrix's single-pass exact-decimal moment aggregate over "
        "the three series (complete hours only: listwise deletion). "
        "Total: one (bucket,type) aggregate, one bucket pivot "
        "aggregate, one single-row moment aggregate — each map-side "
        "combinable; the correlation divides identical rationals on "
        "both engines, rounded 4dp. Alphabetical pair order matches "
        "corr_matrix's combinations order on the sorted column list."
    ),
)
def q_events_type_hourly_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.dates import epoch_seconds
    from ..operators.stats import corr_matrix

    e = read_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    hb = (
        e.select(
            F.floor(epoch_seconds(F.col("ts")) / 3600).cast("bigint").alias("b"),
            "event_type",
            "value",
        )
        .groupBy("b", "event_type")
        .agg(F.round(F.avg("value"), 4).alias("hv"))
    )
    piv = hb.groupBy("b").agg(
        F.max(F.when(F.col("event_type") == "click", F.col("hv"))).alias("click"),
        F.max(F.when(F.col("event_type") == "view", F.col("hv"))).alias("view"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("hv"))).alias(
            "purchase"
        ),
    )
    return corr_matrix(piv, ["click", "purchase", "view"])


@register(
    "q_part_skyline",
    """
    SELECT p_partkey, round(p_retailprice, 2) AS price,
           CAST(p_size AS BIGINT) AS psize
    FROM part a
    WHERE NOT EXISTS (
      SELECT 1 FROM part b
      WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
        AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))
    """,
    doc=(
        "Skyline / Pareto frontier (operators/skyline.skyline): parts "
        "where no other part is both cheaper-or-equal AND "
        "larger-or-equal (strictly better on one) — multi-criteria "
        "selection without begging the question via a weighted score. "
        "Two-phase distributed skyline: each partition prunes its own "
        "dominated rows in an Arrow sort-sweep kernel (dominance is "
        "transitive, so local losers are global losers), the shuffle "
        "carries only skyline-sized survivors, and one final kernel "
        "pass settles the union. The skyline SET is unique, so no "
        "tie-break is needed. Oracle is the brute-force NOT EXISTS "
        "dominance query — quadratic, which is exactly why the Spark "
        "side prunes locally first."
    ),
)
def q_part_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skyline import skyline

    p = read_table(spark, sf_dir, "part")
    return skyline(
        p.select("p_partkey", "p_retailprice", "p_size"),
        minimize=["p_retailprice"],
        maximize=["p_size"],
    ).select(
        "p_partkey",
        F.round("p_retailprice", 2).alias("price"),
        F.col("p_size").cast("bigint").alias("psize"),
    )


@register(
    "q_graph_personalized_pagerank",
    """
    WITH e AS (
      SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    nodes AS (
      SELECT node,
             CASE WHEN node IN (
               SELECT 'c' || c_custkey FROM customer
               WHERE c_mktsegment = 'BUILDING') THEN 1 ELSE 0 END AS s
      FROM (SELECT src AS node FROM e UNION SELECT dst FROM e)),
    ns AS (SELECT CAST(sum(s) AS DOUBLE) AS n FROM nodes),
    od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
    r0 AS (SELECT node, s,
                  CASE WHEN s = 1 THEN 1.0 / (SELECT n FROM ns) ELSE 0.0 END
                    AS rank
           FROM nodes),
    c1 AS (SELECT e.dst AS node, sum(r.rank / od.outdeg) AS c
           FROM e JOIN od USING (src) JOIN r0 r ON r.node = e.src
           GROUP BY e.dst),
    r1 AS (SELECT nd.node, nd.s,
                  CASE WHEN nd.s = 1 THEN 0.15 / (SELECT n FROM ns)
                       ELSE 0.0 END + 0.85 * coalesce(c1.c, 0) AS rank
           FROM nodes nd LEFT JOIN c1 USING (node)),
    c2 AS (SELECT e.dst AS node, sum(r.rank / od.outdeg) AS c
           FROM e JOIN od USING (src) JOIN r1 r ON r.node = e.src
           GROUP BY e.dst),
    r2 AS (SELECT nd.node, nd.s,
                  CASE WHEN nd.s = 1 THEN 0.15 / (SELECT n FROM ns)
                       ELSE 0.0 END + 0.85 * coalesce(c2.c, 0) AS rank
           FROM nodes nd LEFT JOIN c2 USING (node)),
    c3 AS (SELECT e.dst AS node, sum(r.rank / od.outdeg) AS c
           FROM e JOIN od USING (src) JOIN r2 r ON r.node = e.src
           GROUP BY e.dst),
    r3 AS (SELECT nd.node, nd.s,
                  CASE WHEN nd.s = 1 THEN 0.15 / (SELECT n FROM ns)
                       ELSE 0.0 END + 0.85 * coalesce(c3.c, 0) AS rank
           FROM nodes nd LEFT JOIN c3 USING (node))
    SELECT node, round(rank, 6) AS rank FROM r3 WHERE rank > 0
    """,
    doc=(
        "Personalized PageRank "
        "(operators/pagerank.personalized_pagerank, 3 iterations, "
        "damping 0.85) over the customer->supplier trade graph, teleport "
        "concentrated on BUILDING-segment customers: ranks suppliers by "
        "proximity to that customer cohort — the recommendation/"
        "expansion primitive (seed a user's purchases, rank what to "
        "recommend) vs global centrality. Same per-iteration shuffle "
        "shape as q_graph_pagerank (src join + dst partial-agg); the "
        "seed indicator is one node-keyed join carried as a 0/1 column. "
        "Zero-rank nodes are filtered so the output is the reached "
        "expansion set. Oracle unrolls the 3 iterations with the "
        "identical seeded teleport."
    ),
)
def q_graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pagerank import personalized_pagerank

    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    edges = pairs.select(
        F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
    )
    seeds = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.concat(F.lit("c"), F.col("c_custkey")).alias("node")
    )
    ppr = personalized_pagerank(
        edges, seeds, n_iter=3, damping=0.85, assume_distinct=True
    )
    return ppr.filter(F.col("rank") > 0).select(
        "node", F.round("rank", 6).alias("rank")
    )


@register(
    "q_events_scd2_lookup",
    """
    WITH e AS (
      SELECT user_id, event_type, ts,
             CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts)
                       IS NOT DISTINCT FROM event_type THEN 0 ELSE 1 END AS chg
      FROM events),
    r AS (
      SELECT user_id, event_type, ts,
             sum(chg) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS run
      FROM e),
    g AS (
      SELECT user_id, run, min(event_type) AS attr,
             min(ts) AS valid_from
      FROM r GROUP BY user_id, run),
    dim AS (
      SELECT user_id, attr, valid_from,
             lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
               AS valid_to
      FROM g),
    facts AS (
      SELECT event_id, user_id, ts + INTERVAL 300 SECOND AS fts
      FROM events WHERE event_id % 7 = 0)
    SELECT f.event_id, f.user_id, dim.attr AS attr_asof
    FROM facts f
    LEFT JOIN dim ON dim.user_id = f.user_id
      AND f.fts >= dim.valid_from
      AND (dim.valid_to IS NULL OR f.fts < dim.valid_to)
    """,
    doc=(
        "SCD2 point-in-time lookup (operators/scd.lookup_asof): every "
        "7th event, time-shifted +5 minutes, joined to the event-type "
        "version VALID AT that instant in the user's SCD2 history "
        "(rebuilt by intervals_from_log) — the training-data labeling "
        "join a latest-state lookup gets wrong by silently "
        "time-traveling future attributes onto past facts. Half-open "
        "[valid_from, valid_to) matching: boundary facts take the new "
        "version, versions never double-match. ONE user-keyed equi-join "
        "with the interval predicates riding as join filters (per-key "
        "version counts are change-bounded — no range-join explosion)."
    ),
)
def q_events_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scd import intervals_from_log, lookup_asof

    e = read_table(spark, sf_dir, "events")
    dim = intervals_from_log(e, "user_id", "event_type", "ts").select(
        "user_id",
        F.col("event_type").alias("attr"),
        "valid_from",
        "valid_to",
    )
    facts = e.filter(F.col("event_id") % 7 == 0).select(
        "event_id",
        "user_id",
        (F.col("ts") + F.expr("INTERVAL 300 SECOND")).alias("fts"),
    )
    return lookup_asof(facts, dim, "user_id", "fts").select(
        "event_id", "user_id", "attr_asof"
    )


_MAXCOV_ORACLE = """
WITH tk AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS ts
  FROM documents),
toks AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct(list_transform(range(1, len(ts)),
           i -> ts[i] || ' ' || ts[i+1]))) AS t
  FROM tk WHERE len(ts) >= 2),
g1 AS (SELECT doc_id, count(*) AS gain FROM toks GROUP BY doc_id),
p1 AS (SELECT doc_id, gain FROM g1 ORDER BY gain DESC, doc_id LIMIT 1),
c1 AS (SELECT DISTINCT t FROM toks JOIN p1 USING (doc_id)),
g2 AS (SELECT doc_id, count(*) AS gain FROM toks
       WHERE t NOT IN (SELECT t FROM c1) GROUP BY doc_id),
p2 AS (SELECT doc_id, gain FROM g2 ORDER BY gain DESC, doc_id LIMIT 1),
c2 AS (SELECT t FROM c1 UNION SELECT t FROM toks JOIN p2 USING (doc_id)),
g3 AS (SELECT doc_id, count(*) AS gain FROM toks
       WHERE t NOT IN (SELECT t FROM c2) GROUP BY doc_id),
p3 AS (SELECT doc_id, gain FROM g3 ORDER BY gain DESC, doc_id LIMIT 1),
c3 AS (SELECT t FROM c2 UNION SELECT t FROM toks JOIN p3 USING (doc_id)),
g4 AS (SELECT doc_id, count(*) AS gain FROM toks
       WHERE t NOT IN (SELECT t FROM c3) GROUP BY doc_id),
p4 AS (SELECT doc_id, gain FROM g4 ORDER BY gain DESC, doc_id LIMIT 1),
c4 AS (SELECT t FROM c3 UNION SELECT t FROM toks JOIN p4 USING (doc_id)),
g5 AS (SELECT doc_id, count(*) AS gain FROM toks
       WHERE t NOT IN (SELECT t FROM c4) GROUP BY doc_id),
p5 AS (SELECT doc_id, gain FROM g5 ORDER BY gain DESC, doc_id LIMIT 1)
SELECT * FROM (
  SELECT CAST(1 AS BIGINT) AS pick_order, doc_id, CAST(gain AS BIGINT) AS gain FROM p1
  UNION ALL SELECT 2, doc_id, gain FROM p2
  UNION ALL SELECT 3, doc_id, gain FROM p3
  UNION ALL SELECT 4, doc_id, gain FROM p4
  UNION ALL SELECT 5, doc_id, gain FROM p5)
WHERE gain > 0
"""


@register(
    "q_docs_max_coverage_select",
    _MAXCOV_ORACLE,
    doc=(
        "Greedy maximum-coverage corpus selection "
        "(operators/selection.max_coverage_select, k=5, word bigrams): "
        "pick the 5 documents jointly covering the most distinct "
        "bigrams — the submodular subset objective behind diverse seed "
        "sets and coverage-first curation, with greedy's (1-1/e) "
        "guarantee (Nemhauser et al. 1978). Greedy is inherently "
        "sequential in k, so the driver holds only the loop counter: "
        "per round the covered-token set stays a DataFrame (never "
        "collected — vocabulary-sized at scale), marginal gains are one "
        "anti-join + one doc-keyed count, and the winner is a single "
        "driver row under the (gain DESC, doc_id ASC) total order. "
        "Stops early when gains hit zero (oracle mirrors by filtering "
        "gain>0 from the unrolled rounds)."
    ),
)
def q_docs_max_coverage_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.selection import max_coverage_select

    d = read_table(spark, sf_dir, "documents")
    return max_coverage_select(d, "doc_id", "text", k=5, shingle_width=2)


@register(
    "q_events_pattern_no_error",
    """
    WITH s AS (SELECT user_id, ts FROM events WHERE event_type = 'signup'),
    p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    m AS (
      SELECT s.user_id, s.ts AS s_ts, min(p.ts) AS p_ts
      FROM s JOIN p ON p.user_id = s.user_id
         AND p.ts > s.ts AND p.ts <= s.ts + INTERVAL 24 HOUR
      GROUP BY s.user_id, s.ts),
    c AS (
      SELECT m.user_id,
             CASE WHEN NOT EXISTS (
               SELECT 1 FROM events e
               WHERE e.user_id = m.user_id AND e.event_type = 'error'
                 AND e.ts > m.s_ts AND e.ts < m.p_ts) THEN 1 ELSE 0 END
               AS clean
      FROM m)
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_matches,
           CAST(sum(clean) AS BIGINT) AS n_clean
    FROM c GROUP BY user_id
    """,
    doc=(
        "Complex-event pattern with NEGATION: signup followed by the "
        "EARLIEST purchase within 24h, with no error event strictly "
        "between — the 'A then B within t, without C' shape basic "
        "funnels cannot express (q_events_funnel counts completions; "
        "this one vetoes on an intervening event). Composition of the "
        "engine's join arsenal: a user-keyed time-banded join + min-agg "
        "finds each signup's next purchase (forward as-of), then ONE "
        "anti-join with the interval predicates as join filters applies "
        "the negation — all three stages cluster on user_id, no window. "
        "Oracle states the same pattern declaratively via NOT EXISTS."
    ),
)
def q_events_pattern_no_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events")
    s = e.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("s_ts")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_uid"), F.col("ts").alias("p_ts")
    )
    m = (
        s.join(
            p,
            (F.col("p_uid") == F.col("user_id"))
            & (F.col("p_ts") > F.col("s_ts"))
            & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 24 HOUR")),
        )
        .groupBy("user_id", "s_ts")
        .agg(F.min("p_ts").alias("p_ts"))
    )
    err = e.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_uid"), F.col("ts").alias("e_ts")
    )
    veto = (
        (F.col("e_uid") == F.col("user_id"))
        & (F.col("e_ts") > F.col("s_ts"))
        & (F.col("e_ts") < F.col("p_ts"))
    )
    clean = m.join(err, veto, "left_anti")
    return (
        m.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_matches"))
        .join(
            clean.groupBy("user_id").agg(
                F.count(F.lit(1)).cast("long").alias("n_clean")
            ),
            "user_id",
            "left",
        )
        .select(
            "user_id",
            "n_matches",
            F.coalesce("n_clean", F.lit(0)).cast("long").alias("n_clean"),
        )
    )


@register(
    "q_orders_quarantine",
    """
    WITH v AS (
      SELECT o_orderkey,
             coalesce(array_to_string(list_filter([
               CASE WHEN o_totalprice IS NOT NULL
                         AND (o_totalprice < 1 OR o_totalprice > 200000)
                    THEN 'in_range(o_totalprice)' END,
               CASE WHEN o_orderpriority IS NOT NULL
                         AND NOT regexp_matches(o_orderpriority, '^[1-5]-')
                    THEN 'matches(o_orderpriority)' END,
               CASE WHEN o_custkey IS NULL THEN 'not_null(o_custkey)' END,
               CASE WHEN o_orderstatus IS NOT NULL
                         AND o_orderstatus NOT IN ('O','F','P')
                    THEN 'one_of(o_orderstatus)' END
             ], x -> x IS NOT NULL), ','), '') AS violations
      FROM orders)
    SELECT violations, CAST(count(*) AS BIGINT) AS n_rows
    FROM v GROUP BY violations
    """,
    doc=(
        "Row routing with reasons (operators/quality.quarantine): every "
        "order tagged with the sorted comma-joined names of the rules it "
        "violates (empty = clean) — the actionable half of the "
        "check-audit (q_quality_constraints counts violations; this "
        "splits the rows so the writer lands clean data and a "
        "TRIAGEABLE quarantine table in one pass). Pure row-local "
        "codegen when-chain; the only shuffle here is the audit "
        "aggregation over violation combos. Rule spellings and the "
        "sorted-name order are pinned by the oracle's CASE list, which "
        "is itself in sorted-name order."
    ),
)
def q_orders_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import quality as Q

    o = read_table(spark, sf_dir, "orders")
    tagged = Q.quarantine(
        o,
        [
            Q.not_null("o_custkey"),
            Q.in_range("o_totalprice", 1, 200000),
            Q.one_of("o_orderstatus", ["O", "F", "P"]),
            Q.matches("o_orderpriority", "^[1-5]-"),
        ],
    )
    return tagged.groupBy("violations").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )


@register(
    "q_events_markov_backtest",
    """
    WITH seq AS (
      SELECT user_id, ts, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events),
    train AS (
      SELECT prev, event_type, count(*) AS n FROM seq
      WHERE prev IS NOT NULL AND ts < TIMESTAMP '2024-01-22' GROUP BY 1, 2),
    model AS (
      SELECT prev, event_type AS pred FROM (
        SELECT prev, event_type, row_number() OVER (
          PARTITION BY prev ORDER BY n DESC, event_type ASC) AS rn
        FROM train) WHERE rn = 1),
    test AS (
      SELECT s.prev, s.event_type FROM seq s
      WHERE s.prev IS NOT NULL AND s.ts >= TIMESTAMP '2024-01-22')
    SELECT t.prev, CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN m.pred = t.event_type THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct
    FROM test t LEFT JOIN model m ON m.prev = t.prev
    GROUP BY t.prev
    """,
    doc=(
        "Markov next-event prediction backtest: first-order transition "
        "argmax trained on the first three weeks (ties to the "
        "alphabetically-first type — total order), scored on the final "
        "week, per previous-state accuracy — completing the "
        "model-eval-as-query family (AUC, calibration, ranking metrics, "
        "seasonal baseline) with the sequence-model case. The lag "
        "window orders by (ts, event_id) so simultaneous events cannot "
        "flip the sequence between engines. One user-keyed lag window, "
        "one |types|²-sized train aggregate, a broadcast model join, "
        "one test aggregate."
    ),
)
def q_events_markov_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id", "ts", "event_type", F.lag("event_type").over(w).alias("prev")
    ).filter(F.col("prev").isNotNull())
    cut = F.lit("2024-01-22").cast("timestamp")
    train = (
        seq.filter(F.col("ts") < cut)
        .groupBy("prev", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wm = Window.partitionBy("prev").orderBy(F.desc("n"), F.asc("event_type"))
    model = (
        train.withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") == 1)
        .select("prev", F.col("event_type").alias("pred"))
    )
    test = seq.filter(F.col("ts") >= cut)
    return (
        test.join(F.broadcast(model), "prev", "left")
        .groupBy("prev")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.coalesce(
                F.sum((F.col("pred") == F.col("event_type")).cast("long")),
                F.lit(0),
            )
            .cast("long")
            .alias("n_correct"),
        )
    )


@register(
    "q_customer_k_anonymity",
    """
    WITH classes AS (
      SELECT c_nationkey, c_mktsegment, count(*) AS sz,
             count(DISTINCT CASE WHEN c_acctbal > 5000 THEN 'hi'
                                 ELSE 'lo' END) AS l
      FROM customer GROUP BY c_nationkey, c_mktsegment)
    SELECT CAST(least(sz, 5) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(sz) AS BIGINT) AS n_rows,
           min(sz) < 5 AS below_k,
           CAST(min(l) AS BIGINT) AS min_l
    FROM classes GROUP BY least(sz, 5)
    """,
    doc=(
        "k-anonymity / l-diversity audit "
        "(operators/privacy.k_anonymity_audit, k=5): customers bucketed "
        "by (nation, segment) quasi-identifier equivalence-class size — "
        "classes below k are re-identification violations (Sweeney "
        "2002), and min_l reports the weakest l-diversity over a binary "
        "account-balance sensitive attribute (a k-large class where "
        "everyone shares the sensitive value still leaks it). ONE "
        "corpus scan: a QI-tuple groupBy (map-side combinable) + a "
        "class-table bucket aggregate — the release-decision histogram "
        "at any table size. Pseudonymization of direct identifiers is "
        "the row-local complement (operators/privacy.pseudonymize, "
        "pytest-pinned: keyed, join-stable, NULL-preserving)."
    ),
)
def q_customer_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.privacy import k_anonymity_audit

    c = read_table(spark, sf_dir, "customer").withColumn(
        "bal_band", F.when(F.col("c_acctbal") > 5000, "hi").otherwise("lo")
    )
    return k_anonymity_audit(
        c, ["c_nationkey", "c_mktsegment"], sensitive_col="bal_band", k=5
    )


@register(
    "q_events_theil_sen",
    """
    WITH pts AS (
      SELECT user_id AS k, CAST(floor(epoch(ts)) AS BIGINT) AS t,
             CAST(value AS DOUBLE) AS v
      FROM events WHERE value IS NOT NULL),
    pairs AS (
      SELECT a.k,
             CAST(round((b.v - a.v) / CAST(b.t - a.t AS DOUBLE) * 1e9)
                  AS BIGINT) AS s
      FROM pts a JOIN pts b ON a.k = b.k AND b.t > a.t),
    med AS (
      SELECT k, CAST(count(*) AS BIGINT) AS n_pairs,
             round(median(s) / 1e9, 6) + 0.0 AS slope
      FROM pairs GROUP BY k),
    cnt AS (SELECT k, CAST(count(*) AS BIGINT) AS n_points FROM pts GROUP BY k)
    SELECT med.k AS user_id, cnt.n_points, med.n_pairs, med.slope
    FROM med JOIN cnt USING (k)
    """,
    doc=(
        "Per-user Theil-Sen slope (operators/timeseries.theil_sen_trend): "
        "median of all pairwise slopes — robust to ~29% contamination "
        "where one wild outlier drags the OLS slope "
        "(q_events_user_trend's groupwise_trend) arbitrarily. The "
        "quadratic lives INSIDE each user's partition (one key-clustered "
        "self-join; per-key history length is the bill, with "
        "sample_n_per_group as the documented cut for heavy keys), then "
        "one grouped exact median. Timestamps truncate to whole epoch "
        "seconds on both engines (unix_timestamp vs floor(epoch)), "
        "equal-second pairs are excluded identically, and both engines "
        "take the median over integer NANO-slopes, so even-count "
        "interpolation is an exact half, never an ulp race."
    ),
)
def q_events_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import theil_sen_trend

    e = read_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return theil_sen_trend(e, "user_id", "ts", "value")


@register(
    "q_media_audio_match",
    """
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, TRUE AS strong
    FROM documents a JOIN documents b
      ON a.doc_id < b.doc_id AND a.doc_id % 10 = b.doc_id % 10
    WHERE a.doc_id < 50 AND b.doc_id < 50
    """,
    doc=(
        "Constellation audio matching through the driver gate "
        "(operators/multimodal.wav_fingerprints + fingerprint_matches): "
        "each of 50 docs gets a synthesized 4-tone PCM melody whose "
        "bins depend only on doc_id%10 — clips in the same group are "
        "identical recordings, and the groups use DISJOINT bin sets "
        "(20+g, 40+g, 60+g, 80+g), so cross-group landmark hashes "
        "cannot collide — peaks_per_frame=1 keeps only the dominant "
        "tone bin per frame, so noise bins never enter a hash. The "
        "match set at min_shared=10 is therefore EXACTLY the "
        "within-group pairs — analytically oracle-able with no FFT in "
        "DuckDB (the wav_spectrum bin-alignment trick extended to "
        "hash-set matching); the strong boolean pins n_shared >= 10."
    ),
)
def q_media_audio_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math
    from collections.abc import Iterator

    import pandas as pd

    from ..operators.multimodal import (
        fingerprint_matches,
        wav_encode_pcm16,
        wav_fingerprints,
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        frame, rate = 256, 8000
        for b in batches:
            payloads = []
            for did in b["doc_id"]:
                g = int(did) % 10
                samples: list[int] = []
                for k in (20 + g, 40 + g, 60 + g, 80 + g):
                    f = k * rate / frame
                    samples += [
                        int(round(20000 * math.sin(2 * math.pi * f * i / rate)))
                        for i in range(frame * 4)
                    ]
                payloads.append(wav_encode_pcm16(samples, rate=rate))
            yield pd.DataFrame({"asset_id": b["doc_id"], "payload": payloads})

    d = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50).select(
        "doc_id"
    )
    media = d.mapInPandas(synth, "asset_id bigint, payload binary")
    # peaks_per_frame=1 keeps ONLY the dominant tone bin per frame, so
    # every landmark hash is built from the group's disjoint tone bins —
    # quantization-noise bins (rank 2+) never enter a hash and the
    # cross-group-disjointness argument holds unconditionally
    fp = wav_fingerprints(media, peaks_per_frame=1)
    return fingerprint_matches(fp, min_shared=10).select(
        "id_a", "id_b", (F.col("n_shared") >= 10).alias("strong")
    )


@register(
    "q_orders_filterspec",
    """
    SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS price
    FROM orders
    WHERE (o_orderstatus IN ('O', 'F'))
      AND (o_totalprice BETWEEN 1000 AND 150000)
      AND NOT (o_orderpriority LIKE '5-%')
      AND o_orderdate IS NOT NULL
    """,
    doc=(
        "Config-driven filtering (functions/filterspec.compile_filter): "
        "a nested JSON-able spec — and/or/not over eq/in/like/between/"
        "null leaves — compiles to ONE Catalyst boolean column, so the "
        "whole release-config filter stays in whole-stage codegen and "
        "pushes into the parquet scan like hand-written predicates "
        "(pinned: PushedFilters carries the status/price bounds). The "
        "reference hardcodes its WHERE clauses; here the filter is "
        "reviewable DATA. Unknown ops raise at compile time — a config "
        "typo must fail loudly, never silently keep everything."
    ),
)
def q_orders_filterspec(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.filterspec import compile_filter

    spec = {
        "and": [
            {"col": "o_orderstatus", "op": "in", "value": ["O", "F"]},
            {"col": "o_totalprice", "op": "between", "value": [1000, 150000]},
            {"not": {"col": "o_orderpriority", "op": "like", "value": "5-%"}},
            {"col": "o_orderdate", "op": "notnull"},
        ]
    }
    o = read_table(spark, sf_dir, "orders")
    return o.filter(compile_filter(spec)).select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("price")
    )
