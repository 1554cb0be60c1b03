"""Lexical retrieval over the document corpus: BM25 scoring / top-k.

Extension layer (no reference counterpart). Complements the embedding ANN
stack in ``operators/similarity.py``: dense retrieval finds semantic
neighbors, BM25 finds exact-term matches — training-data pipelines use
both (e.g. retrieving eval-adjacent documents for decontamination review,
or sourcing domain-specific subsets by keyword).

Scale shape (the part that matters at 100 TB):
- The corpus is scanned ONCE; the per-document token array is built
  map-side and immediately reduced to ``(doc_id, token, tf, dl)`` for the
  handful of query terms — everything else is discarded before any
  shuffle. The term filter is an ``isin`` over a literal list, so it is
  codegen'd and pushes nothing wide.
- Corpus stats (N, avgdl) are one tiny aggregate; document frequencies of
  the query terms are a second tiny aggregate — both end up broadcast.
  The only shuffle of document-proportional data is the final
  ``groupBy(doc_id)`` over rows already restricted to query-term matches.
- Top-k is ``orderBy(...).limit(k)`` → ``TakeOrderedAndProject`` (per
  partition heap + driver merge), never a global sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import word_tokens


def bm25_topk(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_tokens: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 top-k: ``(doc_id, n_matched_terms, score)``.

    ``score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))``
    with the Robertson-Sparck-Jones idf ``ln(1 + (N − df + 0.5)/(df + 0.5))``
    (always positive). Scores are rounded to 4 dp and the ordering ties
    break on ``doc_id`` so the top-k cut is total and engine-independent.

    Only documents matching ≥1 query term are scored (BM25 gives
    non-matches score 0; they can never enter the top-k above a match).
    """
    if not query_tokens:
        raise ValueError("bm25_topk: query_tokens must be non-empty")
    q = sorted({t.lower() for t in query_tokens})

    toks = df.select(
        F.col(id_col).alias("_id"), word_tokens(F.col(text_col)).alias("_toks")
    )
    dl = toks.select("_id", F.size("_toks").alias("_dl"))
    # N and avgdl over the WHOLE corpus (not just matches) — one scalar row.
    stats = dl.agg(
        F.count(F.lit(1)).alias("_n"), F.avg("_dl").alias("_avgdl")
    )
    # (doc, term) term frequencies, restricted to the query terms before the
    # shuffle; _dl rides along (constant per doc).
    tf = (
        toks.select("_id", F.size("_toks").alias("_dl"), F.explode("_toks").alias("_t"))
        .filter(F.col("_t").isin(q))
        .groupBy("_id", "_t")
        .agg(F.count(F.lit(1)).alias("_tf"), F.max("_dl").alias("_dl"))
    )
    dfreq = tf.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))
    scored = (
        tf.join(F.broadcast(dfreq), "_t")
        .crossJoin(F.broadcast(stats))
        .select(
            "_id",
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("_n") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
                )
                * (F.col("_tf") * (k1 + 1))
                / (
                    F.col("_tf")
                    + k1 * (1 - b + b * F.col("_dl") / F.col("_avgdl"))
                )
            ).alias("_s"),
        )
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_matched_terms"),
            F.round(F.sum("_s"), 4).alias("score"),
        )
    )
    return (
        scored.select(F.col("_id").alias(id_col), "n_matched_terms", "score")
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


#: Default ABSOLUTE posting-list cap (documents per term) when the
#: caller specifies no cap at all. A sentinel (not the plain default)
#: so that a caller passing ONLY ``max_df_frac`` gets exactly the
#: relative cap they asked for — before ADVICE r11 the absolute
#: default silently combined with an explicit fractional cap.
_MAX_DF_DEFAULT = 1000
_MAX_DF_UNSET = object()


def tfidf_knn_graph(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    max_df: "int | None" = _MAX_DF_UNSET,  # type: ignore[assignment]
    max_df_frac: float | None = None,
    ngram: int = 1,
    round_digits: int = 4,
) -> DataFrame:
    """Lexical k-nearest-neighbor graph over TF-IDF vectors — the sparse
    complement of the dense ANN stack (``operators/similarity``), and the
    standard backbone for cluster-then-curate corpus workflows.

    Per document, the ``k`` most-cosine-similar other documents under
    smoothed TF-IDF weights ``w = tf · (ln((1+N)/(1+df)) + 1)`` (sklearn's
    smooth-idf), cosine over the kept-term weight vectors; terms are
    ``ngram``-token shingles (``ngram > 1`` is the useful setting on
    small-vocabulary corpora, where unigram df ≈ N makes every vector
    point the same way). Returns ``(doc_id, neighbor_id, cos, rank)``
    with ``rank`` 1-based per doc; ties break on ``neighbor_id`` so the
    cut is total. Documents whose every term is df-capped away have a
    zero vector and simply emit no rows.

    Scale shape — the whole computation is posting-list joins, never a
    doc×doc product:

    1. One corpus scan → ``(doc, token, tf)`` (map-side combinable
       groupBy — shuffle #1, token/doc-keyed).
    2. Token document frequencies reduce FROM tf (tiny, vocab-sized).
       Tokens with ``df > cap`` are DROPPED before any pairing — the
       posting-list cap. This is the 100 TB control: pair volume is
       ``Σ_t df(t)²`` which one stopword ("the", df≈N) turns into N².
       The DEFAULT cap is ABSOLUTE (``max_df`` documents per posting
       list), which bounds pair volume at ``max_df · Σ_t kept df(t)``
       ≤ ``max_df × corpus token mass`` — LINEAR in the corpus at a
       fixed cap. A RELATIVE cap (``max_df_frac``, the pre-round-11
       default) lets kept posting lists lengthen with N, so pair
       volume grows ~cap_frac·N per token — MEASURED superlinear
       (SCALE_PROBE ``tfidf_knn`` slope 1.5 at 10× under the old
       relative default); it remains available for small-corpus
       exploration. Cap resolution: passing ONLY ``max_df_frac``
       uses the fractional cap alone (the absolute default does NOT
       silently combine with it — ADVICE r11); passing both EXPLICIT
       caps takes the tighter; ``max_df=None`` explicitly disables
       the absolute cap (the exact-twin spelling).
       The truncation cost of the absolute cap is not asserted — it is
       gated: ``q_docs_tfidf_knn_cap_agreement`` measures the edge-set
       Jaccard between capped and uncapped graphs on a bounded
       sub-corpus (the transitivity capped+exact+agreement pattern).
       (Dropping ubiquitous tokens barely moves cosine — their idf
       ≈ ln(1)+1 is the floor; this is the trade every sparse-KNN
       system ships.)
    3. Pair dot-products via self-equi-join on token + groupBy(id_a,
       id_b) — shuffle is pair-keyed partial-aggregated rows, and the
       join itself is a hash/SMJ equi-join on the token key.
    4. Norms are per-doc aggregates over kept tokens (so dropped tokens
       are consistently absent from BOTH numerator and denominator);
       unordered pairs are computed once (``id_a < id_b``) and mirrored
       AFTER the aggregate — the mirror doubles only the small pair
       relation, not the posting join.
    5. Top-k per doc is one row_number window on the pair relation,
       clustered on the source doc key.
    """
    if ngram < 1:
        raise ValueError("tfidf_knn_graph: ngram must be >= 1")
    warr = word_tokens(F.col(text_col))
    if ngram == 1:
        terms = warr
    else:
        # shingles built ROW-LOCALLY (codegen transform over sequence,
        # same shape as operators/spans) — no corpus-sized re-explode
        terms = F.when(
            F.size(warr) >= ngram,
            F.transform(
                F.sequence(F.lit(1), F.size(warr) - ngram + 1),
                lambda i: F.concat_ws(
                    " ", F.slice(warr, i, ngram)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
    from ..sources.lake import spread_scan

    # r13: tokenize/shingle+explode is heavy row-local work; a single-
    # row-group scan runs it all on one core (guide §2.5 input skew).
    # No-op on multi-split inputs; groupBy counts are layout-invariant.
    toks = spread_scan(df.select(id_col, text_col)).select(
        F.col(id_col).alias("_id"), F.explode(terms).alias("_t")
    )
    n_docs = df.count()  # scalar N for idf — one count, not collected per row
    if max_df is _MAX_DF_UNSET:
        # no explicit absolute cap: the absolute default applies ONLY
        # when no relative cap was requested either (ADVICE r11 — an
        # explicit max_df_frac must not be silently tightened by an
        # unrelated default); max_df=None explicitly means UNCAPPED
        max_df = None if max_df_frac is not None else _MAX_DF_DEFAULT
    caps = [c for c in (
        max_df,
        None if max_df_frac is None else int(max_df_frac * n_docs),
    ) if c is not None]
    cap = min(caps) if caps else None
    # r13: persisted — ``tf`` feeds the df-count aggregate AND (via the
    # idf join) the weight table; without it the corpus scan + tokenize
    # + tf shuffle execute once per consumer (the _before plan carried
    # 18 parquet scans for ONE knn invocation). Same size class as the
    # existing ``w`` persist below (token-mass rows, MEMORY_AND_DISK).
    tf = toks.groupBy("_id", "_t").agg(F.count(F.lit(1)).alias("_tf")).persist()
    dfreq = tf.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))
    if cap is not None:
        dfreq = dfreq.filter(F.col("_df") <= cap)
    # persisted: the posting relation feeds the norm aggregate AND both
    # sides of the pair join — without it the corpus scan + tf shuffle
    # replays 3x (a token-mass-sized cache, not a corpus-sized one;
    # MEMORY_AND_DISK spills rather than OOMs at scale)
    w = (
        tf.join(F.broadcast(dfreq), "_t")
        .select(
            "_id",
            "_t",
            (
                F.col("_tf")
                * (F.log(F.lit(1.0 + n_docs) / (F.lit(1.0) + F.col("_df"))) + 1.0)
            ).alias("_w"),
        )
        .persist()
    )
    norms = w.groupBy("_id").agg(F.sqrt(F.sum(F.col("_w") * F.col("_w"))).alias("_n"))
    a = w.select(F.col("_id").alias("id_a"), "_t", F.col("_w").alias("_wa"))
    b = w.select(F.col("_id").alias("id_b"), "_t", F.col("_w").alias("_wb"))
    dots = (
        a.join(b, "_t")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("_wa") * F.col("_wb")).alias("_dot"))
    )
    cosp = (
        dots.join(norms.withColumnRenamed("_id", "id_a").withColumnRenamed("_n", "_na"), "id_a")
        .join(norms.withColumnRenamed("_id", "id_b").withColumnRenamed("_n", "_nb"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("_dot") / (F.col("_na") * F.col("_nb")), round_digits).alias(
                "cos"
            ),
        )
        # r13: the mirror union below references ``cosp`` twice; without
        # a persist the posting self-join + both norm joins execute once
        # per direction. Pair-relation sized (≤ cap · token mass rows).
        .persist()
    )
    mirrored = cosp.unionByName(
        cosp.select(
            F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"), "cos"
        )
    )
    win = Window.partitionBy("id_a").orderBy(F.desc("cos"), F.asc("id_b"))
    return (
        mirrored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(
            F.col("id_a").alias(id_col),
            F.col("id_b").alias("neighbor_id"),
            "cos",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def inverted_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_df: int = 1,
    shard_size: int = 1000,
) -> DataFrame:
    """Build sharded posting lists: one row per ``(token, shard)`` with
    ``(df_total, cf_total, n_postings, postings)`` where ``postings`` is
    the comma-joined ``doc:tf`` list sorted by doc id — the on-disk
    layout of a lexical search index, produced as a plain table.

    Sharding is the 100 TB answer to the stopword problem: a frequent
    token's posting list is millions of ids — as ONE collect_list row it
    is a straggler and an OOM. Splitting every ``shard_size`` postings
    (by doc-id rank, so shards are contiguous id ranges, mergeable by
    concatenation) bounds each output row; df/cf totals ride along on
    every shard so consumers never need a second pass. The doc-rank
    window and the per-shard aggregation both cluster on the token key —
    one logical repartition; tf counting is map-side combinable.
    """
    tf = (
        df.select(
            F.col(id_col).alias("_id"),
            F.explode(word_tokens(F.col(text_col))).alias("_t"),
        )
        .groupBy("_t", "_id")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )
    w = Window.partitionBy("_t").orderBy("_id")
    stats = Window.partitionBy("_t")
    return (
        tf.select(
            "_t",
            "_id",
            "_tf",
            F.floor((F.row_number().over(w) - 1) / shard_size).alias("shard"),
            F.count(F.lit(1)).over(stats).alias("df_total"),
            F.sum("_tf").over(stats).alias("cf_total"),
        )
        .filter(F.col("df_total") >= min_df)
        .groupBy(F.col("_t").alias("token"), "shard", "df_total", "cf_total")
        .agg(
            F.count(F.lit(1)).alias("n_postings"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_id", "_tf"))),
                    lambda s: F.concat_ws(
                        ":",
                        s["_id"].cast("string"),
                        s["_tf"].cast("string"),
                    ),
                ),
                ",",
            ).alias("postings"),
        )
    )


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str,
    k_rrf: int = 60,
    topk: int = 10,
    round_digits: int = 6,
) -> DataFrame:
    """Reciprocal-rank fusion of N result lists — the standard hybrid-
    search combiner (Cormack et al., SIGIR 2009): each input carries
    ``(id_col, rank)`` (1-based, from any retriever — BM25, dense ANN,
    ...) and a document's fused score is ``Σ_lists 1/(k_rrf + rank)``,
    absent lists contributing 0. Returns the fused top-``topk`` as
    ``(id_col, rrf_score, n_sources)`` with the (score desc, id asc)
    total order.

    RRF is the production answer to score-scale mismatch: BM25 scores
    and cosines are incomparable, ranks always are. Scale shape: the
    inputs are already top-k lists (KB-sized however big the corpus), so
    fusion is a union + one groupBy on the id — negligible next to the
    retrievers; determinism comes from integer ranks (each retriever
    already breaks ties totally) and a ``round_digits`` quantization of
    the tiny reciprocal sums.
    """
    if not rankings:
        raise ValueError("rrf_fuse: need at least one ranking")
    tagged = None
    for r in rankings:
        part = r.select(F.col(id_col).alias("_id"), F.col("rank").alias("_r"))
        tagged = part if tagged is None else tagged.unionByName(part)
    fused = (
        tagged.groupBy("_id")
        .agg(
            F.round(
                F.sum(F.lit(1.0) / (F.lit(float(k_rrf)) + F.col("_r"))),
                round_digits,
            ).alias("rrf_score"),
            F.count(F.lit(1)).cast("bigint").alias("n_sources"),
        )
        .orderBy(F.desc("rrf_score"), F.asc("_id"))
        .limit(topk)
    )
    return fused.select(F.col("_id").alias(id_col), "rrf_score", "n_sources")
