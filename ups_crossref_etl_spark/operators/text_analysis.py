"""Text analysis operators: language ID, quality scoring, token counting,
document fingerprinting. Extension layer (no reference counterpart); all
JVM-side Column expressions — regex + higher-order array functions, no UDFs
(one documented exception: ``char_entropy``'s Arrow map pass — its per-doc
histogram is row-local semantics builtins could only express by exploding
the corpus per character).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import word_tokens

# Stopword marker lists per language for the n-gram/stopword heuristic.
# Deliberately tiny + deterministic; the operator contract is the scoring
# scheme, not lexicon quality (swap in a real lexicon at deploy time).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "los", "del", "las"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den"],
    "fr": ["le", "la", "les", "des", "est", "dans", "pour", "une"],
}


def _marker_pattern(words: list[str]) -> str:
    return r"\b(" + "|".join(words) + r")\b"


def marker_hits(text_col: Column, lang: str) -> Column:
    """Count of stopword-marker matches for one language."""
    return F.size(F.regexp_extract_all(F.lower(text_col), F.lit(_marker_pattern(LANG_MARKERS[lang])), F.lit(0)))


def detect_language(text_col: Column, default: str = "und") -> Column:
    """Heuristic language ID: argmax of marker hits; ties broken by fixed
    language order (en, es, de, fr); 0 hits everywhere → ``default``."""
    langs = list(LANG_MARKERS)
    hits = {lg: marker_hits(text_col, lg) for lg in langs}
    best = F.greatest(*hits.values())
    expr = F.lit(default)
    for lg in reversed(langs):  # earlier langs win ties → apply last
        expr = F.when((hits[lg] == best) & (best > 0), F.lit(lg)).otherwise(expr)
    return expr


def token_count(text_col: Column) -> Column:
    """Whitespace token count; 0 for empty/blank text."""
    t = F.trim(text_col)
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def bpe_ish_token_count(text_col: Column) -> Column:
    """BPE-ish subword proxy: count of letter-runs, digit-runs, and
    punctuation singletons (a cheap upper-bound estimator used for
    budgeting, not a real tokenizer)."""
    return F.size(
        F.regexp_extract_all(text_col, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), F.lit(0))
    )


def quality_features(text_col: Column) -> dict[str, Column]:
    """Quality-scoring features per document (all deterministic ratios):
    chars, tokens, mean token length, punctuation ratio, digit ratio,
    uppercase ratio, stopword ratio (en markers)."""
    n_chars = F.length(text_col)
    n_tok = token_count(text_col)
    n_punct = F.length(F.regexp_replace(text_col, r"[^.,;:!?'\"()-]", ""))
    n_digit = F.length(F.regexp_replace(text_col, r"[^0-9]", ""))
    n_upper = F.length(F.regexp_replace(text_col, r"[^A-Z]", ""))
    n_stop = marker_hits(text_col, "en")
    nz = F.when(n_chars > 0, n_chars.cast("double"))  # null-div guard
    nzt = F.when(n_tok > 0, n_tok.cast("double"))
    return {
        "n_chars": n_chars.cast("bigint"),
        "n_tokens": n_tok.cast("bigint"),
        "mean_token_len": F.round(
            (n_chars - (n_tok - F.lit(1))).cast("double") / nzt, 4
        ),
        "punct_ratio": F.round(n_punct / nz, 4),
        "digit_ratio": F.round(n_digit / nz, 4),
        "upper_ratio": F.round(n_upper / nz, 4),
        "stopword_ratio": F.round(n_stop / nzt, 4),
    }


def quality_score(text_col: Column) -> Column:
    """Scalar quality score in [0,1]: rewards stopword presence and sane
    token lengths, penalizes punctuation/digit soup. Deterministic and
    monotone in its features — a filterable proxy, not a model."""
    f = quality_features(text_col)
    score = (
        F.lit(0.25) * F.least(F.coalesce(f["stopword_ratio"], F.lit(0.0)) * 4, F.lit(1.0))
        + F.lit(0.25) * F.when(f["mean_token_len"].between(3, 10), 1.0).otherwise(0.0)
        + F.lit(0.25) * (1 - F.least(F.coalesce(f["punct_ratio"], F.lit(0.0)) * 5, F.lit(1.0)))
        + F.lit(0.25) * (1 - F.least(F.coalesce(f["digit_ratio"], F.lit(0.0)) * 5, F.lit(1.0)))
    )
    return F.round(score, 4)


def fingerprint(
    text_col: Column,
    mod: int = 2_147_483_647,
    base: int = 31,
    token_hash: str = "xxhash64",
) -> Column:
    """Polynomial rolling-hash fingerprint over lowercased word tokens:
    ``h = (h*base + tokhash(token) mod mod) mod mod`` folded left.
    Order-sensitive (unlike a bag-of-words hash).

    ``token_hash``: ``"xxhash64"`` (default — fastest, JVM-native, but
    Spark-specific) or ``"md5_48"`` (first 48 bits of md5, which DuckDB
    reproduces as ``CAST('0x' || substr(md5(t),1,12) AS BIGINT)`` — the
    oracle-checkable variant; same rolling structure, ~2× the per-token
    hash cost). All arithmetic stays below 2^36 so bigint never wraps:
    acc < mod ≈ 2^31, acc*31 + tokhash%mod < 2^36 + 2^31.
    """
    toks = word_tokens(text_col)
    if token_hash == "md5_48":
        def th(t: Column) -> Column:
            return F.conv(F.substring(F.md5(t), 1, 12), 16, 10).cast("bigint")
    else:
        def th(t: Column) -> Column:
            return F.xxhash64(t)
    return F.aggregate(
        toks,
        F.lit(0).cast("bigint"),
        lambda acc, t: (acc * base + F.pmod(th(t), F.lit(mod))) % F.lit(mod),
    )


# --------------------------------------------------------------------------
# Corpus vocabulary (tokenizer/BPE prep)
# --------------------------------------------------------------------------


def token_frequencies(
    df: DataFrame, text_col: str, id_col: str, exact_doc_freq: bool = True
) -> DataFrame:
    """Corpus-level term statistics — the input to vocabulary building /
    BPE training and to IDF weighting: ``(token, n_occurrences, n_docs)``
    over lowercased word tokens.

    Scale shape: explode → ONE groupBy(token) with map-side partial
    aggregation; the shuffle carries (token, partial counts), never text.
    Exact document frequency adds the standard two-phase distinct
    expansion; at 100 TB pass ``exact_doc_freq=False`` to use
    ``approx_count_distinct`` (HLL, single-phase, ~2% error) — term
    frequencies stay exact either way."""
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(word_tokens(F.col(text_col))).alias("token"),
    )
    doc_freq = (
        F.count_distinct("_id") if exact_doc_freq else F.approx_count_distinct("_id")
    )
    return toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        doc_freq.alias("n_docs"),
    )


def top_vocab(
    df: DataFrame, text_col: str, id_col: str, k: int = 1000
) -> DataFrame:
    """Top-k vocabulary by term frequency with a TOTAL tiebreak
    (count desc, token asc) so the cut boundary is deterministic across
    runs/engines. Planned as TakeOrderedAndProject over the aggregated
    term table — no global sort of the full vocabulary."""
    return (
        token_frequencies(df, text_col, id_col)
        .orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(k)
    )


# --------------------------------------------------------------------------
# Unigram language-model scoring (CCNet-style perplexity filtering)
# --------------------------------------------------------------------------


def unigram_nll(
    df: DataFrame, text_col: str, id_col: str, freq: DataFrame | None = None
) -> DataFrame:
    """Per-document average negative log-likelihood under a Laplace-smoothed
    corpus unigram model — the cheap seam of CCNet-style perplexity
    filtering (docs with high NLL are off-distribution / junk; a real
    deployment swaps the unigram model for KenLM scores, same plan shape).

    ``p(t) = (c(t)+1) / (T+V)``; ``nll(d) = Σ_t tf·(−ln p(t)) / Σ_t tf``
    (rounded to 4 dp). Returns ``(id_col, n_tokens, nll)`` for documents
    with ≥1 token.

    ``freq``: optional precomputed :func:`token_frequencies` output, so a
    persisted corpus model is scored against once instead of recomputed per
    batch (same hook pattern as ``dedup.incremental_dedup``'s precomputed
    corpus state).

    Scale shape: the model is one groupBy(token) aggregate; its scalar
    stats (T, V) are a broadcast row. Scoring joins per-(doc,token) term
    frequencies against the model on ``token`` — both sides come out of a
    groupBy(token)-compatible partitioning, and the model side is
    vocabulary-sized (≪ corpus), broadcast when small. The final
    groupBy(doc) shuffles only (doc, tf, weight) rows, never text.
    """
    if freq is None:
        freq = token_frequencies(df, text_col, id_col, exact_doc_freq=False)
    model_stats = freq.agg(
        F.sum("n_occurrences").alias("_T"), F.count(F.lit(1)).alias("_V")
    )
    weights = freq.crossJoin(F.broadcast(model_stats)).select(
        "token",
        F.log(
            (F.col("_T") + F.col("_V")) / (F.col("n_occurrences") + F.lit(1))
        ).alias("_w"),
    )
    tf = (
        df.select(
            F.col(id_col).alias("_id"),
            F.explode(word_tokens(F.col(text_col))).alias("token"),
        )
        .groupBy("_id", "token")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )
    return (
        tf.join(weights, "token")
        .groupBy("_id")
        .agg(
            F.sum("_tf").cast("bigint").alias("n_tokens"),
            F.round(
                F.sum(F.col("_tf") * F.col("_w")) / F.sum("_tf"), 4
            ).alias("nll"),
        )
        .select(F.col("_id").alias(id_col), "n_tokens", "nll")
    )


def bigram_nll(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document average negative log-likelihood under a Laplace-
    smoothed corpus BIGRAM model — one modeling step up from
    :func:`unigram_nll` toward CCNet/KenLM perplexity filtering (a real
    deployment swaps in KenLM scores; the plan shape is identical).

    ``p(w2|w1) = (c(w1,w2)+1) / (c(w1)+V)``;
    ``nll(d) = Σ tf·(−ln p) / Σ tf`` over the document's adjacent-pair
    occurrences (rounded 4 dp). Returns ``(id_col, n_bigrams, nll)`` for
    documents with ≥ 2 tokens.

    Scale shape: bigrams are generated row-locally (codegen ``transform``
    over a ``sequence`` — no corpus-sized window function), the model is
    one groupBy(w1,w2) aggregate joined to the unigram context counts on
    ``w1`` (vocabulary-sized), V is a broadcast scalar, and the scoring
    join + final groupBy(doc) shuffle (doc, tf, weight) rows, never text.
    """
    toks = word_tokens(F.col(text_col))
    base = df.select(F.col(id_col).alias("_id"), toks.alias("_t")).withColumn(
        "_n", F.size("_t")
    )
    uni = (
        base.select(F.explode("_t").alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("_c1"))
    )
    vocab = uni.agg(F.count(F.lit(1)).alias("_V"))
    bi = base.filter(F.col("_n") >= 2).select(
        "_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("_n") - 1),
                lambda i: F.struct(
                    F.element_at("_t", i).alias("w1"),
                    F.element_at("_t", i + 1).alias("w2"),
                ),
            )
        ).alias("_b"),
    ).select("_id", F.col("_b.w1").alias("w1"), F.col("_b.w2").alias("w2"))
    model = (
        bi.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("_c2"))
        .join(uni, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            F.log((F.col("_c1") + F.col("_V")) / (F.col("_c2") + F.lit(1))).alias(
                "_w"
            ),
        )
    )
    tf = bi.groupBy("_id", "w1", "w2").agg(F.count(F.lit(1)).alias("_tf"))
    return (
        tf.join(model, ["w1", "w2"])
        .groupBy("_id")
        .agg(
            F.sum("_tf").cast("bigint").alias("n_bigrams"),
            F.round(F.sum(F.col("_tf") * F.col("_w")) / F.sum("_tf"), 4).alias(
                "nll"
            ),
        )
        .select(F.col("_id").alias(id_col), "n_bigrams", "nll")
    )


# --------------------------------------------------------------------------
# Within-document repetition (Gopher-style quality signals)
# --------------------------------------------------------------------------


def self_repetition(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """Gopher-style within-document repetition signals, all row-local:
    ``(id_col, n_tokens, n_ngrams, n_distinct_ngrams, dup_ngram_frac,
    top_token_frac)``.

    - ``dup_ngram_frac``: fraction of word n-gram positions occupied by a
      repeated n-gram, ``(g − distinct(g)) / g`` — the signal substring /
      paragraph dedup acts on inside one document.
    - ``top_token_frac``: share of the most frequent token — detects
      token-spam pages. Computed as the longest run in the SORTED token
      array via one ``aggregate`` fold (no explode, no shuffle).

    Both are exact ratios of small integers rounded to 4 dp, so they are
    engine-reproducible bit-for-bit. The whole operator is a narrow
    projection: at 100 TB it is a map-only pass fused into whatever scan
    feeds it. Documents shorter than ``n`` tokens contribute one n-gram of
    their full text (the ``dedup.shingles`` convention), so nothing drops.
    """
    from . import dedup

    toks = word_tokens(F.col(text_col))
    grams = dedup.shingles(F.col(text_col), n)
    n_tok = F.size(toks)
    n_g = F.size(grams)
    n_d = F.size(F.array_distinct(grams))
    run_best = F.aggregate(
        F.array_sort(toks),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    nz_tok = F.when(n_tok > 0, n_tok.cast("double"))
    nz_g = F.when(n_g > 0, n_g.cast("double"))
    return df.select(
        F.col(id_col),
        n_tok.cast("bigint").alias("n_tokens"),
        n_g.cast("bigint").alias("n_ngrams"),
        n_d.cast("bigint").alias("n_distinct_ngrams"),
        F.coalesce(F.round((n_g - n_d) / nz_g, 4), F.lit(0.0)).alias(
            "dup_ngram_frac"
        ),
        F.coalesce(F.round(run_best / nz_tok, 4), F.lit(0.0)).alias(
            "top_token_frac"
        ),
    )


# --------------------------------------------------------------------------
# PII scrubbing (corpus cleaning before training)
# --------------------------------------------------------------------------

# Patterns restricted to the regex subset with identical semantics in Java
# (Spark) and RE2 (DuckDB oracle): char classes, bounded quantifiers,
# non-capturing groups, \b word boundaries. No backrefs, no lookaround.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"
PII_PHONE_RE = r"\+?[0-9][0-9()\s.-]{7,}[0-9]"


def pii_counts(text_col: Column) -> dict[str, Column]:
    """Per-document PII hit counts (emails, IPv4s, phone-shaped digit
    runs) — the audit pass a corpus runs before deciding to redact."""
    return {
        "n_emails": F.regexp_count(text_col, F.lit(PII_EMAIL_RE)),
        "n_ips": F.regexp_count(text_col, F.lit(PII_IPV4_RE)),
        "n_phones": F.regexp_count(text_col, F.lit(PII_PHONE_RE)),
    }


def redact_pii(text_col: Column, token: str = "[PII]") -> Column:
    """Replace emails → IPv4s → phone-shaped runs with ``token``, in that
    fixed order (order matters: an email's digits must not be half-eaten
    by the phone pattern first). Pure regexp_replace chain — codegen,
    row-local, no shuffle; scrubbing 100 TB is a map-only pass."""
    out = F.regexp_replace(text_col, PII_EMAIL_RE, token)
    out = F.regexp_replace(out, PII_IPV4_RE, token)
    return F.regexp_replace(out, PII_PHONE_RE, token)


def token_divergence(
    df: DataFrame,
    text_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Unigram-distribution drift between two corpus slices — the check a
    training-data pipeline runs when a new crawl/domain batch lands
    ("does this month's web slice still look like last month's?").

    Laplace-smoothed over the PAIR's union vocabulary ``V``:
    ``p(t) = (c_a(t)+1)/(T_a+V)``, same for ``q``; both therefore sum to
    exactly 1 over the union rows. Emits one row:
    ``(group_a, group_b, vocab_size, kl_ab, kl_ba, js)`` — both KL
    directions (nats) and Jensen-Shannon ``0.5·KL(P‖M)+0.5·KL(Q‖M)``
    with ``M=(P+Q)/2``, all rounded to 6 dp.

    Scale shape: one filtered scan (the two-group predicate pushes to the
    source), then ONE groupBy(token) whose conditional aggregates emit
    both groups' counts per token — the union-vocab alignment costs no
    self-join and the corpus is exploded exactly once. The shuffle
    carries (token, partial counts), never text; vocabulary size, not
    corpus size, bounds every post-aggregation stage.
    """
    two = df.filter(F.col(group_col).isin([group_a, group_b]))
    toks = two.select(
        F.col(group_col).alias("_g"),
        F.explode(word_tokens(F.col(text_col))).alias("token"),
    )
    # vocab-sized; materialize once so the totals branch and the
    # smoothing branch don't each replay the corpus explode
    joined = toks.groupBy("token").agg(
        F.count(F.when(F.col("_g") == group_a, 1)).alias("_ca"),
        F.count(F.when(F.col("_g") == group_b, 1)).alias("_cb"),
    ).localCheckpoint(eager=False)
    tot = joined.agg(
        F.sum("_ca").alias("_Ta"),
        F.sum("_cb").alias("_Tb"),
        F.count(F.lit(1)).alias("_V"),
    )
    sm = joined.crossJoin(F.broadcast(tot)).select(
        ((F.col("_ca") + 1) / (F.col("_Ta") + F.col("_V"))).alias("_p"),
        ((F.col("_cb") + 1) / (F.col("_Tb") + F.col("_V"))).alias("_q"),
        "_V",
    )
    m = (F.col("_p") + F.col("_q")) / 2
    return sm.agg(
        F.lit(group_a).alias("group_a"),
        F.lit(group_b).alias("group_b"),
        F.max("_V").cast("bigint").alias("vocab_size"),
        F.round(F.sum(F.col("_p") * F.log(F.col("_p") / F.col("_q"))), 6).alias("kl_ab"),
        F.round(F.sum(F.col("_q") * F.log(F.col("_q") / F.col("_p"))), 6).alias("kl_ba"),
        F.round(
            0.5 * F.sum(F.col("_p") * F.log(F.col("_p") / m))
            + 0.5 * F.sum(F.col("_q") * F.log(F.col("_q") / m)),
            6,
        ).alias("js"),
    )


def char_entropy(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document Shannon character entropy (bits/char) — the
    compression-ratio-style quality signal (Rae et al.'s Gopher rules
    family): natural prose sits ~4-4.5 bits/char, boilerplate/repetition
    collapses toward 0, random noise pushes toward log2(alphabet).
    Low-entropy docs are the keyboard-mash/template junk a corpus filter
    drops.

    Returns ``(id_col, n_chars_counted, entropy)`` with entropy rounded
    4dp.

    Scale shape: the per-doc character histogram is ROW-LOCAL semantics
    that built-in ops can only express by exploding the corpus into one
    row per character and shuffling (doc, char) pairs — corpus-sized
    exchange for a per-row statistic. So this is the documented
    Arrow-batch exception: one map-only pandas_udf pass, zero shuffles,
    ~µs/doc. Entropy is computed as ``log2(n) − Σ c·log2(c) / n`` over
    counts in sorted-char order; the 4dp rounding absorbs the ~1e-15
    accumulation-order ulp vs an SQL oracle summing in its own order."""
    import math
    from collections import Counter

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def ent(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            s = "" if t is None else str(t)
            n = len(s)
            if n == 0:
                out.append(0.0)
                continue
            counts = Counter(s)
            h = math.log2(n) - sum(
                c * math.log2(c) for _, c in sorted(counts.items())
            ) / n
            out.append(h)
        return pd.Series(out)

    # round via F.round, not Python round(): half-away-from-zero on both
    # engines (Python's banker's rounding is the one mismatch mode)
    return df.select(
        F.col(id_col),
        F.length(F.coalesce(F.col(text_col), F.lit(""))).cast("bigint").alias(
            "n_chars_counted"
        ),
        F.round(ent(F.col(text_col)), 4).alias("entropy"),
    )


def nb_classify(
    train: DataFrame,
    test: DataFrame,
    text_col: str,
    id_col: str,
    label_col: str,
    round_dp: int = 4,
) -> DataFrame:
    """Multinomial Naive Bayes text classification — the fastText/CCNet
    seam of classifier-based corpus filtering (quality, language,
    domain): train token-count statistics per label on a labeled slice,
    score every candidate document, keep the argmax.

    ``score(d, l) = ln(n_docs_l / N) + Σ_t tf_dt · ln((c_lt + 1) /
    (T_l + V))`` (Laplace smoothing) decomposed as ``ln(n_docs_l) −
    ln(N) + Σ_t tf·ln(c_lt + 1) − (Σ_t tf) · ln(T_l + V)`` so tokens a
    label never saw need NO (token, label) row — the unseen-token mass
    folds into the per-doc total-tf term, keeping the model table at
    observed (label, token) pairs only.

    Returns ``(id_col, predicted label, score)`` for every test row;
    score is rounded to ``round_dp`` and ties break label-ascending, so
    the argmax is engine-independent (same seam as ``unigram_nll``).

    Scale shape: training is ONE groupBy(label, token) aggregate (the
    model — vocabulary-sized, ≪ corpus) plus tiny per-label and scalar
    (N, V) aggregates that broadcast. Scoring joins per-(doc, token)
    term frequencies against the model on ``token``, aggregates per
    (doc, label), and right-joins onto the doc × label grid (labels are
    a handful — the grid multiplier is bounded and the label stats side
    is a broadcast). No window touches the corpus; the final argmax
    window partitions by document over n_labels rows each.
    """

    def toks(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("_id"),
            F.explode(word_tokens(F.col(text_col))).alias("_tok"),
        ).groupBy("_id", "_tok").agg(F.count(F.lit(1)).alias("_tf"))

    tr = toks(train.select(F.col(id_col), F.col(text_col)))
    tr = tr.join(
        train.select(F.col(id_col).alias("_id"), F.col(label_col).alias("_lbl")),
        "_id",
    )
    wc = tr.groupBy("_lbl", "_tok").agg(F.sum("_tf").alias("_cnt"))
    cls = (
        train.groupBy(F.col(label_col).alias("_lbl"))
        .agg(F.count(F.lit(1)).alias("_n_docs"))
        .join(wc.groupBy("_lbl").agg(F.sum("_cnt").alias("_tl")), "_lbl", "left")
        .fillna({"_tl": 0})
    )
    consts = train.agg(F.count(F.lit(1)).alias("_n")).crossJoin(
        wc.select("_tok").distinct().agg(F.count(F.lit(1)).alias("_v"))
    )
    word_w = wc.select("_lbl", "_tok", F.log(F.col("_cnt") + 1).alias("_w"))

    te_tf = toks(test)
    doc_tot = test.select(F.col(id_col).alias("_id")).join(
        te_tf.groupBy("_id").agg(F.sum("_tf").alias("_tot")), "_id", "left"
    ).fillna({"_tot": 0})
    raw = (
        te_tf.join(word_w, "_tok")
        .groupBy("_id", "_lbl")
        .agg(F.sum(F.col("_tf") * F.col("_w")).alias("_raw"))
    )
    scored = (
        doc_tot.crossJoin(F.broadcast(cls.crossJoin(consts)))
        .join(raw, ["_id", "_lbl"], "left")
        .fillna({"_raw": 0.0})
        .select(
            "_id",
            "_lbl",
            F.round(
                F.log("_n_docs")
                - F.log("_n")
                + F.col("_raw")
                - F.col("_tot") * F.log(F.col("_tl") + F.col("_v")),
                round_dp,
            ).alias("score"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("_id").orderBy(F.col("score").desc(), F.col("_lbl").asc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("_id").alias(id_col),
            F.col("_lbl").alias("predicted"),
            "score",
        )
    )


# --------------------------------------------------------------------------
# Collocation mining (PMI) and per-document keyword extraction
# --------------------------------------------------------------------------


def pmi_collocations(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 100,
    min_count: int = 5,
    round_digits: int = 4,
) -> DataFrame:
    """Top-``k`` adjacent-word collocations by pointwise mutual
    information — the classic corpus-analysis pass (Church & Hanks 1990)
    a tokenizer/phrase-mining pipeline runs to find multi-word units
    worth merging ("new york", "machine learning") before vocabulary
    building.

    ``PMI(a,b) = ln( p(ab) / (p(a)·p(b)) )`` with ``p(ab) = c_ab / P``
    (P = total adjacent bigrams) and ``p(x) = c_x / T`` (T = total
    unigrams). Pairs below ``min_count`` are dropped (the standard
    low-frequency PMI-explosion guard). Rounded to ``round_digits``;
    ordered (pmi desc, w1 asc, w2 asc) — a total tiebreak.

    Scale shape: bigram generation is row-local codegen; corpus-keyed
    work is TWO token-keyed aggregates (bigram counts, unigram counts —
    both map-side combined, shuffling token strings with partial counts,
    never documents). The unigram table is vocabulary-sized and joins
    the bigram table twice BROADCAST; T/P are a broadcast scalar row.
    The final top-k is TakeOrderedAndProject — no global sort.
    """
    from ..sources.lake import spread_scan

    toks = word_tokens(F.col(text_col))
    # r13: (a) spread a single-row-group scan so the tokenize+explode
    # runs on every core (guide §2.5 input skew; no-op on multi-split
    # inputs — counts are layout-invariant); (b) checkpoint the two
    # aggregates: ``uni`` feeds THREE consumers (the T scalar and both
    # broadcast joins) and ``bi_all`` two (the min-count filter and the
    # P scalar) — unchecked, each consumer re-ran the full corpus scan
    # + tokenize (the _before plan carried 5 parquet scans). Both are
    # vocab-/bigram-type-sized, far below corpus size.
    base = spread_scan(df.select(text_col))
    tok_rows = base.select(F.explode(toks).alias("w"))
    uni = (
        tok_rows.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )

    t = toks  # alias for the bigram builder below
    bigrams = F.transform(
        F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))),
        lambda x, i: F.struct(
            x.alias("w1"), F.element_at(t, i + 2).alias("w2")
        ),
    )
    bi_all = (
        base.select(F.explode(bigrams).alias("b"))
        .select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .localCheckpoint(eager=False)
    )
    bi = bi_all.filter(F.col("c_ab") >= min_count)
    # P = TOTAL adjacent-bigram count (pre-filter): p(ab) is a probability
    # over all bigram events, not over the min-count survivors
    scalars = uni.agg(F.sum("c").alias("_T")).crossJoin(
        bi_all.agg(F.sum("c_ab").alias("_P"))
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_a"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_b"))
    return (
        bi.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(scalars))
        .select(
            "w1",
            "w2",
            F.col("c_ab").cast("bigint").alias("n_pair"),
            F.round(
                F.log(
                    F.col("c_ab") * F.col("_T") * F.col("_T")
                    / (F.col("_P") * F.col("c_a") * F.col("c_b"))
                ),
                round_digits,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(k)
    )


def top_keywords(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    round_digits: int = 4,
) -> DataFrame:
    """Per-document top-``k`` keywords by TF-IDF — the metadata-
    enrichment pass (search facets, topic tagging, near-dup explain)
    run over every document of a corpus.

    ``score = tf · (ln((N+1)/(df+1)) + 1)`` (smoothed IDF, never
    negative), rounded; per-doc ranking breaks ties token-ascending so
    the cut is total. Returns ``(id_col, token, rank, score)``.

    Scale shape: per-(doc, token) tf is one corpus aggregate; document
    frequencies are one token-keyed aggregate whose vocabulary-sized
    output joins back BROADCAST; the per-doc top-k window partitions by
    document — rows per partition = distinct tokens of one doc, so no
    skew risk. The dfreq branch re-aggregates from the scan (Spark does
    not share unpersisted subplans), a deliberate trade: the alternative
    — ``count().over(Window.partitionBy(token))`` — avoids the second
    scan but funnels every stopword row into one partition (no map-side
    combine on windows). At 100 TB, persist the tf relation and derive
    dfreq from it to get one scan AND the skew-safe aggregate.
    """
    from pyspark.sql import Window

    tf = (
        df.select(
            F.col(id_col).alias("_id"),
            F.explode(word_tokens(F.col(text_col))).alias("token"),
        )
        .groupBy("_id", "token")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )
    n_docs = df.agg(F.count(F.lit(1)).alias("_N"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("_df"))
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "_id",
            "token",
            F.round(
                F.col("_tf")
                * (F.log((F.col("_N") + 1) / (F.col("_df") + 1)) + 1),
                round_digits,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("_id").orderBy(
        F.desc("score"), F.asc("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_id").alias(id_col),
            "token",
            F.col("rank").cast("bigint").alias("rank"),
            "score",
        )
    )


def stupid_backoff_nll(
    df: DataFrame,
    text_col: str,
    id_col: str,
    model_df: DataFrame | None = None,
    alpha: float = 0.4,
) -> DataFrame:
    """Per-document average negative log-score under a TRIGRAM stupid-
    backoff model (Brants et al. 2007, "Large Language Models in Machine
    Translation") — the web-scale LM filter shape: no discounting to
    tune, counts only, and the backoff chain keeps every score defined
    on held-out text:

        S(w3|w1,w2) = c(w1w2w3)/c(w1w2)          if the trigram is seen
                    = α · c(w2w3)/c(w2)           elif the bigram is seen
                    = α² · (c(w3)+1)/(T+V)        else (Laplace unigram)

    ``model_df`` is the reference corpus the counts come from (defaults
    to ``df`` itself — but the realistic deployment scores the crawl
    against a TRUSTED slice, which is what the gate does); scoring docs
    need ≥ 3 tokens. Returns ``(id_col, n_trigrams, nll)``,
    ``nll = Σ tf·(−ln S) / Σ tf`` rounded 4 dp.

    Scale shape: identical to :func:`bigram_nll` one order up — n-grams
    generated row-locally by codegen ``transform`` over ``sequence``
    (no window), the three count tables are groupBy aggregates of the
    MODEL corpus (vocabulary-sized, joined on gram keys), T/V are one
    broadcast row, and the scoring join + final groupBy(doc) shuffle
    (doc, tf, weight) rows, never text. Per-term weights are cast to
    DECIMAL(38,12) before the document sum — order-independent
    accumulation on both engines.
    """
    toks = word_tokens(F.col(text_col))

    def grams(frame, n):
        base = frame.select(
            F.col(id_col).alias("_id"), toks.alias("_t")
        ).withColumn("_n", F.size("_t"))
        if n == 1:
            return base.select("_id", F.explode("_t").alias("w1"))
        cols = lambda i: [
            F.element_at("_t", i + j).alias(f"w{j + 1}") for j in range(n)
        ]
        return (
            base.filter(F.col("_n") >= n)
            .select(
                "_id",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.col("_n") - (n - 1)),
                        lambda i: F.struct(*cols(i)),
                    )
                ).alias("_g"),
            )
            .select("_id", *[f"_g.w{j + 1}" for j in range(n)])
        )

    m = model_df if model_df is not None else df
    uni = grams(m, 1).groupBy("w1").agg(F.count(F.lit(1)).alias("_c1"))
    stats = uni.agg(
        F.sum("_c1").alias("_T"), F.count(F.lit(1)).alias("_V")
    )
    bi = grams(m, 2).groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("_c2"))
    tri = grams(m, 3).groupBy("w1", "w2", "w3").agg(
        F.count(F.lit(1)).alias("_c3")
    )

    tf = grams(df, 3).groupBy("_id", "w1", "w2", "w3").agg(
        F.count(F.lit(1)).alias("_tf")
    )
    a = F.lit(alpha)
    scored = (
        tf.join(tri, ["w1", "w2", "w3"], "left")
        .join(
            bi.select(
                F.col("w1"), F.col("w2"), F.col("_c2").alias("_c12")
            ),
            ["w1", "w2"],
            "left",
        )
        .join(
            bi.select(
                F.col("w1").alias("w2"),
                F.col("w2").alias("w3"),
                F.col("_c2").alias("_c23"),
            ),
            ["w2", "w3"],
            "left",
        )
        .join(
            uni.select(F.col("w1").alias("w2"), F.col("_c1").alias("_c1w2")),
            "w2",
            "left",
        )
        .join(
            uni.select(F.col("w1").alias("w3"), F.col("_c1").alias("_c1w3")),
            "w3",
            "left",
        )
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_s",
            F.when(
                F.col("_c3").isNotNull(), F.col("_c3") / F.col("_c12")
            )
            .when(
                F.col("_c23").isNotNull(),
                a * (F.col("_c23") / F.col("_c1w2")),
            )
            .otherwise(
                a
                * a
                * (
                    (F.coalesce(F.col("_c1w3"), F.lit(0)) + 1)
                    / (F.col("_T") + F.col("_V"))
                )
            ),
        )
    )
    return (
        scored.select(
            "_id",
            "_tf",
            (F.col("_tf") * -F.log("_s")).cast("decimal(38,12)").alias("_w"),
        )
        .groupBy("_id")
        .agg(
            F.sum("_tf").cast("bigint").alias("n_trigrams"),
            (
                F.round(
                    F.sum("_w").cast("double") / F.sum("_tf"), 4
                )
                + F.lit(0.0)
            ).alias("nll"),
        )
        .select(F.col("_id").alias(id_col), "n_trigrams", "nll")
    )


def kneser_ney_nll(
    df: DataFrame,
    text_col: str,
    id_col: str,
    model_df: DataFrame | None = None,
    discount: float = 0.75,
) -> DataFrame:
    """Per-document average negative log-probability under an
    interpolated BIGRAM Kneser-Ney model (Kneser & Ney 1995; the
    absolute-discount formulation of Chen & Goodman 1999) — the third
    LM-scoring family next to :func:`bigram_nll` (MLE + Laplace) and
    :func:`stupid_backoff_nll` (count ratios, no discount). KN's
    distinguishing idea: the backoff distribution is the CONTINUATION
    probability (how many distinct contexts a word follows), not the
    raw unigram — "Francisco" is frequent but follows only "San", so
    it backs off low.

        P(w2|w1) = max(c(w1 w2) − D, 0) / c(w1 ·)
                   + (D · N1+(w1 ·) / c(w1 ·)) · Pc(w2)     if w1 seen
        P(w2|w1) = Pc(w2)                                    otherwise
        Pc(w2)   = (N1+(· w2) + 1) / (B + V)

    where ``c(w1 ·)`` sums bigram counts with left context w1,
    ``N1+(w1 ·)`` / ``N1+(· w2)`` count distinct right/left partners,
    B = distinct bigram types, V = vocabulary size. The continuation
    term is Laplace-smoothed (the ``+1 / +V``) so held-out words with
    unseen continuations keep a defined probability — a documented
    divergence from the textbook (which leaves P undefined there).

    Scale shape: identical to the sibling scorers — grams row-local by
    codegen ``transform``; the model tables are model-corpus aggregates
    joined on gram keys (vocabulary-sized); (B, V) is one broadcast
    row; the scoring shuffle carries (doc, tf, weight); per-term
    weights DECIMAL(38,12)-accumulated for order-independent sums.
    """
    toks = word_tokens(F.col(text_col))

    def grams(frame, n):
        base = frame.select(
            F.col(id_col).alias("_id"), toks.alias("_t")
        ).withColumn("_n", F.size("_t"))
        if n == 1:
            return base.select("_id", F.explode("_t").alias("w1"))
        return (
            base.filter(F.col("_n") >= 2)
            .select(
                "_id",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.col("_n") - 1),
                        lambda i: F.struct(
                            F.element_at("_t", i).alias("w1"),
                            F.element_at("_t", i + 1).alias("w2"),
                        ),
                    )
                ).alias("_g"),
            )
            .select("_id", "_g.w1", "_g.w2")
        )

    m = model_df if model_df is not None else df
    bi = grams(m, 2).groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("_c12")
    )
    lt = bi.groupBy("w1").agg(
        F.sum("_c12").alias("_cl"), F.count(F.lit(1)).alias("_nl")
    )
    rt = bi.groupBy("w2").agg(F.count(F.lit(1)).alias("_nr"))
    stats = bi.agg(F.count(F.lit(1)).alias("_B")).crossJoin(
        grams(m, 1).select("w1").distinct().agg(
            F.count(F.lit(1)).alias("_V")
        )
    )

    tf = grams(df, 2).groupBy("_id", "w1", "w2").agg(
        F.count(F.lit(1)).alias("_tf")
    )
    d = F.lit(float(discount))
    cont = (F.coalesce(F.col("_nr"), F.lit(0)) + F.lit(1.0)) / (
        F.col("_B") + F.col("_V")
    )
    scored = (
        tf.join(bi, ["w1", "w2"], "left")
        .join(lt, "w1", "left")
        .join(rt, "w2", "left")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_p",
            F.when(
                F.col("_cl").isNotNull(),
                F.greatest(
                    F.coalesce(F.col("_c12"), F.lit(0)) - d, F.lit(0.0)
                )
                / F.col("_cl")
                + (d * F.col("_nl") / F.col("_cl")) * cont,
            ).otherwise(cont),
        )
    )
    return (
        scored.select(
            "_id",
            "_tf",
            (F.col("_tf") * -F.log("_p")).cast("decimal(38,12)").alias("_w"),
        )
        .groupBy("_id")
        .agg(
            F.sum("_tf").cast("bigint").alias("n_bigrams"),
            (
                F.round(F.sum("_w").cast("double") / F.sum("_tf"), 4)
                + F.lit(0.0)
            ).alias("nll"),
        )
        .select(F.col("_id").alias(id_col), "n_bigrams", "nll")
    )


def textrank_keywords(
    df: DataFrame,
    text_col: str,
    window: int = 2,
    n_iter: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Corpus-level TextRank keyword scores (Mihalcea & Tarau 2004):
    PageRank over the word co-occurrence graph — words are nodes, an
    (undirected) edge links words appearing within ``window`` positions
    of each other in any document. Returns ``(word, rank)``; higher
    rank = more central vocabulary, the unsupervised keyword-extraction
    baseline (complements the tf-idf-flavored ``top_keywords``, which
    scores words per document rather than by graph centrality).

    Scale shape: co-occurrence pairs are generated row-locally (codegen
    ``transform`` over token positions — no window function, no join);
    the edge list is DISTINCT (word, word) pairs — vocabulary-bounded,
    tiny relative to the corpus; iteration cost is pagerank's (one
    src-keyed join + one dst-keyed partial agg per round over the
    vocab-sized graph). The corpus is scanned once.
    """
    from .pagerank import pagerank

    toks = word_tokens(F.col(text_col))
    base = df.select(toks.alias("_t")).filter(F.size("_t") >= 2)
    # sequence(1, 0) DESCENDS in Spark — guard short docs explicitly.
    # NB: the transform lambda must be single-arg (a two-arg lambda is
    # interpreted as (element, index)).
    def _pairs_at(off: int):
        def body(i):
            return F.struct(
                F.element_at("_t", i).alias("src"),
                F.element_at("_t", i + F.lit(off)).alias("dst"),
            )

        return F.when(
            F.size("_t") > off,
            F.transform(F.sequence(F.lit(1), F.size("_t") - off), body),
        ).otherwise(F.array().cast("array<struct<src:string,dst:string>>"))

    pair_arrays = [_pairs_at(off) for off in range(1, window + 1)]
    fwd = (
        base.select(
            F.explode(F.flatten(F.array(*pair_arrays))).alias("_e")
        )
        .select("_e.src", "_e.dst")
        .filter(F.col("src") != F.col("dst"))
    )
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    return pagerank(
        edges,
        n_iter=n_iter,
        damping=damping,
        assume_distinct=True,
    ).select(F.col("node").alias("word"), "rank")


def zipf_power_law_stats(
    df: DataFrame, text_col: str, hill_k: int = 10
) -> DataFrame:
    """Power-law diagnostics of the corpus word-frequency distribution,
    one row: ``(n_words, zipf_slope, zipf_r2, hill_alpha)``.

    - ``zipf_slope`` / ``zipf_r2``: OLS of ln(frequency) on ln(rank)
      over the full vocabulary (rank by count DESC, word ASC — total
      order). Zipf's law predicts slope ≈ −1; the r² says how
      power-law-like the corpus is — a fast drift alarm for corpus
      composition changes (boilerplate floods flatten the tail).
    - ``hill_alpha``: the Hill estimator over the top ``hill_k``
      frequencies, ``1 + k / Σ ln(f_(i) / f_(k+1))`` — the standard
      tail-index MLE, complementing the regression fit.

    Determinism: word counts are exact integers; every ln-term is cast
    to DECIMAL(38,12) before summation (order-independent); the final
    expressions are fixed-shape doubles rounded 4 dp. Scale: one
    corpus token count (the only data-sized shuffle), then vocabulary-
    sized window + aggregate.
    """
    from pyspark.sql import Window

    toks = word_tokens(F.col(text_col))
    wc = (
        df.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    ranked = wc.withColumn(
        "r",
        F.row_number().over(Window.orderBy(F.col("f").desc(), F.col("w"))),
    )
    dec = "decimal(38,12)"
    lr = F.log(F.col("r").cast("double"))
    lf = F.log(F.col("f").cast("double"))
    moments = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(lr.cast(dec)).alias("sx"),
        F.sum(lf.cast(dec)).alias("sy"),
        F.sum((lr * lf).cast(dec)).alias("sxy"),
        F.sum((lr * lr).cast(dec)).alias("sxx"),
        F.sum((lf * lf).cast(dec)).alias("syy"),
    )
    kth = ranked.filter(F.col("r") == hill_k + 1).select(
        F.col("f").alias("_fk")
    )
    hill = (
        ranked.filter(F.col("r") <= hill_k)
        .crossJoin(F.broadcast(kth))
        .agg(
            F.sum(
                F.log(F.col("f") / F.col("_fk")).cast(dec)
            ).alias("_hs"),
            F.count(F.lit(1)).alias("_hk"),
        )
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    dx = n * sxx - sx * sx
    dy = n * syy - sy * sy
    cov = n * sxy - sx * sy
    return moments.crossJoin(hill).select(
        F.col("n").cast("bigint").alias("n_words"),
        (F.round(cov / dx, 4) + F.lit(0.0)).alias("zipf_slope"),
        (F.round(cov * cov / (dx * dy), 4) + F.lit(0.0)).alias("zipf_r2"),
        (
            F.round(
                F.lit(1.0)
                + F.col("_hk") / F.col("_hs").cast("double"),
                4,
            )
            + F.lit(0.0)
        ).alias("hill_alpha"),
    )


def ngram_novelty(
    df: DataFrame,
    text_col: str,
    id_col: str,
    ref_col: str,
    k: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty against a reference partition:
    ``(id, n_grams, n_novel, novelty)`` for every NON-reference doc,
    where novelty = fraction of the doc's DISTINCT word k-grams that
    appear in NO reference document.

    The decontamination / freshness diagnostic that complements
    ``membership.bloom_decontam``: the Bloom path answers "is this doc
    suspicious" with a membership bit; this one measures HOW MUCH of a
    doc is recycled from a reference corpus (benchmark suites, an
    earlier crawl) — the score n-gram-overlap decontamination pipelines
    threshold on (e.g. the 13-gram rule of GPT-3's appendix; k is a
    parameter here).

    Shape is the dedup scan discipline: posexplode tokens → lead()
    window rebuilds k-gram adjacency (no per-row array blowup, one
    doc-keyed window shuffle), md5-40-bit gram hashes (engine-
    reproducible; swap xxhash64 at production scale for 64-bit head-
    room), DISTINCT (id, hash), then ONE hash-keyed left join against
    the distinct reference hash set — text itself never shuffles.
    Documents shorter than k tokens contribute one gram of their full
    text (``dedup.shingles`` convention), so nothing drops. Ratios are
    exact small-integer fractions rounded 4 dp.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("_id"),
        F.col(ref_col).cast("boolean").alias("_ref"),
        F.posexplode(word_tokens(F.col(text_col))).alias("_pos", "_tok"),
    )
    w = Window.partitionBy("_id").orderBy("_pos")
    wn = Window.partitionBy("_id")
    leads = [F.lead("_tok", i).over(w).alias(f"_t{i}") for i in range(1, k)]
    rows = toks.select(
        "_id", "_ref", "_pos", "_tok", *leads,
        F.count(F.lit(1)).over(wn).alias("_n"),
    )
    keep = F.col(f"_t{k - 1}").isNotNull() | (
        (F.col("_pos") == 0) & (F.col("_n") < k)
    )
    # concat_ws skips NULL leads, so the pos-0 row of a short doc joins
    # exactly its n < k tokens — the full-text gram.
    gram = F.concat_ws(" ", "_tok", *[f"_t{i}" for i in range(1, k)])
    gh = (
        rows.filter(keep)
        .select(
            "_id",
            "_ref",
            F.conv(F.substring(F.md5(gram), 1, 10), 16, 10)
            .cast("bigint")
            .alias("_h"),
        )
        .distinct()
    )
    ref = gh.filter(F.col("_ref")).select("_h").distinct()
    ev = gh.filter(~F.col("_ref")).select("_id", "_h")
    joined = ev.join(
        ref.withColumn("_seen", F.lit(1)), "_h", "left"
    )
    return joined.groupBy("_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams"),
        F.sum(F.when(F.col("_seen").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_novel"),
        (
            F.round(
                F.sum(F.when(F.col("_seen").isNull(), 1).otherwise(0)).cast(
                    "double"
                )
                / F.count(F.lit(1)).cast("double"),
                4,
            )
            + 0.0
        ).alias("novelty"),
    ).withColumnRenamed("_id", id_col)


def vocab_richness(df: DataFrame, text_col: str) -> DataFrame:
    """Corpus vocabulary-richness estimates from the token frequency
    spectrum, one row: ``(n_tokens, n_distinct, f1, f2, chao1,
    coverage)``.

    The "how much vocabulary have we NOT seen yet" readout that sizes
    tokenizer vocab budgets and tells a crawler whether another batch of
    the same source still adds words: bias-corrected Chao1 richness
    D + f1*(f1-1)/(2*(f2+1)) (Chao 1984) from the singleton/doubleton
    counts, and Good-Turing coverage 1 - f1/N (the probability the NEXT
    token is a known word). Shape: one token-keyed count aggregate (the
    dedup-discipline shuffle — tokens, never documents), then a 4-number
    reduction over the count table. Everything is exact integers until
    two final rounded divisions.
    """
    toks = df.select(F.explode(word_tokens(F.col(text_col))).alias("_t"))
    counts = toks.groupBy("_t").agg(F.count(F.lit(1)).alias("_c"))
    return counts.agg(
        F.sum("_c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.sum(F.when(F.col("_c") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("f1"),
        F.sum(F.when(F.col("_c") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("f2"),
    ).select(
        "n_tokens",
        "n_distinct",
        "f1",
        "f2",
        (
            F.round(
                F.col("n_distinct").cast("double")
                + F.col("f1").cast("double")
                * (F.col("f1") - 1).cast("double")
                / (2.0 * (F.col("f2") + 1).cast("double")),
                4,
            )
            + 0.0
        ).alias("chao1"),
        (
            F.round(
                1.0
                - F.col("f1").cast("double") / F.col("n_tokens").cast("double"),
                6,
            )
            + 0.0
        ).alias("coverage"),
    )


def compression_ratio(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document zlib compressibility: ``(id, n_bytes, n_compressed,
    ratio)`` with ratio = compressed/raw bytes, 6 dp.

    The one-number boilerplate/spam detector deflate gives you for
    free: templated or repetitive pages compress far below prose
    (ratios < 0.2 vs ~0.4-0.7 for natural text), so thresholding the
    ratio is a cheap high-recall first-pass quality filter — the same
    signal family as ``self_repetition``, but sensitive to LONG-range
    repetition n-gram counters miss. One Arrow-batched map-only pass
    (zlib level pinned to 6 so output bytes are deterministic for a
    given zlib build); no shuffle touches text. Not SQL-expressible —
    DuckDB has no deflate — so the driver gate pins ORDERING invariants
    (q_docs_compression_contrast) rather than byte counts, and pytest
    covers the exact per-doc path.
    """
    import zlib
    from collections.abc import Iterator

    import pandas as pd

    def comp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            raw, com = [], []
            for t in b["_text"]:
                data = str(t).encode("utf-8")
                raw.append(len(data))
                com.append(len(zlib.compress(data, 6)))
            yield pd.DataFrame(
                {"_id": b["_id"], "n_bytes": raw, "n_compressed": com}
            )

    out = df.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_text")
    ).mapInPandas(comp, schema="_id long, n_bytes long, n_compressed long")
    return out.select(
        F.col("_id").alias(id_col),
        "n_bytes",
        "n_compressed",
        (
            F.round(
                F.when(
                    F.col("n_bytes") > 0,
                    F.col("n_compressed").cast("double")
                    / F.col("n_bytes").cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            )
            + 0.0
        ).alias("ratio"),
    )


def flesch_readability(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Flesch reading-ease per document (Flesch 1948): ``206.835 -
    1.015 * words/sentences - 84.6 * syllables/words`` — the classic
    instruction-manual readability gate, here used as a corpus quality
    feature (very low scores flag run-on machine text; implausibly
    high ones flag word-salad with tiny words).

    Counting heuristics, chosen to be exactly reproducible in any
    RE2/PCRE engine (no dictionary, no hyphenation table):
    words = runs of ASCII letters; sentences = runs of ``[.!?]``
    (min 1 once any word exists); syllables = vowel-group runs
    ``[aeiouy]+`` over the lowercased text (the standard
    vowel-cluster approximation; a vowel-free token counts 0).

    Output: ``(id, n_words, n_sentences, n_syllables, flesch)``;
    ``flesch`` is NULL when the text has no words, else a one-shot
    double over the three exact integer counts, rounded 4 dp. Pure
    row-local whole-stage-codegen expressions — one map-only scan, no
    shuffle, no Python.
    """
    words = F.regexp_count(F.col(text_col), F.lit(r"[A-Za-z]+"))
    sents = F.greatest(
        F.regexp_count(F.col(text_col), F.lit(r"[.!?]+")), F.lit(1)
    )
    syll = F.regexp_count(F.lower(F.col(text_col)), F.lit(r"[aeiouy]+"))
    score = (
        F.lit(206.835)
        - F.lit(1.015) * words.cast("double") / sents.cast("double")
        - F.lit(84.6) * syll.cast("double") / words.cast("double")
    )
    return df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        words.cast("bigint").alias("n_words"),
        sents.cast("bigint").alias("n_sentences"),
        syll.cast("bigint").alias("n_syllables"),
        F.when(
            words > 0, F.round(score, 4) + 0.0
        ).alias("flesch"),
    )


def diversity_indices(
    df: DataFrame, group_col: str, text_col: str
) -> DataFrame:
    """Token-diversity indices per group — Shannon entropy, Simpson
    concentration, and their effective-vocabulary (Hill-number) forms:
    the "how repetitive is this source?" screen a corpus mixer reads
    next to the volume numbers (a source with 10M tokens but effective
    vocabulary 200 is boilerplate, whatever its size).

    Tokens are lowercased ``[^a-z0-9]+``-split words (the corpus-wide
    convention, :func:`token_frequencies`). Per group: ``n_tokens``,
    ``n_distinct``, ``shannon`` (nats), ``simpson`` (= sum p_i^2, the
    repeat probability), ``hill1 = exp(shannon)`` and ``inv_simpson =
    1/simpson`` — the effective type counts of order 1 and 2.

    Determinism: Shannon uses the identity ``H = ln N - (1/N) sum_t
    c_t ln c_t``; each token's ``c ln c`` quantizes to integer MICROS
    before the per-group sum (exact in any order), Simpson's
    ``sum c^2`` is exact BIGINT, and the four outputs are one-shot
    doubles over those integers (round 6 dp). Shape: explode → ONE
    (group, token) aggregate (map-side combinable) → group-keyed
    reduce; the shuffle carries counts, never text.
    """
    toks = df.select(
        F.col(group_col).alias("grp"),
        F.explode(word_tokens(F.col(text_col))).alias("_t"),
    )
    counts = toks.groupBy("grp", "_t").agg(
        F.count(F.lit(1)).cast("bigint").alias("_c")
    )
    clnc_micros = F.round(
        F.col("_c").cast("double") * F.log(F.col("_c").cast("double")) * 1e6
    ).cast("bigint")
    per = counts.groupBy("grp").agg(
        F.sum("_c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.sum(F.col("_c") * F.col("_c")).cast("bigint").alias("_c2"),
        F.sum(clnc_micros).cast("bigint").alias("_cl"),
    )
    n = F.col("n_tokens").cast("double")
    shannon = F.log(n) - F.col("_cl") / 1e6 / n
    simpson = F.col("_c2") / (n * n)
    return per.select(
        "grp",
        "n_tokens",
        "n_distinct",
        (F.round(shannon, 6) + 0.0).alias("shannon"),
        (F.round(simpson, 6) + 0.0).alias("simpson"),
        (F.round(F.exp(shannon), 6) + 0.0).alias("hill1"),
        (F.round(F.lit(1.0) / simpson, 6) + 0.0).alias("inv_simpson"),
    ).orderBy("grp")


def source_token_overlap(
    df: DataFrame, group_col: str, text_col: str
) -> DataFrame:
    """Pairwise vocabulary overlap between groups (sources, domains,
    snapshots): exact Jaccard and containment of the distinct-token
    sets — the corpus-mixing diagnostic that says "these two sources
    are near-copies" (high containment) or "genuinely complementary"
    (low Jaccard) BEFORE tokens are spent training on both.

    Tokens are lowercased ``[^a-z0-9]+``-split words (the corpus
    convention). Returns ``(src_a, src_b, n_a, n_b, n_common,
    jaccard, containment)`` for every group pair (a < b) sharing at
    least one token, ordered by (src_a, src_b); containment =
    intersection / min(|A|, |B|).

    Scale shape: one (group, token) distinct aggregate, then a
    TOKEN-keyed self-join — per-token work is (groups containing
    it)^2, bounded by the group count squared, never corpus-sized;
    set sizes are a group-keyed aggregate broadcast back onto the
    pair table. All counts exact BIGINT; the two ratios are one-shot
    doubles.
    """
    toks = (
        df.select(
            F.col(group_col).alias("_g"),
            F.explode(word_tokens(F.col(text_col))).alias("_t"),
        )
        .distinct()
        .localCheckpoint(eager=False)  # feeds sizes AND the pair join
    )
    sizes = toks.groupBy("_g").agg(
        F.count(F.lit(1)).cast("bigint").alias("_n")
    )
    inter = (
        toks.alias("a")
        .join(toks.alias("b"), "_t")
        .filter(F.col("a._g") < F.col("b._g"))
        .groupBy(
            F.col("a._g").alias("src_a"), F.col("b._g").alias("src_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    return (
        inter.join(
            sizes.select(F.col("_g").alias("src_a"), F.col("_n").alias("n_a")),
            "src_a",
        )
        .join(
            sizes.select(F.col("_g").alias("src_b"), F.col("_n").alias("n_b")),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            "n_common",
            (
                F.round(
                    F.col("n_common")
                    / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast(
                        "double"
                    ),
                    6,
                )
                + 0.0
            ).alias("jaccard"),
            (
                F.round(
                    F.col("n_common")
                    / F.least("n_a", "n_b").cast("double"),
                    6,
                )
                + 0.0
            ).alias("containment"),
        )
        .orderBy("src_a", "src_b")
    )


#: codepoint ranges shared by the Spark expression and the SQL oracle —
#: literal characters (not \\u escapes) so Java regex and RE2 parse the
#: same class
SCRIPT_RANGES: dict[str, str] = {
    "latin": "[A-Za-zÀ-ÖØ-öø-ÿ]",  # Latin-1 letters; excludes × ÷
    "cyrillic": "[Ѐ-ӿ]",
    "han": "[一-鿿]",
    "arabic": "[؀-ۿ]",
    "digit": "[0-9]",
}


def script_profile(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document writing-script profile: codepoint counts for the
    major script blocks (Latin incl. Latin-1 letters, Cyrillic, Han,
    Arabic, ASCII digits) and the dominant script by count — the
    multilingual complement to stopword language-ID (`detect_language`
    separates en/es/de/fr; this separates ALPHABETS, the first routing
    decision in a multilingual corpus, and catches mixed-script
    spam/mojibake rows where no single script dominates).

    Ties break by the fixed order latin > cyrillic > han > arabic;
    a document with zero script characters reports ``'none'``.
    Output ``(id, n_latin, n_cyrillic, n_han, n_arabic, n_digit,
    script)``; rows with NULL text are excluded. Pure row-local
    regexp_count expressions — map-only, no shuffle, no Python.
    """
    scripts = ["latin", "cyrillic", "han", "arabic"]
    counts = {
        s: F.regexp_count(F.col(text_col), F.lit(SCRIPT_RANGES[s]))
        for s in scripts
    }
    best = F.greatest(*counts.values())
    label = F.lit("none")
    for s in reversed(scripts):  # earlier scripts win ties -> apply last
        label = F.when((counts[s] == best) & (best > 0), F.lit(s)).otherwise(
            label
        )
    return df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        counts["latin"].cast("bigint").alias("n_latin"),
        counts["cyrillic"].cast("bigint").alias("n_cyrillic"),
        counts["han"].cast("bigint").alias("n_han"),
        counts["arabic"].cast("bigint").alias("n_arabic"),
        F.regexp_count(F.col(text_col), F.lit(SCRIPT_RANGES["digit"]))
        .cast("bigint")
        .alias("n_digit"),
        label.alias("script"),
    )


def zipf_fit(
    df: DataFrame, text_col: str, id_col: str, min_count: int = 1
) -> DataFrame:
    """Zipf's-law fit of the corpus unigram distribution: log-log OLS
    of ``ln(frequency)`` on ``ln(rank)`` over the vocabulary —
    natural-language corpora sit near slope −1; a slope far from it
    (or a low r²) flags templated/boilerplate-heavy or synthetic text
    before it pollutes a training mix (the corpus-level sibling of the
    per-document quality features).

    Returns ONE row ``(vocab_size, total_tokens, slope, intercept,
    r2)``; slope/r2 NULL for degenerate vocabularies (< 2 distinct
    frequencies). ``min_count`` trims the hapax tail (rank-noise)
    before fitting.

    Scale shape — no global per-row window despite the global rank:
    one token groupBy (the only corpus-sized shuffle), then ranks over
    the VOCAB-sized table via the range-partitioned exclusive count
    over distinct frequencies + a frequency-partitioned row_number
    (``stats._ranged_exclusive_cumsum`` — vocab is corpus-sized in the
    worst case, which is exactly when an unpartitioned ORDER BY rank
    would degenerate). The fit itself reuses :func:`stats.ols_xy`'s
    quantized sufficient-statistics aggregate (one shuffle of 6
    integer columns).
    """
    from pyspark.sql import Window

    from .stats import _ranged_exclusive_cumsum, ols_xy

    tf = (
        token_frequencies(df, text_col, id_col, exact_doc_freq=False)
        .filter(F.col("n_occurrences") >= min_count)
        .select("token", F.col("n_occurrences").cast("bigint").alias("_f"))
    )
    totals = tf.agg(
        F.count(F.lit(1)).cast("bigint").alias("_v"),
        F.sum("_f").cast("bigint").alias("_tt"),
    ).collect()[0]
    vocab, total = int(totals["_v"] or 0), int(totals["_tt"] or 0)
    # rank 1 = most frequent: exclusive count of tokens with HIGHER
    # frequency (ranged cumsum over distinct -f) + row_number within
    # the frequency tie, token tiebreak — the percent_rank_unique
    # construction
    per_f = tf.groupBy(
        (-F.col("_f")).alias("_nf")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("_t"))
    offs = _ranged_exclusive_cumsum(per_f, "_nf", "_t", "_off").select(
        "_nf", "_off"
    )
    wr = Window.partitionBy("_f").orderBy("token")
    ranked = (
        tf.join(offs, (-tf["_f"]) == offs["_nf"])
        .withColumn("_rank", F.col("_off") + F.row_number().over(wr))
        .select(
            F.lit("all").alias("_g"),
            F.log(F.col("_rank").cast("double")).alias("_x"),
            F.log(F.col("_f").cast("double")).alias("_y"),
        )
    )
    fit = ols_xy(ranked, "_g", "_x", "_y")
    # ols_xy drops degenerate groups entirely — emit a NULL-stat row
    # instead so the readout always has exactly one row. take(1) runs
    # the corpus job ONCE; the limit(1).count() probe ran it twice
    # (r12 ADVICE).
    rows = fit.take(1)
    spark = df.sparkSession
    if not rows:
        return spark.range(1).select(
            F.lit(vocab).cast("bigint").alias("vocab_size"),
            F.lit(total).cast("bigint").alias("total_tokens"),
            F.lit(None).cast("double").alias("slope"),
            F.lit(None).cast("double").alias("intercept"),
            F.lit(None).cast("double").alias("r2"),
        )
    r = rows[0]
    return spark.range(1).select(
        F.lit(vocab).cast("bigint").alias("vocab_size"),
        F.lit(total).cast("bigint").alias("total_tokens"),
        F.lit(r["slope"]).cast("double").alias("slope"),
        F.lit(r["intercept"]).cast("double").alias("intercept"),
        F.lit(r["r2"]).cast("double").alias("r2"),
    )


def token_dispersion(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_parts: int = 10,
    min_count: int = 10,
) -> DataFrame:
    """Gries' deviation-of-proportions dispersion DP per token (Gries
    2008): split the corpus into ``n_parts`` equal-share document
    buckets and measure ``DP = ½·Σ_i |v_i − s_i|`` where ``v_i`` is
    the share of the token's occurrences falling in part i and ``s_i``
    the part's share of total tokens — DP ≈ 0 means the token is
    spread evenly (function words), DP → 1 means it clusters in few
    parts (topical/boilerplate bursts). The burstiness diagnostic that
    separates "frequent because ubiquitous" from "frequent because one
    subcorpus spams it" — corpus-mix curation reads it next to raw
    frequency.

    Parts are ``hash_bucket(id, 'disp', n_parts)`` — the
    sampling.hash_bucket md5 convention (engine-portable; DuckDB
    mirrors it as ``CAST('0x' || substr(md5('disp-' || id), 1, 8) AS
    BIGINT) % n_parts``). A plain ``id % n_parts`` was the pre-r12
    bucketing; it yields NULL on STRING document ids, and NULL parts
    silently drop out of the equi-joins (empty DP instead of a loud
    failure — ADVICE r11), so the operator hashes the id's string
    form instead, which buckets any id type. Returns ``(token,
    n_occurrences, dp)`` for tokens with ≥ ``min_count`` occurrences.

    Determinism: each |v_i − s_i| term is one double over exact
    integer counts, quantized to integer nanos BEFORE the per-token
    sum (≤ n_parts terms, but Spark's aggregation order is still
    nondeterministic — integer addition is not). Shape: one
    (token, part) groupBy (the only corpus-sized shuffle; the part
    totals are an n_parts-row broadcast), one token groupBy — linear.
    """
    from .sampling import hash_bucket

    toks = df.select(
        hash_bucket(F.col(id_col), "disp", n_parts)
        .cast("int")
        .alias("_part"),
        F.explode(word_tokens(F.col(text_col))).alias("token"),
    )
    cell = toks.groupBy("token", "_part").agg(
        F.count(F.lit(1)).cast("bigint").alias("_c")
    )
    part_tot = cell.groupBy("_part").agg(
        F.sum("_c").cast("bigint").alias("_pt")
    )
    grand = part_tot.agg(F.sum("_pt").cast("bigint").alias("_gt"))
    tok_tot = cell.groupBy("token").agg(
        F.sum("_c").cast("bigint").alias("_tc")
    )
    term = F.round(
        F.abs(
            F.col("_c").cast("double") / F.col("_tc").cast("double")
            - F.col("_pt").cast("double") / F.col("_gt").cast("double")
        )
        * 1e9
    ).cast("bigint")
    # a token ABSENT from a part still contributes |0 - s_i| to DP:
    # sum present-part terms, then add the missing-part mass
    # sum_{absent i} s_i = 1 - sum_{present i} s_i exactly — via the
    # same quantized integers
    sterm = F.round(
        F.col("_pt").cast("double") / F.col("_gt").cast("double") * 1e9
    ).cast("bigint")
    per_tok = (
        cell.join(F.broadcast(part_tot), "_part")
        .crossJoin(F.broadcast(grand))
        .join(tok_tot, "token")
        .groupBy("token")
        .agg(
            F.max("_tc").alias("n_occurrences"),
            F.sum(term).alias("_present"),
            F.sum(sterm).alias("_present_share"),
        )
        .filter(F.col("n_occurrences") >= min_count)
    )
    dp = (
        F.col("_present").cast("double")
        + (F.lit(1_000_000_000) - F.col("_present_share")).cast("double")
    ) / 2e9
    return per_tok.select(
        "token",
        "n_occurrences",
        (F.round(dp, 6) + 0.0).alias("dp"),
    )


def keyness_g2(
    df: DataFrame,
    text_col: str,
    id_col: str,
    is_target,
    min_count: int = 5,
    top_n: int = 50,
) -> DataFrame:
    """Corpus keyness: per-token log-likelihood ratio G² (Dunning 1993 /
    Rayson & Garside 2000) between a TARGET document slice and the rest
    of the corpus — THE "what distinguishes this subcorpus?"
    readout corpus-mix curation runs before boosting or down-weighting
    a source: high-G² tokens overused in the target (``direction`` +1)
    are its signature; overused in the reference (−1) its blind spots.

    ``G² = 2·Σ O·ln(O/E)`` over the token's 2-cell row (target /
    reference occurrences) with expectations from the corpus totals —
    the per-token slice of :func:`stats.g_test`'s table. Returns the
    ``top_n`` tokens by ``(G² desc, token asc)`` (a total order →
    TakeOrdered) as ``(token, n_target, n_ref, g2, direction)``.

    Determinism: counts are exact bigints; each O·ln(O/E) term
    quantizes to integer nanos before the 2-term sum (the g_test cell
    convention); G² is one rounded double. Shape: one corpus scan →
    token-keyed conditional-count aggregate (map-side combinable), the
    2-row totals broadcast, TakeOrderedAndProject for the cut — linear,
    no windows.
    """
    toks = df.select(
        is_target.cast("int").alias("_t"),
        F.explode(word_tokens(F.col(text_col))).alias("token"),
    )
    per = toks.groupBy("token").agg(
        F.sum("_t").cast("bigint").alias("n_target"),
        F.sum(F.lit(1) - F.col("_t")).cast("bigint").alias("n_ref"),
    ).filter(F.col("n_target") + F.col("n_ref") >= min_count)
    tot = per.agg(
        F.sum("n_target").cast("bigint").alias("_tt"),
        F.sum("n_ref").cast("bigint").alias("_tr"),
    )
    ct = F.col("n_target").cast("double")
    cr = F.col("n_ref").cast("double")
    tt = F.col("_tt").cast("double")
    tr = F.col("_tr").cast("double")
    row = ct + cr
    et = tt * row / (tt + tr)
    er = tr * row / (tt + tr)
    term_t = F.when(
        F.col("n_target") > 0,
        F.round(2.0 * ct * F.log(ct / et) * 1e9).cast("bigint"),
    ).otherwise(F.lit(0))
    term_r = F.when(
        F.col("n_ref") > 0,
        F.round(2.0 * cr * F.log(cr / er) * 1e9).cast("bigint"),
    ).otherwise(F.lit(0))
    scored = per.crossJoin(F.broadcast(tot)).select(
        "token",
        "n_target",
        "n_ref",
        (
            F.round((term_t + term_r).cast("double") / 1e9, 6) + 0.0
        ).alias("g2"),
        F.when(ct / tt >= cr / tr, F.lit(1))
        .otherwise(F.lit(-1))
        .cast("int")
        .alias("direction"),
    )
    return scored.orderBy(F.desc("g2"), F.asc("token")).limit(top_n)


def log_odds_keyness(
    df: DataFrame,
    text_col: str,
    id_col: str,
    is_target,
    alpha0: float = 500.0,
    min_count: int = 5,
    top_n: int = 50,
) -> DataFrame:
    """Monroe/Colaresi/Quinn "Fightin' Words" keyness (2008): per-token
    log-odds-ratio between a TARGET slice and the rest, with an
    INFORMATIVE Dirichlet prior proportional to the full-corpus
    distribution — the standard companion to :func:`keyness_g2`: G²
    rewards raw frequency (corpus-sized counts dominate), while the
    prior-shrunk z-score surfaces distinctive MID-frequency vocabulary
    and damps the one-off hapax noise that plagues unshrunk log-odds.

    ``δ_w = ln((y_tw+α_w)/(n_t+α₀−y_tw−α_w)) − ln((y_rw+α_w)/
    (n_r+α₀−y_rw−α_w))`` with ``α_w = α₀·y_w/n`` (prior mass follows
    the corpus unigram distribution, total prior ``α₀``), variance
    ``σ²_w ≈ 1/(y_tw+α_w) + 1/(y_rw+α_w)``, ``z_w = δ_w/σ_w``. Returns
    the ``top_n`` tokens by ``(|z| desc, token asc)`` as ``(token,
    n_target, n_ref, delta, z)`` — positive z = target signature,
    negative = target blind spot.

    Determinism: the ONLY aggregates are exact integer counts; δ, σ, z
    are one-shot per-token double expressions over those integers,
    mirrored token-for-token in the oracle (no cross-row double sum
    exists to quantize), and the ordering key is the 6-dp-rounded |z|
    with a token tiebreak so the cut is total. Shape: one corpus scan →
    token-keyed conditional-count aggregate, 2-row totals broadcast,
    TakeOrdered cut — linear, the keyness_g2 plan with a different
    score expression.
    """
    toks = df.select(
        is_target.cast("int").alias("_t"),
        F.explode(word_tokens(F.col(text_col))).alias("token"),
    )
    per = toks.groupBy("token").agg(
        F.sum("_t").cast("bigint").alias("n_target"),
        F.sum(F.lit(1) - F.col("_t")).cast("bigint").alias("n_ref"),
    ).filter(F.col("n_target") + F.col("n_ref") >= min_count)
    tot = per.agg(
        F.sum("n_target").cast("bigint").alias("_tt"),
        F.sum("n_ref").cast("bigint").alias("_tr"),
    )
    a0 = F.lit(float(alpha0))
    yt = F.col("n_target").cast("double")
    yr = F.col("n_ref").cast("double")
    nt = F.col("_tt").cast("double")
    nr = F.col("_tr").cast("double")
    aw = a0 * (yt + yr) / (nt + nr)
    delta = F.log((yt + aw) / (nt + a0 - yt - aw)) - F.log(
        (yr + aw) / (nr + a0 - yr - aw)
    )
    sigma = F.sqrt(1.0 / (yt + aw) + 1.0 / (yr + aw))
    z = delta / sigma
    scored = per.crossJoin(F.broadcast(tot)).select(
        "token",
        "n_target",
        "n_ref",
        (F.round(delta, 6) + 0.0).alias("delta"),
        (F.round(z, 6) + 0.0).alias("z"),
    )
    return scored.orderBy(
        F.desc(F.abs(F.col("z"))), F.asc("token")
    ).limit(top_n)


def heaps_fit(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_points: int = 10,
) -> DataFrame:
    """Heaps'/Herdan's law fit ``V(N) = K·N^β`` of vocabulary growth
    (Heaps 1978): how fast distinct types accumulate with corpus size —
    the companion diagnostic to :func:`zipf_fit` (natural text: β ≈
    0.4–0.6; templated/synthetic corpora flatten early, OCR noise and
    id-like garbage push β toward 1). Corpus-mix curation reads it to
    size vocabulary budgets and spot degenerate sources before
    tokenizer training.

    Nested corpus prefixes come from the md5 hash-bucket convention
    (``hash_bucket(id, 'heaps', n_points)``): prefix i = documents in
    buckets 0..i — deterministic, engine-portable, and each prefix is
    a uniform random subsample of the corpus, which is exactly the
    exchangeability Heaps' law assumes (document ORDER would bias the
    curve with source-ordered lakes). ``N_i`` = prefix token mass;
    ``V_i`` = types whose FIRST bucket ≤ i (one min-aggregate — no
    per-prefix distinct pass). Log-log OLS over the ≤ ``n_points``
    (ln N_i, ln V_i) points via :func:`stats.ols_xy`.

    Returns ONE row ``(n_points, beta, log_k, r2)``; NULL stats when
    the fit is degenerate (< 2 non-empty prefixes or zero variance).

    Shape: one corpus scan → (bucket) mass aggregate + (token) min
    aggregate + (first-bucket) count — all map-side combinable; the
    cumulative windows run over the ``n_points``-row dense bucket
    table (bounded by the parameter, the KM-bucket-table precedent).
    """
    from .sampling import hash_bucket
    from .stats import ols_xy

    if n_points < 2:
        raise ValueError("heaps_fit: need n_points >= 2")
    toks = df.select(
        hash_bucket(F.col(id_col), "heaps", n_points)
        .cast("int")
        .alias("_b"),
        F.explode(word_tokens(F.col(text_col))).alias("token"),
    )
    mass = toks.groupBy("_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("_m")
    )
    vnew = (
        toks.groupBy("token")
        .agg(F.min("_b").alias("_fb"))
        .groupBy(F.col("_fb").alias("_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("_v"))
    )
    spark = df.sparkSession
    idx = spark.range(n_points).select(F.col("id").cast("int").alias("_b"))
    cells = (
        idx.join(mass, "_b", "left")
        .join(vnew, "_b", "left")
        .select(
            "_b",
            F.coalesce("_m", F.lit(0)).cast("bigint").alias("_m"),
            F.coalesce("_v", F.lit(0)).cast("bigint").alias("_v"),
        )
    )
    from pyspark.sql import Window

    wc = Window.orderBy("_b").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pts = (
        cells.select(
            F.sum("_m").over(wc).alias("_N"),
            F.sum("_v").over(wc).alias("_V"),
        )
        .filter((F.col("_N") > 0) & (F.col("_V") > 0))
        .select(
            F.lit("all").alias("_g"),
            F.log(F.col("_N").cast("double")).alias("_x"),
            F.log(F.col("_V").cast("double")).alias("_y"),
        )
    )
    fit = ols_xy(pts, "_g", "_x", "_y").select(
        "n_points",
        F.col("slope").alias("beta"),
        F.col("intercept").alias("log_k"),
        "r2",
    )
    # take(1) materializes the fit ONCE (limit(1).count() + returning
    # the unpersisted frame ran the whole job twice — r12 ADVICE)
    rows = fit.take(1)
    if not rows:
        return spark.range(1).select(
            F.lit(0).cast("bigint").alias("n_points"),
            F.lit(None).cast("double").alias("beta"),
            F.lit(None).cast("double").alias("log_k"),
            F.lit(None).cast("double").alias("r2"),
        )
    r = rows[0]
    return spark.range(1).select(
        F.lit(int(r["n_points"])).cast("bigint").alias("n_points"),
        F.lit(r["beta"]).cast("double").alias("beta"),
        F.lit(r["log_k"]).cast("double").alias("log_k"),
        F.lit(r["r2"]).cast("double").alias("r2"),
    )


def yule_k(df: DataFrame, text_col: str) -> DataFrame:
    """Yule's characteristic K (Yule 1944): ``K = 10⁴·(Σ_f f²·V_f − N)
    / N²`` over the token frequency spectrum — the classic
    length-invariant lexical-richness constant (repetitiveness rises
    K; rich vocabulary lowers it), the single-number companion to the
    full :func:`zipf_fit` / :func:`heaps_fit` curves: template spam
    and boilerplate jump out as K outliers before a curve is ever
    plotted. Since ``Σ_f f²·V_f = Σ_tokens tf²``, K needs only the
    token-frequency second moment — no spectrum materialization.

    Returns ONE row ``(vocab_size, total_tokens, yule_k)``.

    Determinism: tf counts are exact bigints; ``Σ tf²`` accumulates in
    DECIMAL(38,0) (a stopword at corpus scale squares past 2^63 — the
    jonckheere lesson); K is one mirrored double. Shape: one corpus
    scan → token groupBy → 1-row reduction, all map-side combinable.
    """
    toks = df.select(
        F.explode(word_tokens(F.col(text_col))).alias("token")
    )
    tf = toks.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("_f")
    )
    agg = tf.agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
        F.sum("_f").cast("bigint").alias("total_tokens"),
        F.sum(
            F.col("_f").cast("decimal(38,0)")
            * F.col("_f").cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("_f2"),
    )
    n = F.col("total_tokens").cast("double")
    k = (
        F.lit(10000.0)
        * (F.col("_f2").cast("double") - n)
        / (n * n)
    )
    return agg.select(
        "vocab_size",
        "total_tokens",
        F.when(
            F.col("total_tokens") > 0, F.round(k, 6) + 0.0
        ).alias("yule_k"),
    )


def burrows_delta(
    df: DataFrame,
    text_col: str,
    group_col,
    top_m: int = 30,
) -> DataFrame:
    """Burrows' Delta stylometric distance (Burrows 2002; Argamon
    2008): between every pair of document groups, the mean absolute
    difference of z-scored relative frequencies over the corpus's
    ``top_m`` most-frequent tokens — THE standard authorship /
    style-drift measure, and for corpus curation the "did these two
    sources come from the same generator?" screen (near-zero Delta
    between supposedly independent sources flags templated or
    machine-copied text). Function words dominate the top-m list by
    construction, which is what makes Delta a STYLE measure rather
    than a topic measure.

    ``group_col`` is a Column expression labeling each document's
    group (bounded small — authors/sources, not documents). Per group
    g and top-m token w: relative frequency ``f_gw = c_gw / N_g``;
    token-level mean/sd are taken ACROSS groups (population sd, the
    Delta convention); ``z_gw = (f_gw − μ_w)/σ_w`` for tokens with
    ``σ_w > 0``; ``Delta(a,b) = mean_w |z_aw − z_bw|``. Returns one
    row per unordered pair ``(group_a, group_b, n_tokens, delta)``,
    ``group_a < group_b``.

    Determinism: the top-m cut orders by ``(count desc, token asc)``
    (total); counts are exact ints, so f/μ/σ/z are identical doubles
    in both engines; each ``|z_a − z_b|`` term quantizes to integer
    nanos before the per-pair mean (the repo's cross-row double-sum
    rule). Shape: one corpus scan → (group, token) count aggregate;
    everything after the cut is k·m rows (bounded by parameters), so
    the pair self-join is a broadcast-scale operation.
    """
    toks = df.select(
        group_col.cast("string").alias("_g"),
        F.explode(word_tokens(F.col(text_col))).alias("token"),
    ).filter(F.col("_g").isNotNull())
    cell = toks.groupBy("_g", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("_c")
    )
    topm = (
        cell.groupBy("token")
        .agg(F.sum("_c").cast("bigint").alias("_tot"))
        .orderBy(F.desc("_tot"), F.asc("token"))
        .limit(top_m)
        .select("token")
    )
    gtot = cell.groupBy("_g").agg(
        F.sum("_c").cast("bigint").alias("_n")
    )
    n_groups = gtot.count()
    # dense (group x top-m token) grid so absent tokens score f = 0;
    # relative frequencies quantize to integer picos BEFORE the
    # cross-group moments (a k-double sum is still order-dependent at
    # the ulp — the repo's cross-row double-sum rule)
    grid = gtot.crossJoin(F.broadcast(topm))
    fgrid = grid.join(cell, ["_g", "token"], "left").select(
        "_g",
        "token",
        F.round(
            F.coalesce(F.col("_c"), F.lit(0)).cast("double")
            / F.col("_n").cast("double")
            * 1e12
        )
        .cast("bigint")
        .alias("_fq"),
    )
    kd = F.lit(float(n_groups))
    mom = fgrid.groupBy("token").agg(
        F.sum("_fq").cast("bigint").alias("_s1"),
        F.sum(
            F.col("_fq").cast("decimal(38,0)")
            * F.col("_fq").cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("_s2"),
    ).select(
        "token",
        (F.col("_s1").cast("double") / kd).alias("_mu"),
        F.sqrt(
            F.col("_s2").cast("double") / kd
            - (F.col("_s1").cast("double") / kd)
            * (F.col("_s1").cast("double") / kd)
        ).alias("_sd"),
    )
    z = fgrid.join(F.broadcast(mom), "token").filter(
        F.col("_sd") > 0.0
    ).select(
        "_g",
        "token",
        (
            (F.col("_fq").cast("double") - F.col("_mu")) / F.col("_sd")
        ).alias("_z"),
    )
    a = z.select(
        F.col("_g").alias("group_a"), "token", F.col("_z").alias("_za")
    )
    b = z.select(
        F.col("_g").alias("group_b"), "token", F.col("_z").alias("_zb")
    )
    pairs = a.join(b, "token").filter(
        F.col("group_a") < F.col("group_b")
    )
    term = F.round(F.abs(F.col("_za") - F.col("_zb")) * 1e9).cast(
        "bigint"
    )
    return (
        pairs.groupBy("group_a", "group_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(term).cast("bigint").alias("_dsum"),
        )
        .select(
            "group_a",
            "group_b",
            "n_tokens",
            (
                F.round(
                    F.col("_dsum").cast("double")
                    / 1e9
                    / F.col("n_tokens").cast("double"),
                    6,
                )
                + 0.0
            ).alias("delta"),
        )
        .orderBy("group_a", "group_b")
    )
