"""Deduplication operators for training-data pipelines.

No reference counterpart (extension layer per BASELINE.json north star).
All operators are pure DataFrame transforms designed for 100 TB inputs:

- exact:      one shuffle on a 128-bit content hash (no full-text shuffle).
- minhash:    shingle → minhash signature → LSH band buckets → bucket-join.
              Candidate pairs are generated per-band (equi-join on band
              hash), so the only shuffles are on small fixed-width keys;
              the classic all-pairs O(n²) comparison never materializes.
- simhash:    64-bit simhash from token hashes; near-dup = hamming ≤ k via
              block permutation buckets (Charikar/Manku-Jain-Sarma style).
- ngram_jaccard: exact Jaccard verification on candidate pairs only.
- embedding near-dup: cosine ≥ threshold within LSH buckets (see
  ``similarity.py`` for the bucketing machinery).

Everything is built from JVM-side primitives (xxhash64, explode, groupBy);
no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import word_tokens

# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------


def exact_dup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group identical texts by md5 content hash.

    Returns ``(content_hash, n_dups, keeper_id)`` for groups with >1 member;
    ``keeper_id`` is the minimum id (deterministic canonical survivor).
    Scale: single shuffle on the 128-bit hash; map-side partial agg first.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col).alias("_id"))
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("_id").alias("keeper_id"))
        .filter(F.col("n_dups") > 1)
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the min-id row per identical text. Deterministic survivor choice
    (row_number over hash, ordered by id) — NOT dropDuplicates, whose
    survivor is partition-order-dependent."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )


# --------------------------------------------------------------------------
# Shingling + MinHash + LSH
# --------------------------------------------------------------------------


def shingles(text_col: Column, k: int = 3) -> Column:
    """k-word shingles as a string array (per-row higher-order-function
    form — convenient for tiny inputs/tests; the scale path is
    ``shingle_hash_rows`` below, which stays in whole-stage codegen)."""
    toks = word_tokens(text_col)
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(
        n >= k,
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, k), " ")),
    ).otherwise(F.array(F.array_join(toks, " ")))


def shingle_hash_rows(
    df: DataFrame, text_col: str, id_col: str, k: int = 3, distinct: bool = True
) -> DataFrame:
    """Distinct k-word shingle *hashes* per document: (``_id``, ``_sh``).

    Shape matters at scale: posexplode tokens → lead() window rebuilds
    adjacency → one xxhash64 over the k tokens. Everything is codegen'd
    row-at-a-time arithmetic (no array materialization per row — long
    documents never blow task memory), and the single shuffle is the
    window partition on the document id. Documents shorter than k tokens
    contribute one shingle of their full text, so no document is dropped.
    (The per-row array formulation this replaces was measured 5-50×
    slower: higher-order functions are interpreted, not codegen'd.)
    """
    # r14 (r13 verdict #6): spread a parallelism-starved scan before
    # tokenize+posexplode — xxhash64 shingle keys are content-derived
    # and the downstream (id-keyed windows, min/count aggregates,
    # distinct) is layout-invariant; no-op on multi-split inputs.
    from ..sources.lake import spread_scan

    toks = spread_scan(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col).alias("_id"),
        F.posexplode(word_tokens(F.col(text_col))).alias("_pos", "_tok"),
    )
    w = Window.partitionBy("_id").orderBy("_pos")
    wn = Window.partitionBy("_id")
    leads = [F.lead("_tok", i).over(w).alias(f"_t{i}") for i in range(1, k)]
    rows = toks.select("_id", "_pos", "_tok", *leads, F.count(F.lit(1)).over(wn).alias("_n"))
    keep = F.col(f"_t{k - 1}").isNotNull() | ((F.col("_pos") == 0) & (F.col("_n") < k))
    hash_args = ["_tok"] + [F.coalesce(F.col(f"_t{i}"), F.lit("")) for i in range(1, k)]
    out = rows.filter(keep).select("_id", F.xxhash64(*hash_args).alias("_sh"))
    # distinct costs a full shuffle of the largest intermediate — callers
    # whose aggregate is set-insensitive (min over a multiset == min over
    # the set) skip it
    return out.distinct() if distinct else out


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    shingle_k: int = 3,
    shingle_rows: DataFrame | None = None,
) -> DataFrame:
    """MinHash signatures: 64 ``min(xxhash64(shingle_hash, seed))``
    aggregates over the exploded shingle rows — map-side partial agg, the
    shuffle carries one 64-column row per document.

    ``shingle_rows``: precomputed non-distinct (``_id``, ``_sh``) rows to
    reuse (see ``minhash_near_dup_pairs`` — the shingle explode is the
    heaviest scan of the pipeline and must not run twice at corpus scale).

    Returns (``_id``, ``mh_0``..``mh_{H-1}``).
    """
    sh = (
        shingle_rows
        if shingle_rows is not None
        else shingle_hash_rows(df, text_col, id_col, shingle_k, distinct=False)
    )
    aggs = [
        F.min(F.xxhash64("_sh", F.lit(s))).alias(f"mh_{s}") for s in range(num_hashes)
    ]
    return sh.groupBy("_id").agg(*aggs)


def _banded_rows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    shingle_k: int,
    max_bucket_size: int | None,
    shingle_rows: DataFrame | None = None,
) -> DataFrame:
    """(``_id``, ``band``, ``bhash``) LSH band rows — the blocking key
    shared by the self-join (``minhash_lsh_candidates``) and the
    cross-snapshot join (``incremental_dedup``)."""
    rows_per_band = num_hashes // bands
    withsig = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_k, shingle_rows=shingle_rows
    )
    banded = withsig.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.col(f"mh_{b * rows_per_band + i}") for i in range(rows_per_band)]
                        ).alias("bhash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("_id", "bb.band", "bb.bhash")
    if max_bucket_size is not None:
        # count() over the bucket key is the same shuffle the self-join
        # needs, so the cap costs one window pass, not an extra exchange
        wb = Window.partitionBy("band", "bhash")
        banded = banded.withColumn("_bsz", F.count(F.lit(1)).over(wb)).filter(
            F.col("_bsz") <= F.lit(max_bucket_size)
        ).drop("_bsz")
    return banded


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    max_bucket_size: int | None = 5000,
    shingle_rows: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH on MinHash signatures.

    rows/band = num_hashes/bands; two docs collide if any band's slice of
    their signatures matches exactly. Output: (id_a, id_b) with id_a < id_b,
    distinct. Shuffles: one on (band_idx, band_hash) — fixed-width keys —
    then the self-join happens inside each bucket.

    ``max_bucket_size`` bounds the quadratic blow-up from degenerate
    buckets: a single boilerplate bucket of m docs yields m(m-1)/2
    candidate pairs, so one viral template at corpus scale turns the
    banded join into all-pairs. Buckets larger than the cap are dropped
    *per band* before the self-join (AQE skew-join only rebalances
    partitions; it cannot reduce the pair count). Docs in a mega-bucket
    in one band still pair through their other bands, and literal
    boilerplate clones are exact duplicates that ``exact_dedup`` removes
    upstream anyway. Pass ``None`` to disable the cap.
    """
    banded = _banded_rows(
        df, text_col, id_col, num_hashes, bands, shingle_k, max_bucket_size,
        shingle_rows=shingle_rows,
    )
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bhash") == F.col("r.bhash"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .distinct()
    )
    return pairs


def ngram_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 3,
    threshold: float = 0.8,
    shingle_rows: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs (verification stage after
    LSH): |A∩B| via an equi-join of both sides' shingle-hash rows,
    |A∪B| = |A|+|B|-|A∩B|. Candidate count is << n², and shingle rows
    join on a fixed-width hash key — no per-row set materialization.
    Returns (id_a, id_b, jaccard)."""
    sh = (
        shingle_rows.distinct()
        if shingle_rows is not None
        else shingle_hash_rows(df, text_col, id_col, shingle_k)
    )
    counts = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"))
    inter = (
        candidates.join(sh.select(F.col("_id").alias("id_a"), "_sh"), "id_a")
        .join(sh.select(F.col("_id").alias("id_b"), "_sh"), ["id_b", "_sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    out = (
        candidates.join(inter, ["id_a", "id_b"], "left")
        .join(counts.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na")), "id_a")
        .join(counts.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb")), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.coalesce("_inter", F.lit(0))
                / (F.col("_na") + F.col("_nb") - F.coalesce("_inter", F.lit(0)))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out


def minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.8,
    max_bucket_size: int | None = 5000,
) -> DataFrame:
    """LSH candidates + exact-Jaccard verify with the shingle explode
    computed ONCE: the non-distinct (``_id``, ``_sh``) rows — the
    pipeline's heaviest intermediate — are materialized via
    ``localCheckpoint`` and fed to both the signature aggregation and the
    verify joins. Running the explode twice (the composed
    ``minhash_lsh_candidates`` + ``ngram_jaccard_pairs`` form) doubles the
    dominant scan at corpus scale; measured at sf0.1/local[32] this fused
    form is ~1.6× faster cold (7.3s → 4.5s)."""
    # r14: LAZY checkpoint — every consumer (signature aggregation,
    # verify joins) reads full partitions, so the first stage of the
    # caller's action materializes it; the eager form paid a standalone
    # job plus a driver sync before the query even started.
    sh_rows = shingle_hash_rows(
        df, text_col, id_col, shingle_k, distinct=False
    ).localCheckpoint(eager=False)
    cand = minhash_lsh_candidates(
        df, text_col, id_col, num_hashes, bands, shingle_k, max_bucket_size,
        shingle_rows=sh_rows,
    )
    return ngram_jaccard_pairs(
        df, cand, text_col, id_col, shingle_k, threshold, shingle_rows=sh_rows
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.8,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → Jaccard verify → connected
    survivors. Each doc maps to the min id among its verified neighbors
    (single-hop union; iterate for full transitive closure on giant
    clusters — documented tradeoff, avoids an iterative job by default)."""
    verified = minhash_near_dup_pairs(
        df, text_col, id_col, num_hashes, bands, shingle_k, jaccard_threshold
    )
    # min neighbor per member (both directions) → rows whose min-neighbor < own id drop
    edges = verified.select(
        F.col("id_a").alias("m"), F.col("id_b").alias("o")
    ).unionByName(verified.select(F.col("id_b").alias("m"), F.col("id_a").alias("o")))
    min_nb = edges.groupBy("m").agg(F.min("o").alias("min_neighbor"))
    return (
        df.join(min_nb, df[id_col] == min_nb.m, "left")
        .filter(F.col("min_neighbor").isNull() | (F.col("min_neighbor") > df[id_col]))
        .drop("m", "min_neighbor")
    )


def near_dup_clusters(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.8,
    max_iter: int = 10,
) -> DataFrame:
    """Transitive near-dup clustering: LSH candidates → Jaccard verify →
    connected components over the verified-pair graph. Unlike
    ``minhash_dedup``'s single-hop min-neighbor (which can keep one doc
    per chain link on long chains), every member of a transitive cluster
    maps to one cluster id = min doc id in the component.

    Returns (node, component) for docs in ≥1 verified pair; docs with no
    near-dup are absent (they are their own singleton clusters)."""
    from .graph import connected_components

    verified = minhash_near_dup_pairs(
        df, text_col, id_col, num_hashes, bands, shingle_k, jaccard_threshold
    )
    edges = verified.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    return connected_components(edges, max_iter=max_iter)


def minhash_dedup_transitive(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.8,
) -> DataFrame:
    """``minhash_dedup`` with full transitive closure: keep exactly one doc
    (the min id) per connected near-dup cluster — chain A~B~C keeps only A
    even when A,C were never a verified pair."""
    clusters = near_dup_clusters(
        df, text_col, id_col, num_hashes, bands, shingle_k, jaccard_threshold
    )
    drop = clusters.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("_drop_id")
    )
    return df.join(drop, df[id_col] == F.col("_drop_id"), "left_anti")


def corpus_dedup_state(
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    max_bucket_size: int | None = 5000,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The corpus-side state ``incremental_dedup`` needs, computed once:
    ``(content_hashes, band_rows, distinct_shingle_rows)``. Persist these
    at corpus ingest (they are narrow fixed-width tables, a tiny fraction
    of the text bytes) and pass them to every subsequent batch call so the
    daily-batch cost never rescans the 100 TB corpus. Parameters must
    match the ones given to ``incremental_dedup``."""
    return (
        corpus.select(F.md5(F.col(text_col)).alias("_h")).distinct(),
        _banded_rows(
            corpus, text_col, id_col, num_hashes, bands, shingle_k, max_bucket_size
        ),
        shingle_hash_rows(corpus, text_col, id_col, shingle_k),
    )


def incremental_dedup(
    incoming: DataFrame,
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.8,
    max_bucket_size: int | None = 5000,
    corpus_hashes: DataFrame | None = None,
    corpus_band_rows: DataFrame | None = None,
    corpus_shingle_rows: DataFrame | None = None,
) -> DataFrame:
    """Cross-snapshot dedup — the production shape for a daily batch
    landing against an already-deduped 100 TB corpus: drop incoming docs
    that duplicate the corpus exactly (content-hash anti-join) or nearly
    (MinHash bands joined incoming×corpus ONLY; the corpus is never
    self-joined, so cost scales with |batch| × collision rate, not
    |corpus|²). Near matches are verified with exact shingle Jaccard
    before dropping — precision is exact, recall is the LSH band
    guarantee. Returns surviving incoming rows (schema unchanged).

    The corpus-side derivations (content hashes, band rows, distinct
    shingle rows) are pure functions of the corpus, so a production
    deployment persists them once at ingest and passes them back here —
    ``corpus_hashes`` (``_h``), ``corpus_band_rows`` (``_id, band,
    bhash``), ``corpus_shingle_rows`` (``_id, _sh`` distinct). With all
    three supplied the per-batch cost scans the corpus parquet **zero**
    times (only the precomputed narrow tables are joined); without them
    each call recomputes the corpus scan, which is O(|corpus|) per batch.

    The reference's insert-if-absent (src/barrazueta_pipeline_etl_crossref
    .py:599-601) is the exact-only special case of this operator."""
    inc_h = incoming.withColumn("_h", F.md5(F.col(text_col)))
    cor_h = (
        corpus_hashes
        if corpus_hashes is not None
        else corpus.select(F.md5(F.col(text_col)).alias("_h")).distinct()
    )
    inc1 = inc_h.join(cor_h.select("_h"), "_h", "left_anti").drop("_h")

    bi = _banded_rows(
        inc1, text_col, id_col, num_hashes, bands, shingle_k, max_bucket_size
    ).withColumnRenamed("_id", "id_a")
    bc = (
        corpus_band_rows
        if corpus_band_rows is not None
        else _banded_rows(
            corpus, text_col, id_col, num_hashes, bands, shingle_k, max_bucket_size
        )
    ).withColumnRenamed("_id", "id_b")
    cand = bi.join(bc, ["band", "bhash"]).select("id_a", "id_b").distinct()

    # exact-Jaccard verify across the two frames (same shape as
    # ngram_jaccard_pairs but with per-side shingle tables)
    sa = shingle_hash_rows(inc1, text_col, id_col, shingle_k)
    sb = (
        corpus_shingle_rows
        if corpus_shingle_rows is not None
        else shingle_hash_rows(corpus, text_col, id_col, shingle_k)
    )
    ca = sa.groupBy("_id").agg(F.count(F.lit(1)).alias("_na"))
    cb = sb.groupBy("_id").agg(F.count(F.lit(1)).alias("_nb"))
    inter = (
        cand.join(sa.select(F.col("_id").alias("id_a"), "_sh"), "id_a")
        .join(sb.select(F.col("_id").alias("id_b"), "_sh"), ["id_b", "_sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    near = (
        inter.join(ca.select(F.col("_id").alias("id_a"), "_na"), "id_a")
        .join(cb.select(F.col("_id").alias("id_b"), "_nb"), "id_b")
        .filter(
            F.col("_inter")
            / (F.col("_na") + F.col("_nb") - F.col("_inter"))
            >= jaccard_threshold
        )
        .select("id_a")
        .distinct()
    )
    return inc1.join(near, inc1[id_col] == near["id_a"], "left_anti")


# --------------------------------------------------------------------------
# Benchmark decontamination / repeated-passage detection
# --------------------------------------------------------------------------


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 13,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Training-set decontamination: flag corpus documents sharing any
    word n-gram with a benchmark/eval document (the GPT-3-appendix /
    overlap-filtering procedure every serious pretraining pipeline runs).

    Returns (``doc_id``, ``n_shared_ngrams``) — distinct corpus-doc
    n-grams that appear anywhere in the benchmark; docs with zero overlap
    are absent (filter or anti-join downstream to drop contaminated docs).

    Scale shape: both sides reduce to distinct fixed-width shingle hashes
    (``shingle_hash_rows`` — explode+window, codegen); the probe is an
    equi-join on the hash. A benchmark is typically millions of n-grams
    (MBs) against a corpus of trillions — broadcast it and the scan is
    map-side with ZERO shuffle of corpus data; set
    ``broadcast_benchmark=False`` only if the benchmark itself is huge."""
    cs = shingle_hash_rows(corpus, text_col, id_col, k=n)
    bs = shingle_hash_rows(benchmark, text_col, id_col, k=n).select("_sh").distinct()
    if broadcast_benchmark:
        bs = F.broadcast(bs)
    return (
        cs.join(bs, "_sh")
        .groupBy("_id")
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
        .withColumnRenamed("_id", "doc_id")
    )


def repeated_ngrams_summary(
    df: DataFrame, text_col: str, id_col: str, n: int = 20, min_docs: int = 2
) -> DataFrame:
    """Repeated-passage audit (the memorization-risk signal substring
    dedup acts on): how many distinct word n-grams occur in ≥ ``min_docs``
    documents, and the worst n-gram's document count. One groupBy on the
    shingle hash (map-side combinable); returns a single summary row
    (``n_repeated_ngrams``, ``max_docs_sharing``)."""
    sh = shingle_hash_rows(df, text_col, id_col, k=n)  # distinct per doc
    per = sh.groupBy("_sh").agg(F.count(F.lit(1)).alias("_nd")).filter(
        F.col("_nd") >= min_docs
    )
    return per.agg(
        F.count(F.lit(1)).alias("n_repeated_ngrams"),
        F.coalesce(F.max("_nd"), F.lit(0)).alias("max_docs_sharing"),
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------


def _signed_mask(b: int) -> int:
    """Bit-b mask as a signed 64-bit value (bit 63 = Long.MIN_VALUE)."""
    return (1 << b) if b < 63 else -(1 << 63)


def simhash_table(
    df: DataFrame,
    text_col: str,
    id_col: str,
    token_hash: str = "xxhash64",
    bits: int = 64,
) -> DataFrame:
    """SimHash per document, fully JVM-side via explode + ``bits`` sums.

    For each bit b: vote = Σ over tokens of (+1 if bit b set in
    hash(token) else -1); simhash bit b = vote > 0. Same exploded-
    aggregation shape as ``minhash_signatures`` (map-side combinable;
    shuffle carries ``bits`` ints per doc). Returns (``_id``, ``_sh``).

    ``token_hash``: ``"xxhash64"`` (production default, 64-bit) or
    ``"md5_60"`` — the first 15 hex chars of md5 as a 60-bit value, which
    DuckDB reproduces bit-for-bit (``CAST('0x' || substr(md5(t), 1, 15)
    AS BIGINT)``), making the whole simhash oracle-checkable. Pass
    ``bits=60`` with ``md5_60`` so every vote bit is hash-covered.
    """
    if token_hash == "xxhash64":
        h = F.xxhash64("_tok")
    elif token_hash == "md5_60":
        h = F.conv(F.substring(F.md5("_tok"), 1, 15), 16, 10).cast("bigint")
    else:  # pragma: no cover - guarded by callers
        raise ValueError(f"unknown token_hash {token_hash!r}")
    exploded = df.select(
        F.col(id_col).alias("_id"),
        F.explode(word_tokens(F.col(text_col))).alias("_tok"),
    ).select("_id", h.alias("_h"))
    votes = exploded.groupBy("_id").agg(
        *[
            F.sum(
                F.when(
                    F.col("_h").bitwiseAND(F.lit(_signed_mask(b))) != 0, F.lit(1)
                ).otherwise(F.lit(-1))
            ).alias(f"v_{b}")
            for b in range(bits)
        ]
    )
    out = F.lit(0).cast("bigint")
    for b in range(bits):
        out = out.bitwiseOR(
            F.when(F.col(f"v_{b}") > 0, F.lit(_signed_mask(b)).cast("bigint")).otherwise(
                F.lit(0).cast("bigint")
            )
        )
    return votes.select("_id", out.alias("_sh"))


def _block_spans(total_bits: int, blocks: int) -> list[tuple[int, int]]:
    """Partition ``total_bits`` into ``blocks`` contiguous (start, width)
    spans whose widths differ by at most one — every bit lands in exactly
    one block (no dropped remainder bits when blocks doesn't divide 64)."""
    base, rem = divmod(total_bits, blocks)
    spans, start = [], 0
    for i in range(blocks):
        width = base + (1 if i < rem else 0)
        spans.append((start, width))
        start += width
    return spans


def simhash_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    blocks: int = 4,
    token_hash: str = "xxhash64",
    bits: int = 64,
) -> DataFrame:
    """Near-dup candidates where hamming(simhash) could be small: split the
    ``bits``-bit hash into ``blocks`` contiguous blocks (widths differ by
    ≤1 bit when blocks doesn't divide ``bits`` — all bits are covered);
    docs sharing any block value are candidates.

    Recall guarantee (pigeonhole, Manku et al. WWW'07 style): a pair at
    hamming distance h differs in at most h blocks, so with ``blocks`` ≥
    h+1 at least one block is identical — **all pairs with hamming <
    blocks are guaranteed candidates**. To find pairs at hamming ≤ k, pass
    ``blocks = k + 1``. Pairs at hamming ≥ blocks may still surface (any
    shared block), but are not guaranteed. Returns (id_a, id_b, hamming).

    ``token_hash``/``bits``: see ``simhash_table`` — ``("md5_60", 60)``
    yields the DuckDB-reproducible variant the driver gate hash-checks.
    """
    sh = simhash_table(df, text_col, id_col, token_hash=token_hash, bits=bits)
    blocked = sh.select(
        "_id",
        "_sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftrightunsigned("_sh", start)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("bval"),
                    )
                    for i, (start, width) in enumerate(_block_spans(bits, blocks))
                ]
            )
        ).alias("bb"),
    ).select("_id", "_sh", "bb.blk", "bb.bval")
    a, b = blocked.alias("a"), blocked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.bit_count(F.col("a._sh").bitwiseXOR(F.col("b._sh"))).alias("hamming"),
        )
        .distinct()
    )


def quality_keeper(
    df: DataFrame, id_col: str, quality_col: str, edges: DataFrame
) -> DataFrame:
    """Quality-aware survivor selection over a near-dup graph: resolve
    ``edges`` into connected components and keep the HIGHEST-quality
    member of each (ties: min id) — production corpus dedup keeps the
    best copy (longest, cleanest), not the arbitrary min-id one the
    plain dedup family uses. Documents in no edge are singleton
    components and keep themselves.

    Returns one row per input doc:
    ``(id_col, quality_col, component, keeper_id, is_keeper)``.

    Scale shape: component labels come from min-label propagation
    (``graph.connected_components``, one node-keyed shuffle per
    iteration); keeper selection is ONE window over (component) ordered
    by (quality desc, id) — no self-join of the corpus against the
    keeper set."""
    from .graph import connected_components

    comp = connected_components(edges).withColumnRenamed("node", id_col)
    lab = (
        df.select(id_col, quality_col)
        .join(comp, id_col, "left")
        .withColumn("component", F.coalesce("component", F.col(id_col)))
    )
    w = (
        Window.partitionBy("component")
        .orderBy(F.desc(quality_col), F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    keeper = F.first(id_col).over(w)
    return lab.select(
        id_col,
        quality_col,
        "component",
        keeper.alias("keeper_id"),
        (F.col(id_col) == keeper).alias("is_keeper"),
    )
