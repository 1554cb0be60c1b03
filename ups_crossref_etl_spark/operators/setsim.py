"""Exact set-similarity self-join via prefix filtering (PPJoin-style).

Extension layer. The EXACT counterpart of the MinHash/SimHash stack in
``operators/dedup.py``: emits every document pair whose token-set
Jaccard similarity reaches the threshold — no probabilistic recall gap,
so it is the right tool when a miss is expensive (legal dedup,
benchmark decontamination audits) and the threshold is high.

The naive formulation is an all-pairs token join: one shared stopword
("the") alone pairs every document containing it — O(n²) rows out of a
single token block. Prefix filtering (Chaudhuri et al., "A Primitive
Operator for Similarity Joins"; Xiao et al., PPJoin) kills that:

- Order every document's distinct tokens by GLOBAL document frequency,
  rarest first (ties by token text) — the canonical order.
- Two sets with Jaccard ≥ t must share at least one token among each
  side's first ``|set| − ceil(t·|set|) + 1`` tokens in that order (if
  the prefixes were disjoint, even perfect agreement on every later
  token could not reach t). So candidates are generated by equi-joining
  PREFIX tokens only — and prefixes are dominated by RARE tokens, whose
  blocks are small by construction. The frequent-token blocks that blow
  up the naive join never enter the candidate stage.
- A length filter (``t·|a| ≤ |b|``) prunes size-incompatible pairs in
  the same join, and exact overlap counting runs on candidate pairs
  only.

Scale shape: one corpus scan builds ``(doc, token)``; document
frequencies are a token-keyed count; the per-doc ordering is one
window over the doc partition; the candidate join is keyed on prefix
tokens (small blocks); verification joins candidate pairs back to
token rows — cost ∝ candidates × avg set size, never n². Everything is
built-in DataFrame ops — no UDF anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import word_tokens


def setsim_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    shingle_width: int = 1,
    round_digits: int = 4,
) -> DataFrame:
    """All pairs with token-set Jaccard ≥ ``threshold``:
    ``(id_a, id_b, overlap, size_a, size_b, jaccard)`` with
    ``id_a < id_b``. Exact — the guarantee MinHash trades away.

    ``shingle_width`` picks the set element: 1 compares vocabularies
    (topical similarity — template-generated corpora look alike), w>1
    compares word w-gram shingles (sequence similarity — the near-dup
    contract, same unit as the MinHash stack). Documents shorter than
    ``shingle_width`` tokens have an empty set and never pair."""
    if not 0 < threshold <= 1:
        raise ValueError("setsim_join: threshold must be in (0, 1]")
    if shingle_width < 1:
        raise ValueError("setsim_join: shingle_width must be >= 1")
    toks = word_tokens(F.col(text_col))
    if shingle_width == 1:
        elems = toks
    else:
        w_ = shingle_width
        # row-local shingle generation (codegen HOFs); guard short docs —
        # sequence(1, 0) would generate a DESCENDING [1, 0]
        elems = F.when(
            F.size(toks) >= w_,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - w_ + 1),
                lambda i: F.array_join(F.slice(toks, i, w_), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
    from ..sources.lake import input_bytes_below, spread_scan

    # r14: same treatment as containment_join — spread a
    # parallelism-starved scan before the shingle map (row-local,
    # layout-invariant), broadcast the bounded rank table (gated on
    # input file bytes), and checkpoint the ranked rows feeding both
    # candidate-join sides (previously the whole explode → dfreq join →
    # window pipeline executed once per side).
    arr = spread_scan(df.select(id_col, text_col)).select(
        F.col(id_col).alias("_id"), F.array_distinct(elems).alias("_arr")
    ).localCheckpoint(eager=False)
    tok = arr.select("_id", F.explode("_arr").alias("_t"))
    dfreq = tok.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))
    if input_bytes_below(df, 64 * 1024 * 1024):
        dfreq = F.broadcast(dfreq)
    w = Window.partitionBy("_id").orderBy("_df", "_t")
    ranked = (
        tok.join(dfreq, "_t")
        .select(
            "_id",
            "_t",
            F.row_number().over(w).alias("_pos"),
            F.count(F.lit(1)).over(Window.partitionBy("_id")).alias("_sz"),
        )
        .localCheckpoint(eager=False)
    )
    # prefix length |s| - ceil(t*|s|) + 1
    prefix = ranked.filter(
        F.col("_pos")
        <= F.col("_sz") - F.ceil(F.lit(threshold) * F.col("_sz")) + 1
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "_t")
        .filter(
            (F.col("a._id") < F.col("b._id"))
            # length filter: Jaccard >= t forces t*|a| <= |b| (and the
            # symmetric bound, implied once both orders are generated)
            & (F.lit(threshold) * F.col("a._sz") <= F.col("b._sz"))
            & (F.lit(threshold) * F.col("b._sz") <= F.col("a._sz"))
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
        )
        .distinct()
    )
    # verification: candidate pairs join the two doc-sized shingle ARRAYS
    # and intersect row-locally — measured 10x faster than re-exploding
    # candidates against token rows and group-counting (same change as
    # containment_join)
    va = arr.select(F.col("_id").alias("id_a"), F.col("_arr").alias("_aa"))
    vb = arr.select(F.col("_id").alias("id_b"), F.col("_arr").alias("_ab"))
    j = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("_aa", "_ab")).alias("overlap"),
            F.size("_aa").alias("size_a"),
            F.size("_ab").alias("size_b"),
        )
    )
    jac = F.col("overlap") / (
        F.col("size_a") + F.col("size_b") - F.col("overlap")
    )
    return (
        j.filter(jac >= threshold)
        .select(
            "id_a",
            "id_b",
            F.col("overlap").cast("long").alias("overlap"),
            F.col("size_a").cast("long").alias("size_a"),
            F.col("size_b").cast("long").alias("size_b"),
            F.round(jac, round_digits).alias("jaccard"),
        )
    )


def containment_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    shingle_width: int = 3,
    round_digits: int = 4,
) -> DataFrame:
    """ASYMMETRIC set-containment self-join: every directed pair where
    ``|A ∩ B| / |A| ≥ threshold`` (A's shingles mostly inside B) —
    the subset-detection complement of ``setsim_join``'s symmetric
    Jaccard. Jaccard misses exactly this case: a paragraph quoted
    inside a 100x longer document has near-zero Jaccard but containment
    ~1. This is the quote/boilerplate/excerpt detector (and the
    direction tells you which document is the fragment).

    Prefix filtering adapts to the asymmetry: only the CONTAINED side
    can be prefix-pruned (A must share a token among its rarest
    ``|A| − ceil(t·|A|) + 1``; B contributes its full token list —
    a superset can match A on any of A's tokens), plus the length bound
    ``|B| ≥ t·|A|``. Candidate blocks stay rare-token-dominated on the
    A side, so frequent-token blocks never explode against each other.

    Returns ``(id_a, id_b, overlap, size_a, size_b, containment)`` —
    directed, ``id_a ≠ id_b``, A is the (mostly-)contained side.
    """
    if not 0 < threshold <= 1:
        raise ValueError("containment_join: threshold must be in (0, 1]")
    toks = word_tokens(F.col(text_col))
    w_ = shingle_width
    if w_ == 1:
        elems = toks
    else:
        elems = F.when(
            F.size(toks) >= w_,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - w_ + 1),
                lambda i: F.array_join(F.slice(toks, i, w_), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
    from ..sources.lake import input_bytes_below, spread_scan

    # r13: tokenize+shingle is the heaviest per-row map work in the text
    # battery; spread a single-row-group scan so it runs on every core
    # (guide §2.5 input skew; no-op on multi-split inputs). Row-local
    # work — partition-layout-invariant by construction.
    arr = spread_scan(df.select(id_col, text_col)).select(
        F.col(id_col).alias("_id"), F.array_distinct(elems).alias("_arr")
    ).localCheckpoint(eager=False)
    tok = arr.select("_id", F.explode("_arr").alias("_t"))
    dfreq = tok.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))
    # r14 (r13 verdict #4): the token-rank join only needs dfreq to
    # ORDER each doc's tokens — when the shingle-type table is bounded
    # (gated on the INPUT's file bytes, known driver-side; distinct
    # shingles <= token positions <= bytes) broadcast it so the
    # corpus-sized tok relation is never shuffled by token for ranking.
    # Falls back to the shuffle join on big/unknown inputs — the rule
    # is scale-adaptive, not a local[32] tune.
    if input_bytes_below(df, 64 * 1024 * 1024):
        dfreq = F.broadcast(dfreq)
    w = Window.partitionBy("_id").orderBy("_df", "_t")
    # r13: checkpoint — ``ranked`` feeds BOTH join sides (prefix_a
    # and full_b); unchecked, the whole explode → dfreq join → two-window
    # pipeline is planned and executed once per side (the _before plan
    # shows the duplicated subtree). One materialization of the narrow
    # (_id, _t, _pos, _sz) rows halves the candidate-generation work.
    # r14: LAZY — the candidate join's first stage materializes it; the
    # eager form paid a standalone job + driver sync per run.
    ranked = tok.join(dfreq, "_t").select(
        "_id",
        "_t",
        F.row_number().over(w).alias("_pos"),
        F.count(F.lit(1)).over(Window.partitionBy("_id")).alias("_sz"),
    ).localCheckpoint(eager=False)
    prefix_a = ranked.filter(
        F.col("_pos") <= F.col("_sz") - F.ceil(F.lit(threshold) * F.col("_sz")) + 1
    )
    full_b = ranked.select(
        F.col("_id").alias("_idb"), "_t", F.col("_sz").alias("_szb")
    )
    cand = (
        prefix_a.join(full_b, "_t")
        .filter(
            (F.col("_id") != F.col("_idb"))
            & (F.col("_szb") >= F.lit(threshold) * F.col("_sz"))
        )
        .select(F.col("_id").alias("id_a"), F.col("_idb").alias("id_b"))
        .distinct()
    )
    # verification: two id-keyed joins carrying the SHINGLE ARRAYS, then a
    # row-local array_intersect — measured 10x faster than re-exploding
    # candidate pairs against token rows and group-counting (the arrays
    # are doc-sized and codegen intersects them in place; the exploded
    # plan shuffles candidates x avg-set-size rows instead)
    va = arr.select(F.col("_id").alias("id_a"), F.col("_arr").alias("_aa"))
    vb = arr.select(F.col("_id").alias("id_b"), F.col("_arr").alias("_ab"))
    j = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("_aa", "_ab")).alias("overlap"),
            F.size("_aa").alias("size_a"),
            F.size("_ab").alias("size_b"),
        )
    )
    cont = F.col("overlap") / F.col("size_a")
    return j.filter(cont >= threshold).select(
        "id_a",
        "id_b",
        F.col("overlap").cast("long").alias("overlap"),
        F.col("size_a").cast("long").alias("size_a"),
        F.col("size_b").cast("long").alias("size_b"),
        F.round(cont, round_digits).alias("containment"),
    )


def bounded_jaccard_edges(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    with_score: bool = False,
) -> DataFrame:
    """All-pairs exact unigram-Jaccard edges over a SAMPLE-BOUNDED frame.

    Ground-truth twin of the LSH/PPJoin candidate generators: the caller
    passes an already-bounded ``docs`` (e.g. ``doc_id < 80``) and gets the
    brute-force edge set ``(src, dst)`` with ``src < dst`` and token-set
    Jaccard ≥ ``threshold`` (plus a 4-dp ``jaccard`` column when
    ``with_score``, filtered AFTER rounding so it mirrors a rounded SQL
    oracle). This is O(n²) BY DESIGN — it exists to pin recall/precision
    contracts for the scale-safe paths and must never run unbounded; the
    100 TB paths are ``setsim_join`` / ``minhash_dedup`` above.
    """
    toks = docs.select(
        F.col(id_col),
        F.array_distinct(word_tokens(text_col)).alias("tok"),
    )
    a = toks.select(F.col(id_col).alias("src"), F.col("tok").alias("ta"))
    b = toks.select(F.col(id_col).alias("dst"), F.col("tok").alias("tb"))
    jac = F.size(F.array_intersect("ta", "tb")) / F.nullif(
        F.size(F.array_union("ta", "tb")), F.lit(0)
    ).cast("double")
    pairs = a.crossJoin(b).filter(F.col("src") < F.col("dst"))
    if with_score:
        return pairs.select(
            "src", "dst", F.round(jac, 4).alias("jaccard")
        ).filter(F.col("jaccard") >= threshold)
    return pairs.filter(jac >= threshold).select("src", "dst")
