"""Unigram-LM subword segmentation (SentencePiece-style inference).

The second of the two standard subword tokenizer families (Kudo 2018;
``operators/bpe.py`` covers the merge-based one): given a piece
vocabulary with unigram log-probabilities, segment every word into the
maximum-likelihood piece sequence by Viterbi DP. Pipelines run this to
tokenize a corpus under an existing unigram vocab — the inference step;
the vocab here is frequency-derived from the corpus itself (character
n-grams), which keeps the whole operator self-contained and
oracle-checkable while exercising exactly the production DP.

Reference parity note: no counterpart in /root/reference (a
SQLite/pandas bibliometric ETL) — LLM-training-data extension surface,
same family as operators/bpe.py.

Determinism contract (the repo's round-before-compare rule): piece
scores are INTEGER micro-nats — ``round(1e6 * ln(count/total))`` — so
the DP compares exact int64 sums, never accumulated doubles; ties break
by fewer pieces, then lexicographically smallest space-joined piece
sequence (total: equal-count candidates are equal-length strings).

Scale shape (100 TB):
- word counting is ONE corpus shuffle carrying (word, partial count)
  with map-side combine;
- candidate pieces are generated row-locally over the DISTINCT-word
  table (vocab-sized), aggregated by ONE piece-keyed groupBy whose
  output is bounded by the char-n-gram space (≤ 36^max_len rows) — a
  broadcastable model no matter the corpus size;
- Viterbi runs per DISTINCT word (vocab-sized, not corpus-sized) in an
  Arrow-batched pandas UDF with the score table a task-closure
  constant; per-doc tokenization is then a broadcast join of the
  corpus's word rows against the segmented vocab — the Zipf head is
  segmented once, not once per occurrence (the bpe_encode memo
  argument, made structural).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..functions.text import word_tokens

__all__ = ["word_counts", "unigram_vocab", "unigram_segment_words"]


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt) over the corpus — split row-locally, ONE shuffle."""
    return (
        docs.select(
            F.explode(word_tokens(F.col(text_col))).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def unigram_vocab(
    wc: DataFrame, max_piece_len: int = 4, min_count: int = 0
) -> DataFrame:
    """Frequency-derived piece vocabulary: every character n-gram
    (1..``max_piece_len``) of every distinct word, weighted by the
    word's corpus count; pieces below ``min_count`` are pruned EXCEPT
    single characters (kept unconditionally — the coverage guarantee
    that makes every word segmentable). Returns
    ``(piece, piece_cnt, score)`` with integer micro-nat scores
    ``round(1e6 * ln(piece_cnt / total))`` where ``total`` sums over the
    KEPT vocab (a one-row aggregate, broadcast)."""
    pieces = (
        wc.withColumn("_L", F.explode(F.sequence(F.lit(1), F.lit(max_piece_len))))
        .filter(F.length("word") >= F.col("_L"))
        .withColumn(
            "_i",
            F.explode(F.sequence(F.lit(1), F.length("word") - F.col("_L") + 1)),
        )
        .select(
            F.expr("substr(word, _i, _L)").alias("piece"),
            F.col("cnt"),
        )
    )
    agg = pieces.groupBy("piece").agg(F.sum("cnt").alias("piece_cnt"))
    kept = agg.filter(
        (F.length("piece") == 1) | (F.col("piece_cnt") >= F.lit(min_count))
    )
    total = kept.agg(F.sum("piece_cnt").alias("_tot"))
    return (
        kept.crossJoin(F.broadcast(total))
        .select(
            "piece",
            "piece_cnt",
            F.round(
                F.lit(1_000_000.0) * F.log(F.col("piece_cnt") / F.col("_tot")), 0
            )
            .cast("bigint")
            .alias("score"),
        )
    )


def _viterbi(word: str, scores: dict[str, int], max_len: int) -> tuple[str, int, int]:
    """Best segmentation of ``word``: (space-joined pieces, n_pieces,
    total integer score). Objective: max score, then min pieces, then
    lexicographically smallest joined string — all integer/string
    comparisons, engine-independent."""
    n = len(word)
    # dp[i] = (neg-able best) tuple for prefix word[:i]
    dp: list[tuple[int, int, str] | None] = [None] * (n + 1)
    dp[0] = (0, 0, "")
    for i in range(1, n + 1):
        best: tuple[int, int, str] | None = None
        for L in range(1, min(max_len, i) + 1):
            p = word[i - L : i]
            s = scores.get(p)
            prev = dp[i - L]
            if s is None or prev is None:
                continue
            cand = (
                prev[0] + s,
                prev[1] + 1,
                p if prev[2] == "" else prev[2] + " " + p,
            )
            if best is None:
                best = cand
            else:
                # max score, min count, min path
                if (-cand[0], cand[1], cand[2]) < (-best[0], best[1], best[2]):
                    best = cand
        dp[i] = best
    assert dp[n] is not None, f"word {word!r} not coverable by vocab"
    sc, cnt, path = dp[n]
    return path, cnt, sc


def unigram_segment_words(
    wc: DataFrame, vocab: DataFrame, max_piece_len: int = 4
) -> DataFrame:
    """Viterbi-segment every DISTINCT word under ``vocab``.

    Returns ``(word, cnt, seg, n_pieces, score)``. The score table is
    collected once (bounded: char-n-gram space) into the task closure;
    segmentation is one Arrow-batched map over the vocab-sized word
    table. Corpus-scale tokenization is then a broadcast join of this
    result back onto (doc, word) rows — never per-occurrence DP.
    """
    scores = {r["piece"]: int(r["score"]) for r in vocab.collect()}

    out_schema = StructType(
        [
            StructField("word", StringType()),
            StructField("cnt", LongType()),
            StructField("seg", StringType()),
            StructField("n_pieces", LongType()),
            StructField("score", LongType()),
        ]
    )

    def seg_batch(it):
        for pdf in it:
            segs, cnts, scs = [], [], []
            for w in pdf["word"]:
                s, c, sc = _viterbi(w, scores, max_piece_len)
                segs.append(s)
                cnts.append(c)
                scs.append(sc)
            yield pd.DataFrame(
                {
                    "word": pdf["word"],
                    "cnt": pdf["cnt"],
                    "seg": segs,
                    "n_pieces": cnts,
                    "score": scs,
                }
            )

    return wc.mapInPandas(seg_batch, schema=out_schema)
