"""Byte-pair-encoding merge training and segmentation.

Extension layer — the tokenizer-training step of an LLM data pipeline
(the existing ``text_analysis.bpe_ish_token_count`` only *estimates*
token counts with a fixed regex; this learns actual merges).

The key scale fact BPE training exploits: after the first aggregation
the working set is the WORD VOCABULARY with counts, not the corpus.
A 100 TB corpus has maybe 10⁷ distinct words; every training iteration
operates on that vocab table:

1. ``groupBy(word)`` once over the corpus (the only corpus-sized job —
   map-side combinable, shuffle carries (word, count)).
2. Per merge iteration: adjacent symbol pairs are generated row-locally
   (``transform`` over a ``sequence`` — codegen, no explode of corpus
   data), weighted by word count, one vocab-sized ``groupBy(pair)``;
   the arg-max pair (count desc, pair asc — total order, deterministic)
   is collected as driver model state (one row), and the merge is
   applied to the vocab with an Arrow-batched pandas UDF (the
   leftmost-first sequential merge is inherently order-dependent —
   exactly the "semantics Spark builtins can't express" case for a
   UDF; it touches vocab rows, never corpus rows).
   ``localCheckpoint`` per iteration truncates the growing lineage.

Segmentation of the corpus applies the whole learned merge list in one
Arrow-batched pass (corpus-sized but map-only, no shuffle).

Determinism: ties in pair counts break lexicographically; the merge
list is therefore a pure function of the corpus.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

from ..functions.text import py_word_tokens, word_tokens

#: Vocabulary bound for the driver-side BPE merge loop (the cox/ALS
#: driver-reduction pattern): below it, training collects the (word, n)
#: vocab ONCE and runs the merge rounds in Python — identical results,
#: none of the per-round job/UDF floors. Above it, the distributed
#: Arrow-UDF loop runs (billion-word vocabularies never fit a driver).
_DRIVER_MERGE_MAX = 65536


def _merge_word(syms: list, pair: tuple[str, str]) -> list:
    """Leftmost-first, non-overlapping application of one merge."""
    lo, hi = pair
    out: list = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == lo and syms[i + 1] == hi:
            out.append(lo + hi)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _merge_udf(pair: tuple[str, str]):
    @pandas_udf(ArrayType(StringType()))
    def apply_one(col: pd.Series) -> pd.Series:
        return pd.Series([_merge_word(list(s), pair) for s in col])

    return apply_one


def _adjacent_pairs(syms_col):
    """Row-local (codegen) list of 'lo hi' strings for adjacent symbols.
    Guarded for fully-merged single-symbol words: Spark's sequence(1, 0)
    counts DOWN, so the n<2 case must short-circuit to an empty list."""
    n = F.size(syms_col)
    return F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(syms_col, i), F.element_at(syms_col, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_vocab(df: DataFrame, text_col: str) -> DataFrame:
    """``(word, n)`` over lowercased word tokens — the one corpus-sized
    aggregation BPE training needs."""
    from ..sources.lake import spread_scan

    # r13: spread a single-row-group scan so the tokenize+explode runs
    # on every core (guide §2.5; no-op on multi-split inputs — counts
    # are layout-invariant)
    return (
        spread_scan(df.select(text_col))
        .select(
            F.explode(word_tokens(F.col(text_col))).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def bpe_train(
    df: DataFrame, text_col: str, n_merges: int = 10
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` merge pairs; returns them in rank order.
    Stops early if no adjacent pair occurs twice."""
    vocab_df = word_vocab(df, text_col)
    # r13 driver merge loop (the cox/ALS bounded-reduction pattern):
    # training's RESULT is a tiny driver-side merge list, and its loop
    # state is VOCAB-sized, not corpus-sized — when the distinct-word
    # vocabulary fits under _DRIVER_MERGE_MAX, ONE job collects
    # (word, n) and the 10-round argmax/merge loop runs in pure Python
    # with the same _merge_word and the same (count desc, pair asc)
    # tie-break, bit-identical to the distributed unroll (pinned by a
    # dual-path test). The distributed loop below pays ~2 jobs + one
    # Arrow-UDF stage PER MERGE (measured ~4.1 s of pure round floors
    # at sf0.1) and remains the path for vocabularies past the bound.
    head = vocab_df.limit(_DRIVER_MERGE_MAX + 1).collect()
    if len(head) <= _DRIVER_MERGE_MAX:
        words: list[tuple[list, int]] = [
            (list(r["word"]), int(r["n"])) for r in head
        ]
        merges_d: list[tuple[str, str]] = []
        for _ in range(n_merges):
            cnt: dict[tuple[str, str], int] = {}
            for syms, n in words:
                for i in range(len(syms) - 1):
                    p = (syms[i], syms[i + 1])
                    cnt[p] = cnt.get(p, 0) + n
            if not cnt:
                break
            # the distributed loop orders by (cnt DESC, 'lo hi' ASC) —
            # mirror the string tie-break exactly
            best = min(cnt.items(), key=lambda kv: (-kv[1], kv[0][0] + " " + kv[0][1]))
            if best[1] < 2:
                break
            pair = best[0]
            merges_d.append(pair)
            words = [(_merge_word(syms, pair), n) for syms, n in words]
        return merges_d

    vocab = vocab_df.select(
        "n", F.split("word", "(?!$)").alias("syms")
    ).localCheckpoint(eager=False)

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        top = (
            vocab.select(
                F.explode(_adjacent_pairs(F.col("syms"))).alias("pair"), "n"
            )
            .groupBy("pair")
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["cnt"] < 2:
            break
        lo, hi = top[0]["pair"].split(" ", 1)
        merges.append((lo, hi))
        vocab = vocab.select(
            "n", _merge_udf((lo, hi))(F.col("syms")).alias("syms")
        ).localCheckpoint(eager=False)
    return merges


def bpe_segment(
    df: DataFrame,
    text_col: str,
    id_col: str,
    merges: Sequence[tuple[str, str]],
) -> DataFrame:
    """``(id_col, n_words, n_bpe_tokens)`` — the corpus re-tokenized
    under the learned merges in ONE Arrow-batched map-only pass."""
    mlist = [tuple(m) for m in merges]

    def seg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            n_words, n_toks = [], []
            for text in b["_text"]:
                words = py_word_tokens(text)
                total = 0
                for w in words:
                    syms = list(w)
                    for m in mlist:
                        syms = _merge_word(syms, m)
                    total += len(syms)
                n_words.append(len(words))
                n_toks.append(total)
            yield pd.DataFrame(
                {"_id": b["_id"], "n_words": n_words, "n_bpe_tokens": n_toks}
            )

    from ..sources.lake import spread_scan

    # r13: row-local Python map — spread a single-row-group scan so the
    # per-doc merge replay uses every core (guide §2.5/§4; no-op on
    # multi-split inputs; per-row output, layout-invariant)
    out = spread_scan(
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text"))
    ).mapInPandas(
        seg, schema=f"_id long, n_words long, n_bpe_tokens long"
    )
    return out.withColumnRenamed("_id", id_col)


def bpe_encode(
    df: DataFrame,
    text_col: str,
    id_col: str,
    merges: Sequence[tuple[str, str]],
) -> DataFrame:
    """Corpus-scale BPE ENCODE: apply a trained merge list to every
    document, returning ``(id_col, n_tokens, tokens_str)`` where
    ``tokens_str`` is the space-joined token sequence (symbols are
    ``[a-z0-9]+`` substrings, so ' ' can never collide with token text —
    and a flat string keeps the driver's pandas canonicalizer happy,
    which cannot hash array cells).

    Scale shape: ONE Arrow-batched map-only pass over the corpus — zero
    shuffles. The merge list is tiny model state (broadcast via task
    closure); per-word replay is greedy leftmost-first in merge-rank
    order (same ``_merge_word`` the trainer used, so encode is exactly
    consistent with training). A per-partition word→tokens memo collapses
    the cost from O(corpus word occurrences) to O(distinct words per
    partition) merge replays — the Zipf head (the overwhelming majority
    of occurrences) is computed once per partition. This beats the
    join-the-vocab alternative (encode distinct words, then a
    corpus-sized shuffle to join tokens back and a second to restore
    order) because it moves no corpus bytes at all.

    Reference parity: the reference repo has no tokenizer; this is the
    LLM-pipeline extension layer feeding real token counts into sequence
    packing (``sampling.pack_sequences``) in place of the regex
    estimate (``text_analysis.bpe_ish_token_count``).
    """
    mlist = [tuple(m) for m in merges]

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, list[str]] = {}

        def word_toks(w: str) -> list[str]:
            t = memo.get(w)
            if t is None:
                syms = list(w)
                for m in mlist:
                    syms = _merge_word(syms, m)
                memo[w] = t = syms
            return t

        for b in batches:
            ids, ntoks, toks = [], [], []
            for i, text in zip(b["_id"], b["_text"]):
                out: list[str] = []
                for w in py_word_tokens(text):
                    out.extend(word_toks(w))
                ids.append(i)
                ntoks.append(len(out))
                toks.append(" ".join(out))
            yield pd.DataFrame(
                {"_id": ids, "n_tokens": ntoks, "tokens_str": toks}
            )

    from ..sources.lake import spread_scan

    # r13: same spread as bpe_segment — the encode replay is row-local
    out = spread_scan(
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text"))
    ).mapInPandas(enc, schema="_id long, n_tokens long, tokens_str string")
    return out.withColumnRenamed("_id", id_col)
