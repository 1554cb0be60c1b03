"""Feature engineering for model training — the hashing trick.

The hashing-trick vectorizer (Weinberger et al. 2009): map tokens to a
fixed-dimension index space by hash, so the featurizer needs NO
vocabulary pass, no fitted state, and no driver-side dictionary — the
property that makes it the default text featurizer at corpus scale
(vocabulary tables grow with the corpus; a hash function doesn't).

Reference parity note: no counterpart in /root/reference — training-
prep extension surface, same family as operators/selection.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import word_tokens

__all__ = ["hashed_features"]


def hashed_features(
    df: DataFrame, id_col: str, text_col: str, dim: int = 64
) -> DataFrame:
    """Hashing-trick bag-of-words per document: each lowercased
    ``[^a-z0-9]+``-split token maps to bucket ``md5_60(token) % dim``;
    the output row is ``(id, n_tokens, n_nonzero, features)`` with
    ``features`` the bucket-sorted comma-joined ``"idx:count"`` sparse
    vector — stateless, vocabulary-free featurization (collisions are
    the accepted trade; at dim >> distinct-tokens-per-doc they're rare).

    The hash is the repo's ``md5_60`` convention (first 15 hex chars of
    md5 as a 60-bit int), which any engine reproduces bit-for-bit —
    xxhash64 would be faster in production but is Spark-private; swap
    via one expression when cross-engine parity is not needed.

    Shape: explode → (id, bucket) count aggregate → per-id sorted
    array_join; the shuffle carries (id, bucket) pairs, never text.
    NULL-text rows are excluded; a document with no tokens yields
    ``n_tokens = 0`` and an empty feature string (explode_outer keeps
    the row alive).
    """
    toks = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("_id"),
        F.explode_outer(word_tokens(F.col(text_col))).alias("_t"),
    )
    h = F.conv(F.substring(F.md5("_t"), 1, 15), 16, 10).cast("bigint")
    per = toks.select(
        "_id",
        F.when(F.col("_t").isNotNull(), F.pmod(h, F.lit(dim))).alias("_b"),
    ).groupBy("_id", "_b").agg(
        F.sum(F.when(F.col("_b").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("_c")
    )
    return (
        per.groupBy("_id")
        .agg(
            F.sum("_c").cast("bigint").alias("n_tokens"),
            F.sum((F.col("_c") > 0).cast("long"))
            .cast("bigint")
            .alias("n_nonzero"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_b").isNotNull(),
                                F.struct("_b", "_c"),
                            )
                        )
                    ),
                    lambda s: F.concat_ws(
                        ":",
                        s["_b"].cast("string"),
                        s["_c"].cast("string"),
                    ),
                ),
                ",",
            ).alias("features"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_tokens",
            "n_nonzero",
            "features",
        )
    )
