"""Text normalization (F1, F2, F6, F7, F9, F10 in SURVEY.md §2.6).

Reference semantics at ``src/barrazueta_pipeline_etl_crossref.py``:
F1 ``norm_text_nfc`` :97-103, F2 ``norm_text_nfkd_lower`` :105-111,
F6 ``author_full_name`` :141-145, F7 ``normalize_aff_name`` :148-149,
F9 ORCID strip :317, F10 array join :670,672.

Engine policy: native Column expressions wherever the JVM has the
primitive; Arrow-vectorized pandas_udf ONLY for Unicode NFC/NFKD
normalization + HTML unescape, which Spark SQL lacks. These two UDFs are
the entire Python surface of the parity layer — everything else is
whole-stage-codegen-eligible.

Word tokens (the text layer's one tokenizer contract): lowercase, split
on ``WORD_SPLIT`` (runs of anything but ``[a-z0-9]``), drop empty
strings. Every dedup, similarity, retrieval and text-analysis operator
tokenizes through :func:`word_tokens`; :func:`py_word_tokens` is its
Python twin for Arrow-batched UDF bodies (BPE), where a null text has no
words. The DuckDB oracle SQL keeps its own copy of the regex on purpose:
it is the independent reference the gates compare against.
"""

from __future__ import annotations

import html
import re
import unicodedata

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

WORD_SPLIT = r"[^a-z0-9]+"


# returnType as a DataType instance (not a DDL string): the decorator runs at
# import time, and DDL-string parsing needs an active SparkSession.
@pandas_udf(StringType())
def _nfc_unescape(s: pd.Series) -> pd.Series:
    """HTML-unescape + Unicode NFC (vectorized batch; Arrow transfer)."""
    return s.map(
        lambda x: unicodedata.normalize("NFC", html.unescape(x)) if x is not None else None
    )


def py_nfkd_deaccent_lower_unescape(x: str | None) -> str | None:
    """HTML-unescape + NFKD + strip combining marks + lower; None stays None."""
    if x is None:
        return None
    x = unicodedata.normalize("NFKD", html.unescape(x))
    x = "".join(ch for ch in x if not unicodedata.combining(ch))
    return x.lower()


@pandas_udf(StringType())
def _nfkd_deaccent_lower_unescape(s: pd.Series) -> pd.Series:
    """:func:`py_nfkd_deaccent_lower_unescape` over a batch (vectorized)."""
    return s.map(py_nfkd_deaccent_lower_unescape)


def _collapse_ws_trim(col: Column) -> Column:
    return F.trim(F.regexp_replace(col, r"\s+", " "))


def norm_text_nfc(col: Column) -> Column:
    """F1: unescape → NFC → collapse whitespace → trim; '' for null."""
    return F.coalesce(_collapse_ws_trim(_nfc_unescape(col)), F.lit(""))


def norm_text_nfkd_lower(col: Column) -> Column:
    """F2: unescape → NFKD de-accent → collapse ws → trim → lower; '' for null."""
    return F.coalesce(_collapse_ws_trim(_nfkd_deaccent_lower_unescape(col)), F.lit(""))


def author_full_name(given: Column, family: Column, name: Column) -> Column:
    """F6: ``trim(given + ' ' + family)`` else literal ``name`` — pre-F1."""
    joined = F.nullif(
        F.trim(F.concat_ws(" ", F.coalesce(given, F.lit("")), F.coalesce(family, F.lit("")))),
        F.lit(""),
    )
    return F.coalesce(joined, F.trim(name))


def strip_orcid_url(col: Column) -> Column:
    """F9: drop the ``https://orcid.org/`` prefix, trim; null-safe."""
    return F.nullif(F.trim(F.regexp_replace(col, r"^https?://orcid\.org/", "")), F.lit(""))


def join_str_array(col: Column, sep: str = "; ") -> Column:
    """F10: ``'; '.join(arr)`` — null array → ''."""
    return F.coalesce(F.array_join(col, sep), F.lit(""))


def word_tokens(col: Column | str) -> Column:
    """Lowercased ``WORD_SPLIT`` word tokens, empties dropped; null → null."""
    return F.filter(F.split(F.lower(col), WORD_SPLIT), lambda t: t != F.lit(""))


def py_word_tokens(text: str | None) -> list[str]:
    """Python twin of :func:`word_tokens`; ``[]`` for None."""
    if text is None:
        return []
    return [t for t in re.split(WORD_SPLIT, text.lower()) if t]
