"""Unit tests for the scalar function library (SURVEY.md §2.6 F1-F15),
including the Unicode/HTML-entity/DOI-prefix edge cases the reference
handles (citations in each function's docstring)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ups_crossref_etl_spark import functions as fx
from ups_crossref_etl_spark.functions.text import py_word_tokens, word_tokens


def _one(spark, col, **litcols):
    schema = ", ".join(f"{k} string" for k in litcols)
    df = spark.createDataFrame([tuple(litcols.values())], schema=schema)
    return df.select(col.alias("out")).first()["out"]


def test_norm_text_nfc(spark):
    # html-unescape + NFC + whitespace collapse + trim (ref :97-103)
    out = _one(spark, fx.norm_text_nfc(F.col("s")), s="  José   P&amp;G  ")
    assert out == "José P&G"


def test_norm_text_nfc_null_is_empty(spark):
    df = spark.createDataFrame([(None,)], schema="s string")
    assert df.select(fx.norm_text_nfc(F.col("s")).alias("o")).first()["o"] == ""


def test_norm_text_nfkd_lower(spark):
    # de-accent + lower: José == Jose after normalization (FIXTURES.md edge)
    a = _one(spark, fx.norm_text_nfkd_lower(F.col("s")), s="José GARCÍA")
    b = _one(spark, fx.norm_text_nfkd_lower(F.col("s")), s="jose garcia")
    assert a == b == "jose garcia"


@pytest.mark.parametrize(
    "text",
    [None, "", "--", "Héllo-World 42", "a_b", "x\ty\nz", "ÀÉÎ", "10.5736/a.64ac"],
)
def test_word_tokens_spark_and_python_agree(spark, text):
    # the Spark tokenizer and its Python twin (BPE's UDF bodies) must
    # split every text the same way; a null text has no words
    got = _one(spark, word_tokens(F.col("s")), s=text)
    assert (got if got is not None else []) == py_word_tokens(text)


def test_standardize_doi_variants(spark):
    col = fx.standardize_doi(F.col("s"))
    for raw in (
        "10.1234/AbC.5",
        "https://doi.org/10.1234/abc.5",
        "https://dx.doi.org/10.1234/ABC.5",
        "doi: 10.1234/abc.5",
        "  DOI:10.1234/abc.5  ",
    ):
        assert _one(spark, col, s=raw) == "10.1234/abc.5", raw
    assert _one(spark, col, s="10.1/a&amp;b") == "10.1/a&b"
    assert _one(spark, col, s="   ") is None


def test_extract_year_priority_and_validity(spark):
    # published_online wins; invalid years (out of 1600-2100) skipped (ref :125-138)
    df = spark.createDataFrame(
        [
            (
                {"date_parts": [[1234]]},  # invalid → skip
                {"date_parts": [[2021, 5]]},  # valid → wins
                {"date_parts": [[2019]]},
                None,
            )
        ],
        schema="published_online struct<date_parts:array<array<int>>>, "
        "published_print struct<date_parts:array<array<int>>>, "
        "issued struct<date_parts:array<array<int>>>, "
        "created struct<date_parts:array<array<int>>>",
    )
    row = df.select(
        fx.extract_year_any(df).alias("y"), fx.extract_date_iso(df).alias("d")
    ).first()
    assert row["y"] == 2021
    assert row["d"] == "2021-05-01"  # month kept, day defaulted to 1 (ref :153-164)


def test_author_full_name_fallback(spark):
    col = fx.author_full_name(F.col("g"), F.col("f"), F.col("n"))
    assert _one(spark, col, g="Ada", f="Lovelace", n=None) == "Ada Lovelace"
    assert _one(spark, col, g=None, f=None, n=" Grupo X ") == "Grupo X"
    assert _one(spark, col, g=None, f="Solo", n=None) == "Solo"


def test_strip_orcid_url(spark):
    col = fx.strip_orcid_url(F.col("s"))
    assert _one(spark, col, s="https://orcid.org/0000-0002-1825-0097") == "0000-0002-1825-0097"
    assert _one(spark, col, s="0000-0002-1825-0097") == "0000-0002-1825-0097"


def test_try_long_and_default_zero(spark):
    assert _one(spark, fx.try_long(F.col("s")), s="42") == 42
    assert _one(spark, fx.try_long(F.col("s")), s="x") is None
    assert _one(spark, fx.default_zero(F.col("s").try_cast("bigint")), s="x") == 0


def test_classify_sede(spark):
    col = fx.classify_sede(F.col("a"), F.lit(True))
    assert _one(spark, col, a="ups, cuenca, ecuador") == 1
    assert _one(spark, col, a="ups quito") == 2
    assert _one(spark, col, a="ups guayaquil") == 3
    assert _one(spark, col, a="ups ecuador") == 4
    # non-UPS → null (gate applied by caller)
    assert _one(spark, fx.classify_sede(F.col("a"), F.lit(False)), a="cuenca") is None
