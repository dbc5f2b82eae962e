"""T1 tokenizer parity — ports reference internal/ranking/types_test.go:8-78.

Pins: whitespace-run split, punctuation retained, empty/whitespace-only ->
empty array, Unicode whitespace handled, and the Catalyst expression ==
the Python splitter == the fused build kernel == Go strings.Fields
semantics.
"""

from __future__ import annotations

import pytest

from bm25_pagerank_rpi_spark.functions.tokenize import split_tokens, tokens_col
from bm25_pagerank_rpi_spark.oracle import tokenize as oracle_tokenize

CASES = [
    # (text, expected)  — from types_test.go:29-54 plus Unicode extensions
    ("hello world", ["hello", "world"]),
    ("  hello   world  ", ["hello", "world"]),
    ("hello, world!", ["hello,", "world!"]),  # punctuation retained
    ("", []),
    ("   ", []),
    ("\t\n\r ", []),
    ("one", ["one"]),
    ("a\tb\nc\rd", ["a", "b", "c", "d"]),
    ("UPPER lower MiXeD", ["UPPER", "lower", "MiXeD"]),  # no lowercasing
    ("a b", ["a", "b"]),  # NBSP is Unicode whitespace (Go IsSpace)
    ("a b", ["a", "b"]),  # EM space
    ("naïve café", ["naïve", "café"]),
    ("a\x1cb", ["a\x1cb"]),  # file separator: not White_Space (Go, Java)
]


@pytest.mark.parametrize("text,expected", CASES)
def test_oracle_tokenize(text, expected):
    assert oracle_tokenize(text) == expected


@pytest.mark.parametrize("text,expected", CASES)
def test_pandas_tokenize(text, expected):
    """The Python splitter (driver-side WAND planning, the fused
    kernel's slow path)."""
    assert split_tokens(text) == expected


def test_python_splitter_matches_oracle_over_unicode():
    """The package splitter's explicit White_Space table and the oracle's
    independently written character class agree on every code point."""
    every = (chr(c) for c in range(0x110000) if not 0xD800 <= c <= 0xDFFF)
    text = "x".join(every)
    assert split_tokens(text) == oracle_tokenize(text)


def test_catalyst_tokenize(spark):
    df = spark.createDataFrame([(i, t) for i, (t, _) in enumerate(CASES)], "i int, text string")
    rows = df.select("i", tokens_col("text").alias("toks")).orderBy("i").collect()
    for (text, expected), row in zip(CASES, rows):
        assert list(row.toks) == expected, f"catalyst mismatch on {text!r}"


def test_udf_tokenize(spark):
    """The build's fused tokenize+TF kernel run as a Spark ``mapInArrow``
    UDF: the token sequence rebuilt from its per-posting positions must
    equal the expected split."""
    from bm25_pagerank_rpi_spark.plans.index_build import tf_postings

    df = spark.createDataFrame(
        [(i, 0, t) for i, (t, _) in enumerate(CASES)],
        "doc_int long, doc_length int, text string",
    )
    got: dict[int, dict[int, str]] = {}
    for r in tf_postings(df, with_positions=True).collect():
        for p in r.positions:
            got.setdefault(r.doc_int, {})[p] = r.term
    for i, (text, expected) in enumerate(CASES):
        toks = got.get(i, {})
        assert [toks[p] for p in sorted(toks)] == expected, f"kernel mismatch on {text!r}"


# ---------------------------------------------------------------------------
# analyzer chain (functions/analyzer.py)
# ---------------------------------------------------------------------------


def test_analyzer_chain(spark):
    from pyspark.sql import functions as F

    from bm25_pagerank_rpi_spark.functions.analyzer import analyzed_tokens_col

    rows = [
        ("d1", "The KEY-value, Hash JOIN of the Table... table!"),
        ("d2", "  "),
        ("d3", "A B C 123"),
        ("d4", "the of and"),  # all stopwords -> empty
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {
        r["doc_id"]: r["toks"]
        for r in df.select(
            "doc_id", analyzed_tokens_col("text").alias("toks")
        ).collect()
    }
    # multiplicity preserved, stopwords dropped, punctuation split, lowercase
    assert got["d1"] == ["key", "value", "hash", "join", "table", "table"]
    assert got["d2"] == []
    assert got["d3"] == ["b", "c", "123"]  # 'a' is a stopword
    assert got["d4"] == []


def test_analyzer_sql_twin_matches(spark):
    import duckdb

    from bm25_pagerank_rpi_spark.functions.analyzer import (
        analyzed_sql,
        analyzed_tokens_col,
    )

    texts = [
        "The KEY-value, Hash JOIN of the Table... table!",
        "MiXeD CaSe punct;;; 42",
        "",
        "the",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    spark_out = [
        r["toks"]
        for r in df.select(analyzed_tokens_col("text").alias("toks")).collect()
    ]
    con = duckdb.connect()
    duck_out = [
        con.execute(f"SELECT {analyzed_sql('?::VARCHAR')}".replace("?::VARCHAR", "$1::VARCHAR"), [t]).fetchone()[0]
        for t in texts
    ]
    assert spark_out == duck_out
