"""Tolerant JSONL source/sink tests (reference: tolerate-bad-lines,
src/results.py:89-107)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from gemini_ocr_batch_spark.sources import read_jsonl_tolerant, write_jsonl
from gemini_ocr_batch_spark.sources.jsonl import CORRUPT_COL

SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), True),
        T.StructField("n", T.LongType(), True),
    ]
)


def _split(df):
    """(valid rows without the corrupt col, corrupt rows) — cached first,
    as read_jsonl_tolerant documents."""
    df = df.cache()
    return (df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL),
            df.filter(F.col(CORRUPT_COL).isNotNull()).select(CORRUPT_COL))


def test_tolerant_read_splits_corrupt_lines(spark, tmp_path):
    p = tmp_path / "in.jsonl"
    p.write_text(
        '{"key": "a", "n": 1}\n'
        "THIS IS NOT JSON\n"
        '{"key": "b", "n": 2}\n'
        '{"key": "c", "n": }\n'
    )
    df = read_jsonl_tolerant(spark, str(p), SCHEMA)
    valid, bad = _split(df)
    assert {r["key"] for r in valid.collect()} == {"a", "b"}
    assert bad.count() == 2  # both malformed lines captured, run survives


def test_jsonl_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([("x", 1), ("y", 2)], "key string, n long")
    out = str(tmp_path / "out")
    write_jsonl(df, out, single_file=True)
    back, bad = _split(read_jsonl_tolerant(spark, out, SCHEMA))
    assert sorted((r["key"], r["n"]) for r in back.collect()) == [
        ("x", 1),
        ("y", 2),
    ]
    assert bad.count() == 0
