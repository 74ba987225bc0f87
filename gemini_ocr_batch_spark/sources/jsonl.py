"""Tolerant JSONL source + JSONL sink (S5/S6 in SURVEY.md §2.1).

The reference writes batch requests one-JSON-per-line (reference:
src/batch_builder.py:46-54) and decodes result files line-by-line,
tolerating malformed lines by routing them to per-record errors instead of
failing the run (reference: src/results.py:89-107,96-228). Spark's
PERMISSIVE JSON mode + ``columnNameOfCorruptRecord`` is the set-at-a-time
equivalent: bad lines land in a corrupt-record column, good lines parse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt_record"


def read_jsonl_tolerant(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """Read JSONL with a declared schema; malformed lines survive as rows
    with ``_corrupt_record`` set (the reference's tolerate-bad-lines
    contract). Callers split on ``_corrupt_record IS NULL``, caching the
    frame first: Spark refuses a query that references ONLY the corrupt
    column of a raw JSON scan
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN).
    """
    full = T.StructType(
        list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType(), True)]
    )
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def write_jsonl(df: DataFrame, path: str, single_file: bool = False) -> None:
    """One JSON object per line (S5); ``single_file`` mirrors the
    reference's one-request-file-per-batch layout."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").json(path)
