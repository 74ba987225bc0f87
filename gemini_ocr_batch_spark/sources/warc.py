"""WARC source and WET sink — Common-Crawl-native input/output.

Reader shape: ``binaryFile`` scan (one row per WARC file) → Arrow-batched
``mapInPandas`` running the pure-python record parser
(:mod:`gemini_ocr_batch_spark.kernels.warc`) → one row per WARC record.
This is the standard Spark topology for WARC — gzip members are not
splittable mid-file, so the unit of parallelism is the file, exactly as in
Common Crawl's own example jobs: a crawl segment has tens of thousands of
~1 GiB files, far more than any cluster's core count, so file-level
parallelism saturates 1000 executors without intra-file splits. The
whole file is held in memory while parsing (binaryFile semantics); at the
CC 1 GiB target size that bounds per-task memory explicitly — size
executor memory for (file size + decompressed record), not for the corpus.

Every row carries ``(warc_file, warc_offset, record_len)`` — the same
triple the CDX index stores — so any record is re-fetchable without a
rescan, and per-record parse failures surface as rows with ``error`` set
(the S6 tolerant-source contract; a damaged member never kills the task).

The sink writes extraction output as standard WET (``conversion``
records), one member-gzip file per partition, so downstream CC tooling can
consume the engine's output directly. Analog of the reference's per-batch
results files (reference: src/results.py:81-230) re-expressed in the
public archive format.
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gemini_ocr_batch_spark.kernels import warc as wk

WARC_ROWS_SCHEMA = T.StructType(
    [
        # provenance triple — what a CDX-style index stores
        T.StructField("warc_file", T.StringType(), False),
        T.StructField("warc_offset", T.LongType(), False),
        T.StructField("record_len", T.LongType(), False),
        T.StructField("warc_type", T.StringType(), True),
        T.StructField("url", T.StringType(), True),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("record_id", T.StringType(), True),
        T.StructField("content_type", T.StringType(), True),
        T.StructField("http_status", T.IntegerType(), True),
        T.StructField("http_content_type", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)


def _parse_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows: list[dict] = []
        for path, content in zip(pdf["path"], pdf["content"]):
            for rec in wk.parse_warc(bytes(content)):
                row = {
                    "warc_file": path,
                    "warc_offset": rec.offset,
                    "record_len": rec.length,
                    "warc_type": rec.warc_type,
                    "url": rec.url,
                    "warc_ts": rec.date,
                    "record_id": rec.record_id,
                    "content_type": rec.content_type,
                    "http_status": None,
                    "http_content_type": None,
                    "payload": rec.payload if rec.error is None else None,
                    "error": rec.error,
                }
                if rec.error is None and (rec.content_type or "").startswith(
                    "application/http"
                ):
                    status, ctype, body = wk.split_http_payload(rec.payload)
                    row["http_status"] = status
                    row["http_content_type"] = ctype
                    row["payload"] = body
                rows.append(row)
        yield pd.DataFrame(
            rows, columns=[f.name for f in WARC_ROWS_SCHEMA.fields]
        )


def read_warc(
    spark: SparkSession, path: str, glob: str = "*.warc*"
) -> DataFrame:
    """One row per WARC record across every matching file under ``path``.

    File-level parallelism: ``binaryFile`` yields one input row per file,
    the parse map fans each into its records. ``glob`` matches both
    ``.warc`` / ``.warc.gz`` and WET's ``.warc.wet.gz``.
    """
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("path", "content")
    )
    return files.mapInPandas(_parse_batches, WARC_ROWS_SCHEMA)


def warc_to_pages(records: DataFrame, ok_status_only: bool = True) -> DataFrame:
    """Project ``response`` records onto the engine's pages-table shape
    (BASELINE.json input_hint: url, warc_ts, html, text, lang) so a WARC
    segment drops straight into the extraction job."""
    out = records.filter(
        F.col("error").isNull()
        & (F.col("warc_type") == "response")
        & F.col("url").isNotNull()
        & F.col("warc_ts").isNotNull()
    )
    if ok_status_only:
        # tolerate missing status lines (truncated captures keep a body)
        out = out.filter(
            F.col("http_status").isNull() | (F.col("http_status") == 200)
        )
    return out.select(
        F.col("url"),
        F.col("warc_ts"),
        F.col("payload").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )


WET_STATS_SCHEMA = T.StructType(
    [
        T.StructField("wet_file", T.StringType(), False),
        T.StructField("n_records", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
    ]
)


def write_wet(
    extracted: DataFrame, out_dir: str, n_files: int | None = None
) -> DataFrame:
    """Write extracted text as member-gzip WET files, one per partition.

    Deterministic end to end: rows are hash-partitioned by url and sorted
    within each partition, record ids are content-addressed, and gzip
    mtime is pinned — a rerun produces byte-identical files, which also
    makes task retries idempotent (a retry rewrites the same bytes to the
    same name). Workers write through ``open()`` — on a real cluster this
    is a mounted object store or gets swapped for ``pyarrow.fs``; the
    framing (partition→file, iterator-drain accumulation) is the
    production shape.

    Returns the per-file stats frame (wet_file, n_records, n_bytes) —
    tiny, one row per output file. Lazy like any map: the caller must
    materialize it (``.collect()`` / write) to execute the file writes.
    """
    parts = n_files or extracted.sparkSession.sparkContext.defaultParallelism
    slim = (
        extracted.filter(F.col("extracted_text").isNotNull())
        .select("url", "warc_ts", "extracted_text")
        .repartition(parts, "url")
        .sortWithinPartitions("url", "warc_ts")
    )
    os.makedirs(out_dir, exist_ok=True)

    def _write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pid = TaskContext.get().partitionId()  # type: ignore[union-attr]
        name = os.path.join(out_dir, f"part-{pid:05d}.warc.wet.gz")
        recs: list[bytes] = []
        for pdf in batches:
            for url, ts, text in zip(
                pdf["url"], pdf["warc_ts"], pdf["extracted_text"]
            ):
                recs.append(
                    wk.build_conversion_record(
                        str(url),
                        None if pd.isna(ts) else ts.to_pydatetime(),
                        str(text),
                    )
                )
        if not recs:  # empty partition → no file, no stats row
            return
        os.makedirs(out_dir, exist_ok=True)
        data = wk.write_warc(recs, member_gzip=True)
        with open(name, "wb") as fh:
            fh.write(data)
        yield pd.DataFrame(
            [{"wet_file": name, "n_records": len(recs), "n_bytes": len(data)}]
        )

    return slim.mapInPandas(_write, WET_STATS_SCHEMA)
