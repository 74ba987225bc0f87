"""Per-partition lineage/metrics capture (north_rule requirement).

Replaces the reference's failure_logs + Prefect artifact reporting
(reference: src/database.py:101-125, src/flow.py:149-198). The extraction
operator emits physical telemetry per row (partition_id, bytes_in,
kernel_ns); this module aggregates it to one row per physical partition and
appends to an append-only parquet table — the reference's append-only
failure-log pattern (reference: src/prefect_state.py:245-282).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gemini_ocr_batch_spark import EXTRACTOR_VERSION
from gemini_ocr_batch_spark.checkpoint import parquet_glob


def lineage_rows(extracted: DataFrame, run_id: str, pass_num: int) -> DataFrame:
    """Aggregate extracted rows → one lineage row per physical partition."""
    return (
        extracted.groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).alias("row_count"),
            F.sum(
                F.when(F.col("error_type").isNull(), 1).otherwise(0)
            ).alias("success_count"),
            F.sum(
                F.when(F.col("error_type").isNotNull(), 1).otherwise(0)
            ).alias("failure_count"),
            F.sum("bytes_in").alias("bytes_in"),
            (F.sum("kernel_ns") / F.lit(1e6)).alias("kernel_wall_ms"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            F.lit(pass_num).cast("int").alias("pass_num"),
            F.col("partition_id"),
            F.col("row_count"),
            F.col("success_count"),
            F.col("failure_count"),
            F.col("bytes_in"),
            F.col("kernel_wall_ms"),
            F.lit(EXTRACTOR_VERSION).alias("extractor_version"),
            F.current_timestamp().alias("started_at"),
        )
    )


def lineage_rows_local(staged_path: str, run_id: str,
                       pass_num: int) -> list[dict]:
    """Driver-side twin of :func:`lineage_rows` over a staged pass dir.

    A pass's telemetry columns (partition_id, error_type, bytes_in,
    kernel_ns) are a few MB even at bench scale; one DuckDB ``GROUP BY``
    over them replaces a whole Spark job of fixed scheduling latency per
    pass. Returns plain dicts for the same lineage appender the Spark
    side's collected rows go to. ``test_spark_and_driver_sinks_agree``
    pins the two sides equal through the job.
    """
    import duckdb

    staged_glob = parquet_glob(staged_path)
    if staged_glob is None:
        return []  # empty pass: zero data files were written
    with duckdb.connect() as con:
        agg = con.execute(
            """
            SELECT partition_id, count(*)::BIGINT, count(error_type)::BIGINT,
                   sum(bytes_in)::BIGINT, sum(kernel_ns)::DOUBLE / 1e6
            FROM read_parquet(?)
            GROUP BY partition_id ORDER BY partition_id
            """,
            [staged_glob],
        ).fetchall()
    now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    return [
        {
            "run_id": run_id,
            "pass_num": int(pass_num),
            "partition_id": partition_id,
            "row_count": n,
            "success_count": n - n_bad,
            "failure_count": n_bad,
            "bytes_in": bytes_in,
            "kernel_wall_ms": kernel_wall_ms,
            "extractor_version": EXTRACTOR_VERSION,
            "started_at": now,
        }
        for partition_id, n, n_bad, bytes_in, kernel_wall_ms in agg
    ]
