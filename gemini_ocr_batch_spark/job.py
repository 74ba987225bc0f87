"""The end-to-end extraction job with retry/dead-letter loop.

The reference's whole orchestration (reference: src/flow.py:423-498 wave
loop + scan + submit + poll + process) collapses into ONE DataFrame DAG per
pass, re-run at most ``max_retries`` times by a driver loop (SURVEY.md
§3.4: with a pure extractor, wave execution degenerates to the retry loop):

    pages ⟕̸ checkpoint → salt-by-size repartition → mapInPandas(extract)
          → ONE bulk write, hive-partitioned by (run_id, pass_num, is_ok)
          → checkpoint MERGE + lineage + failure log from column-pruned
            reads of that same parquet

Physical design (why one write): the kernel output is written exactly once
to ``extracted_all/run_id=R/pass_num=N/is_ok=…``. Everything downstream —
the success view, the failure log, the per-partition lineage rows, the
checkpoint delta — is a *metadata-cheap* read of that parquet (partition
pruning on is_ok, column pruning to the few small columns each consumer
needs). No ``persist()``: caching the bulk map output scales badly (block-
manager contention locally; impossible at 10^12 rows on a cluster), while
re-reading pruned columns from parquet is nearly free. The kernel job
itself doubles as the frontier-emptiness probe: an empty pass writes zero
rows and the loop exits — no separate anti-join pre-scan.

Idempotence: rerunning the job is a no-op once every key is success/dead —
the anti-join (checkpoint.pending) returns an empty frontier, exactly like
the reference's output-existence probe (reference: src/scanner.py:90-91).
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gemini_ocr_batch_spark.checkpoint import (
    ParquetCheckpointStore,
    parquet_glob,
    sql_str,
)
from gemini_ocr_batch_spark.lineage import lineage_rows, lineage_rows_local
from gemini_ocr_batch_spark.operators.extract import extract_pages
from gemini_ocr_batch_spark.schemas import (
    EXTRACTED_SCHEMA,
    EXTRACTED_USER_COLUMNS,
    LINEAGE_SCHEMA,
)

# staged-pass schema: kernel output + the is_ok partition column
STAGED_SCHEMA = T.StructType(
    list(EXTRACTED_SCHEMA.fields)
    + [T.StructField("is_ok", T.BooleanType(), True)]
)


def _append_lineage_rows(rows, lineage_path: str, run_id: str,
                         pass_num: int) -> None:
    """Append collected lineage rows as one parquet file, driver-side."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(lineage_path, exist_ok=True)
    cols = {f.name: [r[f.name] for r in rows] for f in LINEAGE_SCHEMA.fields}
    table = pa.table(
        {
            "run_id": pa.array(cols["run_id"], pa.string()),
            "pass_num": pa.array(cols["pass_num"], pa.int32()),
            "partition_id": pa.array(cols["partition_id"], pa.int32()),
            "row_count": pa.array(cols["row_count"], pa.int64()),
            "success_count": pa.array(cols["success_count"], pa.int64()),
            "failure_count": pa.array(cols["failure_count"], pa.int64()),
            "bytes_in": pa.array(cols["bytes_in"], pa.int64()),
            "kernel_wall_ms": pa.array(cols["kernel_wall_ms"], pa.float64()),
            "extractor_version": pa.array(cols["extractor_version"], pa.string()),
            "started_at": pa.array(cols["started_at"], pa.timestamp("us")),
        }
    )
    pq.write_table(
        table, os.path.join(lineage_path, f"part-{run_id}-{pass_num}.parquet")
    )


# marker file dropped into a promoted pass dir once its keys are in the
# checkpoint — the crash-recovery analog of the reference's output-existence
# probe (reference: src/scanner.py:90-91)
_MERGED = "_MERGED"

# the per-pass sinks' driver-side ceiling: at or below it, one DuckDB query
# per sink beats the fixed scheduling/commit cost of the Spark jobs; above
# it the pass is executor work. Read only by _sinks_on_driver.
LOCAL_MERGE_MAX_ROWS = 2_000_000

_HAVE_DUCKDB = importlib.util.find_spec("duckdb") is not None


def _sinks_on_driver(store, pass_path: str) -> bool:
    """THE switch for a pass's three sinks — lineage rows, checkpoint
    MERGE, failure log: all run driver-side in DuckDB, or all run as
    Spark jobs. Decided once per pass (and per orphan pass in reconcile).

    Driver side iff DuckDB is installed, the store is the Parquet one (the
    Iceberg MERGE INTO is Spark-only) and the staged pass has at most
    ``LOCAL_MERGE_MAX_ROWS`` rows — a DuckDB ``count(*)`` that reads only
    the parquet footers. Measured on pipeline_mixed (4 cores), the Spark
    side costs 23 more Spark jobs and 5-6 s more per run; it stays for
    passes too big for one driver, the Iceberg store and installs without
    DuckDB.
    """
    if not (_HAVE_DUCKDB and isinstance(store, ParquetCheckpointStore)):
        return False
    staged_glob = parquet_glob(pass_path)
    if staged_glob is None:
        return True  # empty pass: no sink has anything to read
    import duckdb

    with duckdb.connect() as con:
        (n_rows,) = con.execute(
            "SELECT count(*) FROM read_parquet(?)", [staged_glob]
        ).fetchone()
    return n_rows <= LOCAL_MERGE_MAX_ROWS


def _read_staged(spark: SparkSession, pass_path: str) -> DataFrame:
    return spark.read.schema(STAGED_SCHEMA).parquet(pass_path)


def _merge_pass(spark: SparkSession, store, pass_path: str,
                on_driver: bool) -> None:
    """Checkpoint MERGE of a promoted pass; reads only the 3 key/status
    columns."""
    if on_driver:
        store.merge_results_local(pass_path)
    else:
        store.merge_results(
            _read_staged(spark, pass_path).select(
                "url", "warc_ts", "error_type"
            )
        )


def _append_failures(spark: SparkSession, pass_path: str,
                     failures_path: str, run_id: str, pass_num: int,
                     attempt: int, on_driver: bool) -> None:
    """Append a pass's failure rows to the failure log. Both sides read
    only the is_ok=false partition and write the same columns."""
    if not on_driver:
        _read_staged(spark, pass_path).filter(~F.col("is_ok")).select(
            "url",
            "warc_ts",
            "error_type",
            "error_message",
            "input_sample",
            F.lit(attempt).cast("int").alias("attempts"),
            F.lit(run_id).alias("run_id"),
            F.current_timestamp().alias("created_at"),
        ).coalesce(8).write.mode("append").parquet(failures_path)
        return
    import duckdb

    os.makedirs(failures_path, exist_ok=True)
    bad = os.path.join(pass_path, "is_ok=false", "*.parquet")
    out = os.path.join(failures_path, f"part-{run_id}-{pass_num}.parquet")
    with duckdb.connect() as con:
        con.execute(
            f"""
            COPY (
              SELECT url, warc_ts, error_type, error_message, input_sample,
                     {int(attempt)}::INTEGER AS attempts,
                     {sql_str(run_id)} AS run_id, now() AS created_at
              FROM read_parquet({sql_str(bad)})
            ) TO {sql_str(out)} (FORMAT PARQUET)
            """
        )


def _touch(path: str) -> None:
    with open(path, "w", encoding="utf-8"):
        pass


def _reconcile_orphans(
    spark: SparkSession, store: ParquetCheckpointStore, all_path: str
) -> int:
    """Fold promoted-but-unmerged pass dirs into the checkpoint.

    Closes the crash window between the staged write and the checkpoint
    MERGE: without this, a rerun under a fresh run_id would re-extract
    those keys and leave duplicates under two run_id dirs. Promotion is an
    atomic rename, so any pass dir found here is complete; one lacking
    ``_MERGED`` simply never had its keys merged. Merging is idempotent for
    success keys; for failure keys a crash exactly between merge and marker
    can double-count one attempt (biases toward earlier dead-letter, never
    data loss). Returns the number of reconciled pass dirs.

    Upgrade path (pass dirs written by pre-``_MERGED`` code, which merged
    every pass but stamped nothing): a pass whose keys are ALL already
    terminal in the checkpoint is stamped without replaying — replaying
    would double-count attempts and could downgrade a later success back
    to failed. Only passes with open (non-terminal/absent) keys — the
    genuine crash-window shape — are merged. Each orphan pass goes through
    the same sink switch as a live one; the terminal-key probe is
    DuckDB's, so on the Spark side the pass is always replayed.
    """
    n = 0
    if not os.path.isdir(all_path):
        return n

    def _pass_key(d: str):
        try:
            return int(d.split("=", 1)[1])
        except (IndexError, ValueError):
            return 1 << 62

    for run_dir in sorted(os.listdir(all_path)):
        run_path = os.path.join(all_path, run_dir)
        if not (run_dir.startswith("run_id=") and os.path.isdir(run_path)):
            continue
        # numeric pass order: lexicographic would replay pass_num=10
        # before pass_num=2, re-ordering the transition sequence
        for pass_dir in sorted(os.listdir(run_path), key=_pass_key):
            pass_path = os.path.join(run_path, pass_dir)
            if not (
                pass_dir.startswith("pass_num=") and os.path.isdir(pass_path)
            ):
                continue
            if os.path.exists(os.path.join(pass_path, _MERGED)):
                continue
            on_driver = _sinks_on_driver(store, pass_path)
            if on_driver and store.all_terminal_local(pass_path):
                _touch(os.path.join(pass_path, _MERGED))
                continue
            _merge_pass(spark, store, pass_path, on_driver)
            _touch(os.path.join(pass_path, _MERGED))
            n += 1
    return n


class JobResult:
    def __init__(self) -> None:
        self.passes = 0
        self.extracted_rows = 0
        self.success_rows = 0
        self.failed_rows = 0
        self.wall_sec = 0.0
        # per-phase wall seconds summed over passes (overhead forensics)
        self.phase_secs: dict[str, float] = {}

    def _phase(self, name: str, t0: float) -> float:
        now = time.perf_counter()
        self.phase_secs[name] = round(
            self.phase_secs.get(name, 0.0) + (now - t0), 3
        )
        return now

    @property
    def docs_per_sec(self) -> float:
        return self.extracted_rows / self.wall_sec if self.wall_sec else 0.0


def run_extraction_job(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    max_retries: int = 3,
    n_partitions: int | None = None,
    run_id: str | None = None,
    track_inflight: bool = False,
    n_buckets: int = 16,
    store=None,
) -> JobResult:
    """Run extraction to completion (every key success or dead).

    Layout under ``out_dir``:
      extracted_all/  — ALL kernel output, written once per pass, under
                        run_id=R/pass_num=N/is_ok=… hive paths; pass dirs
                        are immutable once promoted and carry a _MERGED
                        marker once their keys are in the checkpoint
      _staging/       — per-pass scratch (atomic-renamed into
                        extracted_all when non-empty; wiped on job start)
      checkpoint/     — snapshot store (atomic pointer swap)
      lineage/        — per-partition metrics, append-only
      failures/       — typed failure rows, append-only (reference:
                        failure_logs, src/database.py:101-125)
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    # store injection: the config's checkpoint.backend=iceberg path passes
    # an IcebergCheckpointStore here (same narrow surface)
    store = store or ParquetCheckpointStore(
        os.path.join(out_dir, "checkpoint"),
        max_retries=max_retries,
        n_buckets=n_buckets,
    )
    all_path = os.path.join(out_dir, "extracted_all")
    staging_root = os.path.join(out_dir, "_staging")
    lineage_path = os.path.join(out_dir, "lineage")
    failures_path = os.path.join(out_dir, "failures")

    result = JobResult()
    t_start = time.perf_counter()
    # crash recovery: drop half-written staging dirs (never promoted, never
    # visible to readers), then fold promoted-but-unmerged passes into the
    # checkpoint so the frontier excludes them (no re-extraction, no
    # duplicate keys under two run_ids)
    shutil.rmtree(staging_root, ignore_errors=True)
    _reconcile_orphans(spark, store, all_path)
    # a fixed-run_id rerun continues pass numbering after any passes the
    # previous attempt already promoted — pass dirs are immutable once
    # promoted, so a retry pass must never reuse (and replace) their paths
    run_path = os.path.join(all_path, f"run_id={run_id}")
    existing = [
        int(d.split("=", 1)[1])
        for d in (os.listdir(run_path) if os.path.isdir(run_path) else [])
        if d.startswith("pass_num=")
    ]
    base_pass = max(existing) + 1 if existing else 0
    for pass_num in range(base_pass, base_pass + max_retries):
        frontier = store.pending(pages)
        if track_inflight:
            # inflight visibility (reference: src/prefect_state.py:335-346);
            # costs one snapshot rewrite per pass, so opt-in. Key columns
            # only — the blob never enters the checkpoint job.
            store.mark_running(frontier.select("url", "warc_ts"))
        # --- the one bulk job: kernel + single partitioned write ---
        # Staged OUTSIDE extracted_all, promoted by atomic rename only when
        # non-empty: a fixed-run_id rerun whose frontier is already empty
        # (checkpoint advanced) must never overwrite a prior pass dir with
        # an empty result — that was a data-loss bug, not a no-op.
        final_path = os.path.join(
            all_path, f"run_id={run_id}", f"pass_num={pass_num}"
        )
        tmp_path = os.path.join(
            staging_root, f"{run_id}-{pass_num}-{uuid.uuid4().hex[:8]}"
        )
        t_ph = time.perf_counter()
        extracted = extract_pages(frontier, n_partitions=n_partitions)
        (
            extracted.withColumn("is_ok", F.col("error_type").isNull())
            .write.mode("overwrite")
            .partitionBy("is_ok")
            .parquet(tmp_path)
        )
        t_ph = result._phase("extract_write", t_ph)
        # --- cheap derived work over the pass we just wrote ---
        # one switch puts all three sinks on the driver or on Spark; one
        # tiny aggregate gives lineage rows AND the pass accounting
        on_driver = _sinks_on_driver(store, tmp_path)
        if on_driver:
            lin_rows = lineage_rows_local(tmp_path, run_id, pass_num)
        else:
            lin_rows = lineage_rows(
                _read_staged(spark, tmp_path), run_id, pass_num
            ).collect()
        n_total = sum(int(r["row_count"]) for r in lin_rows)
        n_bad = sum(int(r["failure_count"]) for r in lin_rows)
        t_ph = result._phase("lineage", t_ph)
        if n_total == 0:
            # empty frontier — the job is complete; nothing to promote
            shutil.rmtree(tmp_path, ignore_errors=True)
            break
        _append_lineage_rows(lin_rows, lineage_path, run_id, pass_num)
        # promote: atomic rename into the readable layout. Pass dirs are
        # immutable once promoted (base_pass skips existing ones; reconcile
        # merged any unmarked ones), so the target cannot exist — os.rename
        # fails loudly rather than ever replacing extracted data.
        os.makedirs(os.path.dirname(final_path), exist_ok=True)
        os.rename(tmp_path, final_path)
        _merge_pass(spark, store, final_path, on_driver)
        _touch(os.path.join(final_path, _MERGED))
        t_ph = result._phase("merge", t_ph)
        if n_bad:
            # attempt index within THIS run (pass_num is offset by
            # base_pass on fixed-run_id reruns)
            _append_failures(
                spark, final_path, failures_path, run_id, pass_num,
                pass_num - base_pass + 1, on_driver,
            )
            t_ph = result._phase("failures", t_ph)
        result.passes += 1
        result.extracted_rows += n_total
        result.success_rows += n_total - n_bad
        result.failed_rows += n_bad
        if n_bad == 0:
            break
        # deterministic kernels: a retry of the same bytes fails identically,
        # so the loop exists for transient task-level faults; the anti-join
        # (success ∪ dead excluded) shrinks the frontier every pass.
    shutil.rmtree(staging_root, ignore_errors=True)
    store.vacuum()
    result.wall_sec = time.perf_counter() - t_start
    return result


def with_prev_context(extracted: DataFrame, tail_chars: int = 500) -> DataFrame:
    """W3: carry the previous page's text tail into each row.

    The reference injects the previous page's tail + trailing context into
    the next page's processing (reference: src/batch_builder.py:90-109,
    src/models.py:101-130). With a pure extractor this collapses to ONE
    lag() window over the extracted output (SURVEY §3.4): partition by the
    url host (the book/site analog), order by (warc_ts, url). Adds
    ``domain`` and ``prev_context`` (null for each domain's first page).

    Scale: the window shuffles by domain — hot domains are bounded by the
    window being a streaming frame (no buffering beyond one row of state
    per partition in the lag frame); a corpus-dominating single domain
    would warrant a composite key (domain, path-prefix) instead.

    Relative/malformed URLs parse to a NULL host; left as-is they would
    all collapse into ONE window partition (skew) and chain prev_context
    across unrelated documents — so domain falls back to the full url,
    making each null-host row its own single-row partition (prev_context
    stays NULL, matching "first page of its site" semantics).
    """
    w = Window.partitionBy("domain").orderBy("warc_ts", "url")
    return (
        extracted.withColumn(
            "domain",
            # try_parse_url: ANSI parse_url throws on malformed urls
            F.coalesce(
                F.try_parse_url(F.col("url"), F.lit("HOST")), F.col("url")
            ),
        ).withColumn(
            "prev_context",
            F.lag(F.expr(f"right(extracted_text, {int(tail_chars)})")).over(w),
        )
    )


def apply_input_filters(pages: DataFrame, filters) -> DataFrame:
    """Config-driven input pre-filters (config.FiltersConfig): membership
    on ``lang`` (P1) + date range on ``warc_ts`` (P2) — the analog of the
    reference's target_states/target_years scan filters (reference:
    src/scanner.py:60-77) — plus the r6 URL/domain blocklist (broadcast
    anti-join + literal pattern predicate; operators/blocklist.py).
    The column predicates push down to the parquet scan; the blocklist
    probes add no shuffle on the pages side."""
    if filters is None:
        return pages
    out = pages
    if getattr(filters, "langs", None):
        member = F.col("lang").isin(list(filters.langs))
        if getattr(filters, "keep_unknown_lang", True):
            # WARC-sourced pages have lang=NULL (no tag in the capture);
            # NULL never satisfies isin(), so strict membership would
            # silently extract nothing from a crawl segment.
            member = member | F.col("lang").isNull()
        out = out.filter(member)
    window = getattr(filters, "crawl_window", None)
    if window is not None:
        out = out.filter(
            (F.col("warc_ts") >= F.lit(window.start.isoformat()))
            & (
                F.col("warc_ts")
                < F.date_add(F.lit(window.end.isoformat()), 1)
            )
        )
    blocklist_path = getattr(filters, "blocklist_path", None)
    url_patterns = getattr(filters, "url_patterns", None)
    if blocklist_path or url_patterns:
        from gemini_ocr_batch_spark.operators.blocklist import (
            blocklist_filter,
        )

        domains = None
        if blocklist_path:
            domains = (
                pages.sparkSession.read.text(blocklist_path)
                .select(F.col("value").alias("domain"))
                .filter(~F.col("domain").startswith("#"))
            )
        out = blocklist_filter(
            out, domains, patterns=list(url_patterns or ())
        )
    robots_path = getattr(filters, "robots_path", None)
    if robots_path:
        from gemini_ocr_batch_spark.operators.blocklist import robots_filter

        out = robots_filter(
            out, pages.sparkSession.read.parquet(robots_path)
        )
    return out


def read_extracted(spark: SparkSession, out_dir: str) -> DataFrame:
    """The success-only extracted view: partition-pruned on is_ok=true."""
    return (
        spark.read.parquet(os.path.join(out_dir, "extracted_all"))
        # partition discovery types is_ok as a string ("true"/"false")
        .filter(F.col("is_ok") == "true")
        .select(*EXTRACTED_USER_COLUMNS)
    )
