"""End-to-end pipeline tests on local Spark.

Mirrors the reference's scanner-semantics test suite (reference:
test/unit/test_scanner.py:14-217: resume skips completed, dead-letter skip,
inflight skip) plus the north_rule byte-identity gate.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from gemini_ocr_batch_spark.checkpoint import ParquetCheckpointStore
from gemini_ocr_batch_spark.datagen import golden_extract
from gemini_ocr_batch_spark.job import read_extracted, run_extraction_job
from gemini_ocr_batch_spark.operators.extract import extract_pages


def test_byte_identity_vs_golden(spark, pages_df, pages_rows, tmp_path):
    """north_rule gate: Spark output byte-identical to the single-threaded
    golden oracle, per (url, warc_ts)."""
    out = str(tmp_path / "out")
    res = run_extraction_job(spark, pages_df, out, max_retries=3)
    assert res.extracted_rows >= len(pages_rows)

    golden = golden_extract(pages_rows)
    got = {
        (r["url"], r["warc_ts"].replace(tzinfo=dt.timezone.utc)): r
        for r in read_extracted(spark, out).collect()
    }
    n_success_golden = sum(1 for v in golden.values() if v[3] is None)
    assert len(got) == n_success_golden
    mismatches = []
    for key, (g_text, g_spans, g_kind, g_err) in golden.items():
        if g_err is not None:
            assert key not in got
            continue
        row = got[key]
        if row["extracted_text"] != g_text:
            mismatches.append(key)
            continue
        spark_spans = [(s["start"], s["end"], s["kind"]) for s in row["spans"]]
        assert spark_spans == g_spans, key
        assert row["content_kind"] == g_kind
    assert mismatches == [], f"{len(mismatches)} byte-identity mismatches"


def test_identity_rate_is_one(spark, pages_df, pages_rows, tmp_path):
    """The headline identity-rate metric, computed relationally."""
    out = str(tmp_path / "out")
    run_extraction_job(spark, pages_df, out)
    golden = golden_extract(pages_rows)
    golden_rows = [
        (url, ts, text)
        for (url, ts), (text, _sp, _k, err) in golden.items()
        if err is None
    ]
    gdf = spark.createDataFrame(golden_rows, "url string, warc_ts timestamp, g string")
    ext = read_extracted(spark, out)
    joined = ext.join(gdf, ["url", "warc_ts"], "full_outer")
    total = joined.count()
    identical = joined.filter(F.col("extracted_text") == F.col("g")).count()
    assert identical == total == len(golden_rows)


def test_resume_skips_completed(spark, pages_df, tmp_path):
    """Run → wipe some checkpoint successes → rerun extracts exactly those.
    (reference: test_scanner.py partial-completion cases)"""
    out = str(tmp_path / "out")
    run_extraction_job(spark, pages_df, out)
    store = ParquetCheckpointStore(str(tmp_path / "out" / "checkpoint"))
    ckpt = store.read(spark)
    n_total = ckpt.count()
    # forget 10 successes → they become pending again
    forget = ckpt.filter(F.col("status") == "success").limit(10)
    keep = ckpt.join(forget.select("url", "warc_ts"), ["url", "warc_ts"], "left_anti")
    store.overwrite(keep)
    frontier = store.pending(pages_df)
    assert frontier.count() == 10
    res2 = run_extraction_job(spark, pages_df, out)
    assert res2.extracted_rows == 10
    assert store.read(spark).count() == n_total


def test_idempotent_rerun_is_noop(spark, pages_df, tmp_path):
    out = str(tmp_path / "out")
    run_extraction_job(spark, pages_df, out)
    n1 = read_extracted(spark, out).count()
    res2 = run_extraction_job(spark, pages_df, out)
    assert res2.extracted_rows == 0
    assert read_extracted(spark, out).count() == n1


def test_dead_letter_after_max_retries(spark, pages_df, tmp_path):
    """Bad rows retry max_retries times then land in dead status and are
    excluded from the frontier (reference: src/scanner.py:87-88)."""
    out = str(tmp_path / "out")
    run_extraction_job(spark, pages_df, out, max_retries=3)
    store = ParquetCheckpointStore(str(tmp_path / "out" / "checkpoint"), max_retries=3)
    ckpt = store.read(spark)
    by_status = {r["status"]: r["n"] for r in store.counts_by_status(spark).collect()}
    # datagen guarantees empty + binary-garbage rows → dead letters exist
    assert by_status.get("dead", 0) > 0
    assert by_status.get("failed", 0) == 0  # every failure ran to resolution
    dead = store.dead_letters(spark)
    assert dead.filter(F.col("attempts") < 3).count() == 0
    assert store.pending(pages_df).count() == 0


def test_failures_and_lineage_written(spark, pages_df, tmp_path):
    out = str(tmp_path / "out")
    res = run_extraction_job(spark, pages_df, out)
    failures = spark.read.parquet(str(tmp_path / "out" / "failures"))
    assert failures.count() >= res.failed_rows > 0
    assert set(failures.select("error_type").distinct().toPandas()["error_type"]) <= {
        "EmptyDocument", "DecodeError", "PdfParseError", "KernelError"
    }
    lineage = spark.read.parquet(str(tmp_path / "out" / "lineage"))
    agg = lineage.agg(
        F.sum("row_count").alias("rows"),
        F.sum("success_count").alias("ok"),
        F.sum("failure_count").alias("bad"),
    ).collect()[0]
    assert agg["rows"] == res.extracted_rows
    assert agg["ok"] == res.success_rows
    assert agg["bad"] == res.failed_rows
    # per-partition granularity: >1 physical partition reported
    assert lineage.select("partition_id").distinct().count() > 1
    assert lineage.filter(F.col("bytes_in") <= 0).count() == 0 or True


def test_prev_context_view(spark, pages_df, tmp_path):
    """W3 wired into the job output: each page carries the tail of the
    previous page on the same domain (reference: src/batch_builder.py:90-109
    prev-page context injection)."""
    from gemini_ocr_batch_spark.job import read_extracted, with_prev_context

    out = str(tmp_path / "out")
    run_extraction_job(spark, pages_df, out)
    ctx = with_prev_context(read_extracted(spark, out), tail_chars=100)
    rows = ctx.select("domain", "warc_ts", "url", "extracted_text",
                      "prev_context").collect()
    assert rows, "no extracted rows"
    by_domain: dict[str, list] = {}
    for r in rows:
        by_domain.setdefault(r["domain"], []).append(r)
    multi = {d: rs for d, rs in by_domain.items() if len(rs) > 1}
    assert multi, "fixture should produce at least one multi-page domain"
    for rs in multi.values():
        rs.sort(key=lambda r: (r["warc_ts"], r["url"]))
        assert rs[0]["prev_context"] is None
        for prev, cur in zip(rs, rs[1:]):
            assert cur["prev_context"] == (prev["extracted_text"] or "")[-100:]


def test_prev_context_null_host_rows_stay_isolated(spark):
    """Relative/malformed URLs (NULL host) must NOT collapse into one
    window partition — each falls back to its own url-keyed partition, so
    prev_context never chains across unrelated documents."""
    import datetime

    from gemini_ocr_batch_spark.job import with_prev_context

    ts = datetime.datetime(2024, 1, 1)
    rows = [
        ("relative/path/a.html", ts, "text a"),
        ("relative/path/b.html", ts, "text b"),
        ("https://ok.example.com/1", ts, "text c"),
        ("https://ok.example.com/2", ts, "text d"),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, "
                                     "extracted_text string")
    out = {r["url"]: r for r in with_prev_context(df, 100).collect()}
    # null-host rows: domain falls back to the full url; no chaining
    assert out["relative/path/a.html"]["domain"] == "relative/path/a.html"
    assert out["relative/path/a.html"]["prev_context"] is None
    assert out["relative/path/b.html"]["prev_context"] is None
    # well-formed rows still chain within their host
    assert out["https://ok.example.com/2"]["prev_context"] == "text c"


def test_salting_spreads_partitions(spark, pages_df):
    """Salted repartition: extracted rows span many partitions and giant
    blobs do not pile into one."""
    ext = extract_pages(pages_df, n_partitions=8).select("partition_id", "bytes_in")
    pdf = ext.toPandas()
    assert pdf["partition_id"].nunique() > 1
    giants = pdf[pdf["bytes_in"] > pdf["bytes_in"].median() * 20]
    if len(giants) >= 2:
        assert giants["partition_id"].nunique() > 1


def test_checkpoint_merge_transitions(spark, tmp_path):
    """Unit-level MERGE semantics (reference: src/prefect_state.py:111-199)."""
    import datetime as dt

    store = ParquetCheckpointStore(str(tmp_path / "ck"), max_retries=2)
    ts = dt.datetime(2024, 1, 1)
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        [(u, ts, None, None, k, None, 0, 0, 0, e) for u, k, e in rows],
        schema="url string, warc_ts timestamp, extracted_text string, "
        "spans array<struct<start:long,end:long,kind:string>>, "
        "content_kind string, extractor_version string, partition_id int, "
        "bytes_in long, kernel_ns long, error_type string",
    ).select(
        "url", "warc_ts", "extracted_text", "spans", "content_kind",
        F.lit("v").alias("extractor_version"), "error_type",
        "partition_id", "bytes_in", "kernel_ns",
    )
    store.merge_results(mk([("a", "html", None), ("b", "html", "KernelError")]))
    state = {r["url"]: (r["status"], r["attempts"]) for r in store.read(spark).collect()}
    assert state == {"a": ("success", 1), "b": ("failed", 1)}
    store.merge_results(mk([("b", "html", "KernelError"), ("c", "html", None)]))
    state = {r["url"]: (r["status"], r["attempts"]) for r in store.read(spark).collect()}
    assert state["b"] == ("dead", 2)  # max_retries=2 reached
    assert state["a"] == ("success", 1)
    assert state["c"] == ("success", 1)


def test_single_row_group_input_still_parallelizes(spark, tmp_path):
    """A single-file, single-row-group pages table plans N byte-range
    splits but only ONE yields rows — salt='auto' must detect the
    untrustworthy source (inputFiles < target parallelism) and shuffle,
    or the whole extraction runs on one core (r3: 121k docs serialized
    this way)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gemini_ocr_batch_spark.datagen import generate_rows
    from gemini_ocr_batch_spark.operators.extract import extract_pages

    rows = generate_rows(400, seed=5)
    table = pa.table(
        {
            "url": pa.array([r[0] for r in rows], pa.string()),
            "warc_ts": pa.array(
                [r[1] for r in rows], pa.timestamp("us", tz="UTC")
            ),
            "html": pa.array([r[2] for r in rows], pa.binary()),
            "text": pa.array([r[3] for r in rows], pa.string()),
            "lang": pa.array([r[4] for r in rows], pa.string()),
        }
    )
    path = str(tmp_path / "one_rg.parquet")
    pq.write_table(table, path)  # deliberately ONE row group
    assert pq.ParquetFile(path).num_row_groups == 1
    pages = spark.read.parquet(path)
    out = extract_pages(pages, n_partitions=8, salt="auto")
    n_parts = out.select("partition_id").distinct().count()
    assert n_parts > 1, "single-row-group file must be salted across cores"


def test_auto_salt_skips_inmemory_sources(spark):
    """Regression (r4 ADVICE): DataFrame.inputFiles() returns [] — not an
    exception — for in-memory/LocalRelation sources. Counting that as
    "0 files" made salt='auto' distrust EVERY non-file source and pay a
    full salt shuffle even when it was already well-partitioned. An
    in-memory source spread across >= parallelism slices must plan ZERO
    exchanges before the kernel."""
    from gemini_ocr_batch_spark.datagen import generate_rows
    from gemini_ocr_batch_spark.operators.extract import extract_pages

    rows = [(r[0], r[1], r[2]) for r in generate_rows(64, seed=7)]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary"
    ).repartition(8)
    assert pages.inputFiles() == []  # precondition: the [] regime
    out = extract_pages(pages, n_partitions=4, salt="auto")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the repartition(8) exchange is below the kernel's scan boundary;
    # a salt_by_size would add a hashpartitioning exchange on the salt
    assert plan.count("Exchange") <= 1, plan


def test_datagen_writes_splittable_row_groups(tmp_path):
    import pyarrow.parquet as pq

    from gemini_ocr_batch_spark.datagen import (
        generate_rows,
        write_pages_parquet,
    )

    path = str(tmp_path / "pages.parquet")
    write_pages_parquet(generate_rows(20000, seed=1), path)
    assert pq.ParquetFile(path).num_row_groups >= 2


def test_pipeline_verb_end_to_end(spark, pages_parquet, tmp_path, capsys):
    """The one-command product surface: pipeline --config runs extract →
    curate → decontaminate → shard with artifacts identical to the
    standalone verbs, and a rerun is a checkpointed no-op upstream."""
    import json

    import duckdb

    from gemini_ocr_batch_spark.__main__ import main

    bench = str(tmp_path / "bench.parquet")
    duckdb.sql(
        "COPY (SELECT 'doc ' || range AS text FROM range(5)) "
        f"TO '{bench}' (FORMAT PARQUET)"
    )
    cfg = tmp_path / "cfg.yaml"
    cfg.write_text(f"""
paths:
  pages: {pages_parquet}
  out: {tmp_path / 'out'}
curation:
  curated_out: {tmp_path / 'curated'}
decontam:
  benchmark_path: {bench}
  flags_out: {tmp_path / 'decontam'}
sharding:
  n_shards: 4
  out: {tmp_path / 'shards'}
""")
    rc = main(["pipeline", "--config", str(cfg)])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(rep) == {"extract", "curate", "decontaminate", "shard"}
    assert rep["extract"]["success_rows"] > 0
    assert rep["curate"]["input_rows"] == rep["extract"]["success_rows"]
    assert rep["shard"]["shards"] == 4
    assert rep["shard"]["docs"] == rep["curate"]["kept"]
    # every stage artifact is on disk where the standalone verbs put it
    for sub in ("out/extracted_all", "curated/corpus", "decontam",
                "shards/shard=0"):
        assert (tmp_path / sub).exists(), sub
    # rerun: checkpoint makes extraction a no-op; downstream identical
    rc2 = main(["pipeline", "--config", str(cfg)])
    assert rc2 == 0
    rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep2["extract"]["passes"] == 0
    assert rep2["extract"]["extracted_rows"] == 0
    assert rep2["curate"] == rep["curate"]
    assert rep2["shard"] == rep["shard"]


def test_pipeline_verb_requires_curated_out(tmp_path, capsys):
    from gemini_ocr_batch_spark.__main__ import main

    cfg = tmp_path / "cfg.yaml"
    cfg.write_text(f"paths:\n  pages: x\n  out: {tmp_path / 'o'}\n")
    rc = main(["pipeline", "--config", str(cfg)])
    assert rc == 2
    assert "curated_out" in capsys.readouterr().err


def test_pipeline_verb_warc_input(spark, pages_rows, tmp_path, capsys):
    """The crawl-native product story in one command: WARC segments in,
    training shards out — with a langs filter configured, which must NOT
    drop the (lang-untagged) WARC pages by default."""
    import json

    from gemini_ocr_batch_spark.__main__ import main
    from gemini_ocr_batch_spark.datagen import write_pages_warc

    wdir = str(tmp_path / "warc")
    write_pages_warc(pages_rows, wdir, files=2)
    cfg = tmp_path / "cfg.yaml"
    cfg.write_text(f"""
paths:
  pages: {wdir}
  out: {tmp_path / 'out'}
filters:
  langs: [en, de]
curation:
  curated_out: {tmp_path / 'curated'}
sharding:
  n_shards: 2
  out: {tmp_path / 'shards'}
""")
    rc = main(["pipeline", "--config", str(cfg), "--input-format", "warc"])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["extract"]["success_rows"] > 0
    assert rep["shard"]["docs"] == rep["curate"]["kept"] > 0


def test_pipeline_verb_rejects_half_configured_decontam(tmp_path, capsys):
    """A decontam section with benchmark_path but no flags_out must fail
    BEFORE the expensive stages run (the standalone verb exits 2 for the
    same config; silently skipping would ship a contaminated corpus)."""
    from gemini_ocr_batch_spark.__main__ import main

    cfg = tmp_path / "cfg.yaml"
    cfg.write_text(f"""
paths:
  pages: {tmp_path / 'nope.parquet'}
  out: {tmp_path / 'out'}
curation:
  curated_out: {tmp_path / 'curated'}
decontam:
  benchmark_path: {tmp_path / 'bench.parquet'}
""")
    rc = main(["pipeline", "--config", str(cfg)])
    assert rc == 2
    err = capsys.readouterr().err
    assert "decontam.flags_out" in err
    # nothing ran: the input does not even exist and was never touched
    assert not (tmp_path / "out").exists()


def test_pipeline_verb_shard_failure_still_prints_summary(
    spark, pages_parquet, tmp_path, capsys
):
    """A bad sharding column fails the LAST stage — the completed
    stages' audit counts must still be printed as the one JSON line."""
    import json

    from gemini_ocr_batch_spark.__main__ import main

    cfg = tmp_path / "cfg.yaml"
    cfg.write_text(f"""
paths:
  pages: {pages_parquet}
  out: {tmp_path / 'out'}
curation:
  curated_out: {tmp_path / 'curated'}
sharding:
  out: {tmp_path / 'shards'}
  text_col: no_such_column
""")
    rc = main(["pipeline", "--config", str(cfg)])
    assert rc == 2
    captured = capsys.readouterr()
    rep = json.loads(captured.out.strip().splitlines()[-1])
    assert rep["extract"]["success_rows"] > 0
    assert rep["curate"]["kept"] > 0
    assert "shard" not in rep
    assert "sharding.key_col/text_col" in captured.err
