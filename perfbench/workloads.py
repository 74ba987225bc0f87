"""The benchmark's workloads.

Each workload function takes the run's ``run.Bench``, the seed, the
measuring window in seconds and the trace flag, and returns
``(samples, layers, host)``: end-to-end samples by metric name, per-layer
values by metric name (traced runs only) and the host stamp.

Inputs are generated from the seed before the session starts and are not
timed; neither are the output checks. Iterations run back to back in one
process (a closed loop with one client).
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import random
import shutil
import statistics
import time


# pipeline_mixed: input pages, drawn from the generator in its nominal
# row mix (url path segment → share), so that every seed carries the same
# number of PDFs, giant blobs and dead letters; clean pages fill the rest
N_MIXED_ROWS = 1000
_MIX = {"doc": 0.04, "farm": 0.02, "bad": 0.02, "empty": 0.01, "bin": 0.01,
        "giant": 0.015}
# corpus_ops: rows of the generated documents table
N_DOCS = 500
# Warm iterations per run, however long the cold one took: a fixed count,
# because warm iterations still speed up as the JIT warms (corpus_ops:
# ~8 s, then ~6.5 s), so a run that fits fewer of them in its window
# would read slower. One keeps a pipeline_mixed run near a minute on 4
# cores (~12 s set-up, ~28 s cold, ~13 s warm); corpus_ops takes two
# (~12 s set-up, ~20 s cold, ~8 + ~6.5 s warm).
MIN_WARM = {"pipeline_mixed": 1, "corpus_ops": 2}
CORPUS_LINES = ("dsir_weights", "repeated_spans", "dedup_minhash_lsh",
                "bm25_scores", "simhash_near_pairs")

# the 31-word vocabulary of the documents table the declared queries'
# oracle tests run on
_VOCAB = (
    "query row stream the spark line small fast group customer batch sort "
    "value hash filter big data dup part column order scan a slow agg key "
    "window table merge vector join"
).split()


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _session_layers(b, setup: float, cold: float, warm: list[float]) -> dict:
    return {
        "session.jvm_start_s": b.jvm_start_s,
        "session.setup_after_jvm_s": setup - b.jvm_start_s,
        "session.cold_minus_warm_s": cold - _median(warm),
    }


# event-log metrics reported per call, summed over an iteration's calls
_CALL_METRICS = ("jobs", "outside_jobs_s", "executor_cpu_s", "gc_s",
                 "shuffle_mb", "spill_mb")


def _iteration_layers(ev: dict[str, dict], groups) -> dict:
    """The traced iteration's event-log metrics: the sum over its calls,
    with the worst call's task skew."""
    out = {f"iteration.{k}": sum(ev[g][k] for g in groups)
           for k in _CALL_METRICS}
    out["iteration.task_skew"] = max(ev[g]["task_skew"] for g in groups)
    return out


def _warm_iterations(b, fn, t_start: float, seconds: float,
                     trace: bool, min_warm: int) -> list:
    """Run ``fn(i)`` for i = 1, 2, … until the window that opened at
    ``t_start`` has passed and at least ``min_warm`` iterations ran. A
    traced run needs only trace_overhead's reference: ``min_warm``
    iterations. Returns the results of the iterations that succeeded."""
    window = 0.0 if trace else seconds
    done: list = []
    i = 0
    while i < min_warm or time.perf_counter() - t_start < window:
        i += 1
        out = b.iteration(lambda: fn(i))
        if out is not None:
            done.append(out)
    return done


def _traced_events(b) -> dict[str, dict]:
    """Stop the traced session and attribute its event log to the timed
    calls."""
    from eventlog import read_events, summarize

    b.stop_session()
    return summarize(read_events(b.event_log_dir), b.calls)


# --------------------------------------------------------------------------
# pipeline_mixed
# --------------------------------------------------------------------------


def _counts(section: dict) -> dict:
    """A verb summary section without its output paths."""
    return {k: v for k, v in section.items() if not k.endswith("path")}


def mixed_rows(n: int, seed: int) -> list[tuple]:
    """``n`` rows of ``datagen.generate_rows`` in its nominal class mix,
    kept in generator order. The class counts of a plain ``n``-row draw
    vary with the seed (giant blobs: 15 ± 4 per 1000 rows), and with them
    the extraction work."""
    from gemini_ocr_batch_spark import datagen

    pool = datagen.generate_rows(3 * n, seed)
    want = {c: round(share * n) for c, share in _MIX.items()}
    want["page"] = n - sum(want.values())
    rows = []
    for r in pool:
        cls = r[0].split("/")[3]
        if want.get(cls, 0) > 0:
            want[cls] -= 1
            rows.append(r)
    return rows


def garbage_reads_as_text(blob: bytes) -> bool:
    """Whether the kernel's decoder takes a binary-garbage blob for text:
    valid UTF-8, or, read as latin-1, at most 10% C0 control characters
    (other than \\t \\n \\f \\r) in its first 4 KiB. The decoder does not
    count the C1 controls (0x7f-0x9f), so about one in four of the
    generator's 512-byte random blobs passes as text. This is a known
    kernel defect; such rows may end as success, and any other garbage
    row that does not end dead fails the check."""
    try:
        blob.decode("utf-8")
        return True
    except UnicodeDecodeError:
        head = blob[:4096]
        n_c0 = sum(1 for c in head if c < 0x20 and c not in (9, 10, 12, 13))
        return n_c0 <= 0.10 * max(1, len(head))


def pipeline_mixed(b, seed: int, seconds: float, trace: bool):
    """The ``pipeline`` verb (extract → curate → decontaminate → shard)
    over the mixed generator corpus. The traced run also reruns the verb
    over a finished out dir (resume), runs it once with the event log on,
    and then runs its stages one call each."""
    from gemini_ocr_batch_spark import datagen
    from gemini_ocr_batch_spark.__main__ import main as cli
    from gemini_ocr_batch_spark.checkpoint import ParquetCheckpointStore
    from gemini_ocr_batch_spark.kernels import extract_document_detail

    inp = os.path.join(b.work, "in")
    os.makedirs(inp)
    rows = mixed_rows(N_MIXED_ROWS, seed)
    pages_path = os.path.join(inp, "pages.parquet")
    # one file: too few input splits for the cores, so the salt shuffle fires
    datagen.write_pages_parquet(rows, pages_path)
    keys = {(r[0], r[1]) for r in rows}
    # the generator's empty and binary-garbage rows are the dead letters,
    # less the garbage the kernel's decoder takes for text
    gen_dead = {url for url, *_ in rows if "/empty/" in url or "/bin/" in url}
    as_text = {url for url, _ts, blob, _t, _l in rows
               if "/bin/" in url and garbage_reads_as_text(blob)}
    # decontamination benchmark: the text of the first 25 clean pages
    bench_texts = []
    for url, _ts, blob, _t, _l in rows:
        text, _s, _k, err, _m = extract_document_detail(blob, url)
        if err is None and "/page/" in url:
            bench_texts.append(text)
        if len(bench_texts) == 25:
            break
    import pyarrow as pa
    import pyarrow.parquet as pq

    bench_path = os.path.join(inp, "benchmark.parquet")
    pq.write_table(pa.table({"text": bench_texts}), bench_path)

    def config(tag: str) -> tuple[str, str]:
        d = os.path.join(b.work, tag)
        q = json.dumps
        cfg = os.path.join(b.work, f"{tag}.yaml")
        with open(cfg, "w", encoding="utf-8") as fh:
            fh.write(
                f"paths: {{pages: {q(pages_path)}, out: {q(d + '/out')}}}\n"
                f"curation: {{curated_out: {q(d + '/curated')}}}\n"
                f"decontam: {{benchmark_path: {q(bench_path)}, "
                f"flags_out: {q(d + '/decontam')}}}\n"
                f"sharding: {{n_shards: 4, out: {q(d + '/shards')}}}\n"
            )
        return cfg, d

    def verb(cfg: str) -> dict:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = cli(["pipeline", "--config", cfg])
        b.check(rc == 0, f"pipeline exit code {rc}")
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    reference: dict = {}

    def check_checkpoint(out_dir: str) -> dict:
        """The store's terminal keys per status, read back from it: every
        key ends success or dead, and the dead keys are the generator's
        empty and garbage rows. The first iteration's dead set is the
        reference for the later ones."""
        store = ParquetCheckpointStore(os.path.join(out_dir, "checkpoint"))
        status = {r["status"]: r["n"]
                  for r in store.counts_by_status(b.spark).collect()}
        dead = {r["url"] for r in
                store.dead_letters(b.spark).select("url").collect()}
        b.check(set(status) <= {"success", "dead"}
                and sum(status.values()) == len(keys),
                f"checkpoint {status}: not every one of {len(keys)} keys "
                "is success or dead")
        b.check(gen_dead - as_text <= dead <= gen_dead,
                f"dead urls {sorted(dead ^ gen_dead)} differ from the "
                "generator's empty and garbage rows")
        b.check(status.get("dead", 0)
                == sum(1 for url, _ts in keys if url in dead),
                f"checkpoint {status} vs dead urls {sorted(dead)}")
        reference.setdefault("dead", dead)
        b.check(dead == reference["dead"],
                f"dead urls {sorted(dead ^ reference['dead'])} changed "
                "between iterations")
        return status

    def check_downstream(summary: dict, n_success: int) -> None:
        got = {k: _counts(summary[k])
               for k in ("curate", "decontaminate", "shard")}
        if "downstream" not in reference:
            b.check(got["curate"]["input_rows"] == n_success,
                    "curate input_rows == success rows")
            b.check(got["decontaminate"]["input_rows"] == n_success,
                    "decontaminate input_rows == success rows")
            b.check(got["decontaminate"]["contaminated"] >= 1,
                    "the benchmark texts are found as contaminated")
            b.check(got["shard"]["docs"] == got["curate"]["kept"],
                    "shard docs == curate kept")
            reference["downstream"] = got
        b.check(got == reference["downstream"],
                f"downstream counts {got} != {reference['downstream']}")

    def check_extract(ex: dict, status: dict) -> None:
        n_dead = status.get("dead", 0)
        b.check(ex["success_rows"] == status.get("success", 0)
                and ex["failed_rows"] == 3 * n_dead
                and ex["passes"] == (3 if n_dead else 1),
                f"extract {ex} vs checkpoint {status}")

    def full(tag: str) -> float:
        cfg, d = config(tag)
        summary, secs = b.timed(tag, lambda: verb(cfg))
        status = check_checkpoint(d + "/out")
        check_extract(summary["extract"], status)
        check_downstream(summary, status.get("success", 0))
        return secs

    def resume(tag: str) -> float:
        cfg, _d = config(tag)
        summary, secs = b.timed(tag + ":resume", lambda: verb(cfg))
        b.check(summary["extract"]["passes"] == 0
                and summary["extract"]["extracted_rows"] == 0,
                f"resume re-extracted: {summary['extract']}")
        check_downstream(summary, len(keys) - len(reference["dead"]))
        return secs

    setup = b.start_session()
    host = b.host()
    t_start = time.perf_counter()
    cold = b.iteration(lambda: full("cold"))
    # resume is a per-layer figure: only traced runs pay for it
    resumed = b.iteration(lambda: resume("cold")) if trace else None

    def warm_once(i: int) -> float:
        try:
            return full(f"warm{i}")
        finally:
            shutil.rmtree(os.path.join(b.work, f"warm{i}"),
                          ignore_errors=True)

    warm = _warm_iterations(b, warm_once, t_start, seconds, trace,
                            MIN_WARM["pipeline_mixed"])
    n_pages = len(rows)
    samples = {
        "setup_s": [setup],
        "wall_s": warm,
        "cold_wall_s": [cold] if cold is not None else [],
        "docs_per_s": [n_pages / w for w in warm],
    }
    print(f"# pipeline_mixed: {n_pages} input pages, {len(keys)} keys, "
          f"{len(gen_dead)} empty or garbage urls, {len(as_text)} of them "
          "garbage the decoder takes for text")
    if not trace:
        return samples, {}, host

    # ---- traced run: event log on, same JVM, fresh session ----
    from gemini_ocr_batch_spark.__main__ import _extract_stage, _shard_job
    from gemini_ocr_batch_spark.config import load_config
    from gemini_ocr_batch_spark.operators.decontam import (
        run_decontamination_job,
    )
    from gemini_ocr_batch_spark.operators.extract import extract_pages
    from gemini_ocr_batch_spark.operators.webtext import run_curation_job

    b.start_session(event_log=True)
    spark = b.spark
    # the verb itself, traced: trace_overhead's numerator
    traced = b.iteration(lambda: full("verb"))
    # then the verb's stages, called one at a time with the arguments the
    # verb passes them, on a fresh out dir
    cfg = load_config(config("stages")[0])
    out, cur = cfg.paths.out, cfg.curation.curated_out
    stage: dict = {}

    def stages() -> None:
        stage["job"], stage["extract_s"] = b.timed(
            "extract", lambda: _extract_stage(
                spark, cfg.paths.pages, out, "parquet", cfg.filters,
                cfg.checkpoint, cfg.execution.max_retries,
                cfg.execution.partitions, cfg.execution.track_inflight))
        stage["curate"], stage["curate_s"] = b.timed(
            "curate", lambda: run_curation_job(
                spark, out, cur,
                min_quality_x10000=cfg.curation.min_quality_x10000,
                max_rep_x10000=cfg.curation.max_rep_x10000,
                normalize_nfkc=cfg.curation.normalize_nfkc,
                gopher_rules=cfg.curation.gopher_rules))
        stage["decontam"], stage["decontam_s"] = b.timed(
            "decontam", lambda: run_decontamination_job(
                spark, out, cfg.decontam.benchmark_path,
                cfg.decontam.flags_out, n=cfg.decontam.ngram,
                min_overlap=cfg.decontam.min_overlap,
                bench_text_col=cfg.decontam.benchmark_text_col))
        stage["shard"], stage["shard_s"] = b.timed(
            "shard", lambda: _shard_job(
                spark, os.path.join(cur, "corpus"), cfg.sharding.out,
                cfg.sharding.n_shards, cfg.sharding.key_col,
                cfg.sharding.text_col))
        stage["status"] = check_checkpoint(out)
        j = stage["job"]
        check_extract({"success_rows": j.success_rows,
                       "failed_rows": j.failed_rows, "passes": j.passes},
                      stage["status"])
        check_downstream({"curate": stage["curate"],
                          "decontaminate": stage["decontam"],
                          "shard": stage["shard"]},
                         stage["status"].get("success", 0))
        store = ParquetCheckpointStore(os.path.join(out, "checkpoint"))
        pages = spark.read.parquet(pages_path)
        n_pending, stage["pending_s"] = b.timed(
            "pending", lambda: store.pending(pages).count())
        b.check(n_pending == 0, f"{n_pending} keys pending after the job")

    b.iteration(stages)

    def identity(batches):
        yield from batches

    pages = spark.read.parquet(pages_path)
    slim = pages.select("url", "warc_ts", "html")
    _, noop_s = b.timed("noop", lambda: extract_pages(pages).write.format(
        "noop").mode("overwrite").save())
    _, arrow_s = b.timed("arrow", lambda: slim.mapInArrow(
        identity, slim.schema).write.format("noop").mode("overwrite").save())
    t0 = time.perf_counter()
    for url, _ts, blob, _t, _l in rows:
        extract_document_detail(blob, url)
    kernel_us = (time.perf_counter() - t0) / len(rows) * 1e6

    import pyarrow.compute as pc

    lin = pq.read_table(os.path.join(out, "lineage"))
    lin = lin.filter(pc.equal(lin["pass_num"], 0)).to_pylist()
    kernel_ms = [r["kernel_wall_ms"] for r in lin]
    ev = _traced_events(b)
    job, status = stage["job"], stage["status"]
    layers = {
        **_session_layers(b, setup, cold or 0.0, warm),
        **_iteration_layers(ev, ["verb"]),
        "trace_overhead": (traced / _median(warm) - 1) if traced else 0.0,
        "pipeline.resume_wall_s": resumed or 0.0,
        "job.extract_write_s": job.phase_secs.get("extract_write", 0.0),
        "job.lineage_s": job.phase_secs.get("lineage", 0.0),
        "job.merge_s": job.phase_secs.get("merge", 0.0),
        "job.failures_s": job.phase_secs.get("failures", 0.0),
        "job.passes": job.passes,
        "job.jobs": ev["extract"]["jobs"],
        "extract.noop_s": noop_s,
        "extract.partition_skew":
            max(kernel_ms) / statistics.mean(kernel_ms),
        "extract.shuffle_mb": ev["extract"]["shuffle_mb"],
        "extract.output_mb": ev["extract"]["output_mb"],
        "arrow.identity_s": arrow_s,
        "kernels.us_per_page": kernel_us,
        "kernels.spark_us_per_page":
            sum(kernel_ms) * 1e3 / sum(r["row_count"] for r in lin),
        "checkpoint.pending_s": stage["pending_s"],
        "checkpoint.success": status.get("success", 0),
        "checkpoint.dead": status.get("dead", 0),
        "checkpoint.garbage_as_text": len(as_text - reference["dead"]),
        "webtext.curate_s": stage["curate_s"],
        "webtext.jobs": ev["curate"]["jobs"],
        "webtext.kept_ratio":
            stage["curate"]["kept"] / stage["curate"]["input_rows"],
        "decontam.sweep_s": stage["decontam_s"],
        "decontam.jobs": ev["decontam"]["jobs"],
        "shard.s": stage["shard_s"],
        "shard.jobs": ev["shard"]["jobs"],
    }
    return samples, layers, host


# --------------------------------------------------------------------------
# corpus_ops
# --------------------------------------------------------------------------


def write_documents(n: int, seed: int, path: str) -> None:
    """A documents table shaped like the one the declared queries' oracle
    tests run on: 10-100 words drawn from a 31-word vocabulary, five
    languages, ten sources; ~3% of rows re-post an earlier row's text
    verbatim (near-duplicate and repeated-span candidates)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(n):
        if i and rng.random() < 0.03:
            texts.append(texts[rng.randrange(i)])
        else:
            texts.append(" ".join(
                rng.choice(_VOCAB) for _ in range(rng.randint(10, 100))))
    langs = [rng.choice(("en", "en", "de", "fr", "zh", "es")) for _ in texts]
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{rng.randrange(10)}" for _ in texts],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), path)


def _joined_sql(cols: list[str], string_type: str) -> str:
    vals = ", ".join(f"coalesce(CAST({c} AS {string_type}), '-')"
                     for c in cols)
    return f"concat_ws('|', {vals})"


def spark_digest(df) -> tuple:
    """Order-independent (columns, rows, hash sum) of a Spark result. A
    row's hash is the first 15 hex digits of the md5 of its values joined
    by '|', the same in Spark SQL and DuckDB."""
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    h = f"conv(substr(md5({_joined_sql(cols, 'STRING')}), 1, 15), 16, 10)"
    row = df.select(F.expr(h).cast("decimal(38,0)").alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("h")).first()
    return tuple(cols), row["n"], str(row["h"] or 0)


def duckdb_digest(con, sql: str) -> tuple:
    """:func:`spark_digest` of a DuckDB query's result."""
    cols = sorted(c[0] for c in con.execute(
        f"SELECT * FROM ({sql}) LIMIT 0").description)
    h = f"('0x' || substr(md5({_joined_sql(cols, 'VARCHAR')}), 1, 15))"
    n, total = con.execute(
        f"SELECT count(*), sum({h}::BIGINT) FROM ({sql})").fetchone()
    return tuple(cols), n, str(total or 0)


def corpus_ops(b, seed: int, seconds: float, trace: bool):
    """Five corpus-operator queries from the declared query registry over
    a generated documents table. Each query's timed action is its
    :func:`spark_digest`, checked against the DuckDB oracle's: unlike
    ``.count()``, it computes every output column of every row, and it
    checks the full result on every iteration."""
    import duckdb

    import __spark_entry__ as entry

    sf_dir = os.path.join(b.work, "in")
    os.makedirs(sf_dir)
    write_documents(N_DOCS, seed, os.path.join(sf_dir, "documents.parquet"))
    queries = dict(entry.queries())
    oracles = dict(entry.oracle_sql())
    for name, (fn, sql) in entry.local_parity().items():
        queries[name], oracles[name] = fn, sql
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"'{sf_dir}/documents.parquet'")
    expect = {q: duckdb_digest(con, oracles[q]) for q in CORPUS_LINES}
    con.close()

    rows_out: dict[str, int] = {}

    def one_pass(tag: str) -> dict[str, float]:
        secs = {}
        for q in CORPUS_LINES:
            got, secs[q] = b.timed(f"{tag}{q}", lambda: spark_digest(
                queries[q](b.spark, sf_dir)))
            b.check(got == expect[q], f"{q}: {got} != oracle {expect[q]}")
            rows_out[q] = got[1]
        return secs

    setup = b.start_session()
    host = b.host()
    t_start = time.perf_counter()
    cold = b.iteration(lambda: one_pass("cold:"))
    warm = _warm_iterations(b, lambda i: one_pass(f"warm{i}:"), t_start,
                            seconds, trace, MIN_WARM["corpus_ops"])
    walls = [sum(w.values()) for w in warm]
    n_docs = N_DOCS * len(CORPUS_LINES)
    cold_wall = sum(cold.values()) if cold else None
    samples = {
        "setup_s": [setup],
        "wall_s": walls,
        "cold_wall_s": [cold_wall] if cold else [],
        "docs_per_s": [n_docs / w for w in walls],
    }
    if not trace:
        for q in CORPUS_LINES:
            line = [w[q] for w in warm]
            print(f"# {q}_s median={_median(line):.4f} s n={len(line)} "
                  f"rows={rows_out.get(q, 0)}")
        return samples, {}, host

    b.start_session(event_log=True)
    traced = b.iteration(lambda: one_pass(""))
    ev = _traced_events(b)
    layers = {
        **_session_layers(b, setup, cold_wall or 0.0, walls),
        "trace_overhead":
            (sum(traced.values()) / _median(walls) - 1) if traced else 0.0,
    }
    for q in CORPUS_LINES:
        m = ev[q]
        layers[f"{q}_s"] = _median([w[q] for w in warm])
        layers[f"{q}.rows_out"] = rows_out.get(q, 0)
        for k in _CALL_METRICS + ("task_skew",):
            layers[f"{q}.{k}"] = m[k]
    layers.update(_iteration_layers(ev, CORPUS_LINES))
    return samples, layers, host


WORKLOADS = {"pipeline_mixed": pipeline_mixed, "corpus_ops": corpus_ops}
