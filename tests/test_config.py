"""Validated config source (S9) — mirrors the reference's config test
strategy (reference: test/unit/test_config.py:11-109: invalid YAML, missing
field, bad range ⇒ clear dotted-path messages; src/env.py .env semantics)."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from gemini_ocr_batch_spark.config import (
    CONFIG_ENV_VAR,
    AppConfig,
    ConfigError,
    load_config,
    load_dotenv,
    resolve_config_path,
    validate_config,
)

FULL = """
paths:
  pages: /data/pages.parquet
  out: /data/out
filters:
  langs: [en, de]
  crawl_window:
    start: 2024-01-01
    end: 2024-06-30
execution:
  max_retries: 5
  partitions: 64
  track_inflight: true
checkpoint:
  backend: parquet
  n_buckets: 32
spark:
  master: local[8]
  shuffle_partitions: 8
"""


def _write(tmp_path, text, name="cfg.yaml"):
    p = tmp_path / name
    p.write_text(text, encoding="utf-8")
    return str(p)


def test_full_config_parses(tmp_path):
    cfg = load_config(_write(tmp_path, FULL))
    assert isinstance(cfg, AppConfig)
    assert cfg.paths.pages == "/data/pages.parquet"
    assert cfg.filters.langs == ["en", "de"]
    assert cfg.filters.crawl_window.start == dt.date(2024, 1, 1)
    assert cfg.filters.crawl_window.end == dt.date(2024, 6, 30)
    assert cfg.execution.max_retries == 5
    assert cfg.execution.track_inflight is True
    assert cfg.checkpoint.n_buckets == 32
    assert cfg.spark.master == "local[8]"


def test_minimal_config_gets_defaults(tmp_path):
    cfg = load_config(
        _write(tmp_path, "paths:\n  pages: /p\n  out: /o\n")
    )
    assert cfg.execution.max_retries == 3
    assert cfg.execution.partitions is None
    assert cfg.execution.track_inflight is False
    assert cfg.checkpoint.backend == "parquet"
    assert cfg.checkpoint.n_buckets == 16
    assert cfg.filters.langs is None and cfg.filters.crawl_window is None
    assert cfg.spark.master is None


def test_missing_required_field_names_path(tmp_path):
    with pytest.raises(ConfigError) as ei:
        load_config(_write(tmp_path, "paths:\n  out: /o\n"))
    assert "paths.pages: field required" in str(ei.value)


def test_bad_window_range_is_actionable(tmp_path):
    bad = FULL.replace("end: 2024-06-30", "end: 2023-01-01")
    with pytest.raises(ConfigError) as ei:
        load_config(_write(tmp_path, bad))
    msg = str(ei.value)
    assert "filters.crawl_window.end" in msg
    assert "must be >= filters.crawl_window.start" in msg


def test_invalid_yaml_is_actionable(tmp_path):
    with pytest.raises(ConfigError) as ei:
        load_config(_write(tmp_path, "paths: [unclosed\n"))
    assert "Invalid YAML" in str(ei.value)


def test_missing_file_is_actionable(tmp_path):
    with pytest.raises(ConfigError) as ei:
        load_config(str(tmp_path / "nope.yaml"))
    assert "Config file not found" in str(ei.value)


def test_non_mapping_root_rejected():
    with pytest.raises(ConfigError) as ei:
        validate_config(["a", "b"])  # type: ignore[arg-type]
    assert "expected mapping" in str(ei.value)


def test_all_errors_reported_at_once():
    with pytest.raises(ConfigError) as ei:
        validate_config(
            {
                "paths": {"pages": ""},
                "execution": {"max_retries": 0, "partitions": "lots"},
                "checkpoint": {"backend": "dynamo"},
                "filters": {"langs": "en"},
            }
        )
    msg = str(ei.value)
    for frag in (
        "paths.pages: must be a non-empty string",
        "paths.out: field required",
        "execution.max_retries: must be >= 1",
        "execution.partitions: must be an integer",
        "checkpoint.backend: must be one of parquet|iceberg",
        "filters.langs: must be a list of non-empty strings",
    ):
        assert frag in msg, frag


def test_iceberg_backend_requires_table():
    with pytest.raises(ConfigError) as ei:
        validate_config(
            {"paths": {"pages": "/p", "out": "/o"},
             "checkpoint": {"backend": "iceberg"}}
        )
    assert "checkpoint.iceberg_table: field required" in str(ei.value)


def test_dotenv_setdefault_semantics(tmp_path, monkeypatch):
    envf = tmp_path / ".env"
    envf.write_text(
        "# comment\nSPARK_GRAFT_TESTVAR='from_dotenv'\n"
        "SPARK_GRAFT_TESTVAR2=plain\nnot a kv line\n",
        encoding="utf-8",
    )
    monkeypatch.setenv("SPARK_GRAFT_TESTVAR", "from_env")
    monkeypatch.delenv("SPARK_GRAFT_TESTVAR2", raising=False)
    load_dotenv(str(envf))
    assert os.environ["SPARK_GRAFT_TESTVAR"] == "from_env"  # env wins
    assert os.environ["SPARK_GRAFT_TESTVAR2"] == "plain"
    monkeypatch.delenv("SPARK_GRAFT_TESTVAR2", raising=False)
    load_dotenv(str(tmp_path / "absent.env"))  # no-op, no raise


def test_resolve_config_path_precedence(monkeypatch):
    monkeypatch.setenv(CONFIG_ENV_VAR, "/from/env.yaml")
    assert resolve_config_path("/from/cli.yaml") == "/from/cli.yaml"
    assert resolve_config_path(None) == "/from/env.yaml"
    monkeypatch.delenv(CONFIG_ENV_VAR)
    assert resolve_config_path(None) is None


def test_cli_rejects_bad_config_without_spark(tmp_path, capsys):
    from gemini_ocr_batch_spark.__main__ import main

    bad = _write(tmp_path, "paths:\n  out: /o\n")
    rc = main(["run", "--config", bad])
    assert rc == 2
    assert "paths.pages: field required" in capsys.readouterr().err


def test_cli_requires_paths_from_somewhere(capsys):
    from gemini_ocr_batch_spark.__main__ import main

    rc = main(["run"])
    assert rc == 2
    assert "--pages" in capsys.readouterr().err


def test_apply_input_filters(spark):
    from gemini_ocr_batch_spark.config import CrawlWindow, FiltersConfig
    from gemini_ocr_batch_spark.job import apply_input_filters
    from gemini_ocr_batch_spark.schemas import PAGES_SCHEMA

    rows = [
        ("u1", dt.datetime(2024, 1, 15), b"x", None, "en"),
        ("u2", dt.datetime(2024, 7, 1), b"x", None, "en"),   # out of window
        ("u3", dt.datetime(2024, 3, 1), b"x", None, "fr"),   # wrong lang
        ("u4", dt.datetime(2024, 6, 30, 23, 59), b"x", None, "de"),  # edge in
    ]
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    f = FiltersConfig(
        langs=["en", "de"],
        crawl_window=CrawlWindow(dt.date(2024, 1, 1), dt.date(2024, 6, 30)),
    )
    got = {r["url"] for r in apply_input_filters(pages, f).collect()}
    assert got == {"u1", "u4"}
    assert apply_input_filters(pages, None) is pages
    # filters are plain predicates → pushed to the scan, not post-filtered
    plan = apply_input_filters(pages, f)._jdf.queryExecution().executedPlan()
    assert "Filter" in plan.toString()


def test_curation_section_defaults_and_validation():
    from gemini_ocr_batch_spark.config import (
        ConfigError,
        validate_config,
    )

    base = {"paths": {"pages": "/p", "out": "/o"}}
    cfg = validate_config(base)
    assert cfg.curation.min_quality_x10000 == 3000
    assert cfg.curation.max_rep_x10000 == 5000
    assert cfg.curation.curated_out is None

    cfg = validate_config(
        {**base, "curation": {"min_quality_x10000": 4200,
                              "max_rep_x10000": 2500,
                              "curated_out": "/cur"}}
    )
    assert cfg.curation.min_quality_x10000 == 4200
    assert cfg.curation.max_rep_x10000 == 2500
    assert cfg.curation.curated_out == "/cur"

    import pytest

    with pytest.raises(ConfigError) as exc:
        validate_config(
            {**base, "curation": {"min_quality_x10000": -1,
                                  "curated_out": ""}}
        )
    msg = str(exc.value)
    assert "curation.min_quality_x10000" in msg
    assert "curation.curated_out" in msg


def test_decontam_section_defaults_and_validation():
    base = {"paths": {"pages": "/p", "out": "/o"}}
    cfg = validate_config(base)
    assert cfg.decontam.ngram == 8
    assert cfg.decontam.min_overlap == 1
    assert cfg.decontam.benchmark_path is None
    assert cfg.decontam.flags_out is None

    cfg = validate_config(
        {**base, "decontam": {"ngram": 13, "min_overlap": 3,
                              "benchmark_path": "/b.parquet",
                              "flags_out": "/dec"}}
    )
    assert cfg.decontam.ngram == 13
    assert cfg.decontam.min_overlap == 3
    assert cfg.decontam.benchmark_path == "/b.parquet"
    assert cfg.decontam.flags_out == "/dec"

    import pytest

    with pytest.raises(ConfigError) as exc:
        validate_config(
            {**base, "decontam": {"ngram": 1, "benchmark_path": ""}}
        )
    msg = str(exc.value)
    assert "decontam.ngram" in msg
    assert "decontam.benchmark_path" in msg


def test_example_pipeline_config_stays_valid():
    """examples/pipeline.yaml documents every section; keep it loading
    cleanly so the docs cannot rot."""
    import os

    from gemini_ocr_batch_spark.config import load_config

    path = os.path.join(os.path.dirname(__file__), "..",
                        "examples", "pipeline.yaml")
    cfg = load_config(path)
    assert cfg.paths.pages == "/data/crawl/pages"
    assert cfg.filters.langs == ["en", "de"]
    assert cfg.filters.blocklist_path and cfg.filters.robots_path
    assert cfg.filters.url_patterns == ["/casino/", "\\.xxx/"]
    assert cfg.filters.keep_unknown_lang is True
    assert cfg.curation.normalize_nfkc and cfg.curation.gopher_rules
    assert cfg.decontam.ngram == 8
    assert cfg.sharding.n_shards == 64 and cfg.sharding.out


def test_lang_filter_keeps_unknown_lang_by_default(spark):
    # review regression: WARC-sourced pages carry lang=NULL; a strict
    # isin() silently extracted nothing from a crawl segment.
    from gemini_ocr_batch_spark.config import FiltersConfig
    from gemini_ocr_batch_spark.job import apply_input_filters
    from gemini_ocr_batch_spark.schemas import PAGES_SCHEMA

    rows = [
        ("u1", dt.datetime(2024, 1, 15), b"x", None, "en"),
        ("u2", dt.datetime(2024, 1, 16), b"x", None, "fr"),
        ("u3", dt.datetime(2024, 1, 17), b"x", None, None),  # crawl-native
    ]
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    default = apply_input_filters(pages, FiltersConfig(langs=["en"]))
    assert {r["url"] for r in default.collect()} == {"u1", "u3"}
    strict = apply_input_filters(
        pages, FiltersConfig(langs=["en"], keep_unknown_lang=False)
    )
    assert {r["url"] for r in strict.collect()} == {"u1"}


def test_sharding_section_validation():
    from gemini_ocr_batch_spark.config import ConfigError, validate_config

    import pytest

    base = {"paths": {"pages": "p", "out": "o"}}
    cfg = validate_config({**base, "sharding": {"n_shards": 8, "out": "s"}})
    assert cfg.sharding.n_shards == 8 and cfg.sharding.out == "s"
    # null n_shards must fail at LOAD, not crash the shard stage later
    with pytest.raises(ConfigError, match="sharding.n_shards"):
        validate_config({**base, "sharding": {"n_shards": None, "out": "s"}})
    with pytest.raises(ConfigError, match="sharding.out"):
        validate_config({**base, "sharding": {"out": "  "}})
    # benchmark_text_col: validated string with a 'text' default
    assert validate_config(base).decontam.benchmark_text_col == "text"
    cfg2 = validate_config(
        {**base, "decontam": {"benchmark_text_col": "body"}}
    )
    assert cfg2.decontam.benchmark_text_col == "body"
    with pytest.raises(ConfigError, match="decontam.benchmark_text_col"):
        validate_config({**base, "decontam": {"benchmark_text_col": ""}})


# ---------------------------------------------------------------------------
# CLI precedence, without Spark: flag > config file > dataclass default
# ---------------------------------------------------------------------------

# flags every leg passes, so each verb has its input/output paths
_CLI_BASE = {
    "run": ["--pages", "/in/pages", "--out", "/in/out"],
    "curate": ["--extracted", "/in/out", "--out", "/in/cur"],
    "decontaminate": ["--extracted", "/in/out", "--benchmark", "/in/bench",
                      "--out", "/in/flags"],
    "status": ["--out", "/in/out"],
    "pipeline": [],
}

# (verb, flag or None, section, key, config value, flag value, getter over
# the captured calls)
_CLI_KNOBS = [
    ("run", "--max-retries", "execution", "max_retries", 5, 7,
     lambda c: c["extract"][6]),
    ("run", "--partitions", "execution", "partitions", 6, 9,
     lambda c: c["extract"][7]),
    ("run", "--master", "spark", "master", "local[2]", "local[3]",
     lambda c: c["spark"]["master"]),
    ("curate", "--min-quality", "curation", "min_quality_x10000", 1234, 4321,
     lambda c: c["curate"][1]["min_quality_x10000"]),
    ("curate", "--max-rep", "curation", "max_rep_x10000", 2345, 5432,
     lambda c: c["curate"][1]["max_rep_x10000"]),
    ("curate", "--master", "spark", "master", "local[2]", "local[3]",
     lambda c: c["spark"]["master"]),
    ("decontaminate", "--ngram", "decontam", "ngram", 5, 6,
     lambda c: c["decontam"][1]["n"]),
    ("decontaminate", "--min-overlap", "decontam", "min_overlap", 2, 3,
     lambda c: c["decontam"][1]["min_overlap"]),
    ("decontaminate", "--benchmark-text-col", "decontam",
     "benchmark_text_col", "question", "body",
     lambda c: c["decontam"][1]["bench_text_col"]),
    ("status", "--master", "spark", "master", "local[2]", "local[3]",
     lambda c: c["spark"]["master"]),
    ("pipeline", "--master", "spark", "master", "local[2]", "local[3]",
     lambda c: c["spark"]["master"]),
    ("pipeline", None, "execution", "max_retries", 5, None,
     lambda c: c["extract"][6]),
    ("pipeline", None, "curation", "min_quality_x10000", 1234, None,
     lambda c: c["curate"][1]["min_quality_x10000"]),
]


@pytest.fixture
def cli_calls(monkeypatch, tmp_path):
    """Run the CLI with Spark and every stage replaced by recorders; no
    .env and no $SPARK_GRAFT_CONFIG leak in from the environment."""
    import types

    from gemini_ocr_batch_spark import __main__ as cli
    from gemini_ocr_batch_spark import checkpoint, session
    from gemini_ocr_batch_spark.operators import decontam, webtext

    monkeypatch.chdir(tmp_path)
    monkeypatch.delenv(CONFIG_ENV_VAR, raising=False)
    calls: dict = {}

    def record(name, result):
        def fn(*args, **kwargs):
            calls[name] = (args, kwargs)
            return result
        return fn

    def extract(*args):
        calls["extract"] = args
        return types.SimpleNamespace(passes=1, extracted_rows=0,
                                     success_rows=0, failed_rows=0,
                                     wall_sec=0.0, docs_per_sec=0.0,
                                     phase_secs={})

    class Store:
        def __init__(self, path):
            calls["store"] = path

        def counts_by_status(self, spark):
            return types.SimpleNamespace(collect=lambda: [])

    def get_spark(**kwargs):
        calls["spark"] = kwargs
        return object()

    monkeypatch.setattr(session, "get_spark", get_spark)
    monkeypatch.setattr(cli, "_extract_stage", extract)
    monkeypatch.setattr(webtext, "run_curation_job", record("curate", {}))
    monkeypatch.setattr(decontam, "run_decontamination_job",
                        record("decontam", {}))
    monkeypatch.setattr(checkpoint, "ParquetCheckpointStore", Store)
    return calls


def _cli_config(tmp_path, verb, sections):
    import yaml

    raw = {"paths": {"pages": "/cfg/pages", "out": "/cfg/out"}}
    if verb == "pipeline":
        raw["curation"] = {"curated_out": "/cfg/cur"}
    for section, values in sections.items():
        raw.setdefault(section, {}).update(values)
    return _write(tmp_path, yaml.safe_dump(raw), name=f"{verb}.yaml")


@pytest.mark.parametrize("verb", list(_CLI_BASE))
def test_cli_precedence_flag_config_default(verb, cli_calls, tmp_path,
                                           capsys):
    from gemini_ocr_batch_spark import config as C
    from gemini_ocr_batch_spark.__main__ import main

    knobs = [k for k in _CLI_KNOBS if k[0] == verb]
    sections: dict = {}
    flags: list = []
    for _v, flag, section, key, cfg_val, flag_val, _get in knobs:
        sections.setdefault(section, {})[key] = cfg_val
        if flag is not None:
            flags += [flag, str(flag_val)]
    cfg_path = _cli_config(tmp_path, verb, sections)
    base = [verb] + _CLI_BASE[verb]
    classes = {"execution": C.ExecutionConfig, "spark": C.SparkConfig,
               "curation": C.CurationConfig, "decontam": C.DecontamConfig}

    # flag beats config
    assert main(base + ["--config", cfg_path] + flags) == 0
    for _v, flag, _s, key, cfg_val, flag_val, get in knobs:
        want = cfg_val if flag is None else flag_val
        assert get(cli_calls) == want, (key, "flag over config")

    # config beats default
    cli_calls.clear()
    assert main(base + ["--config", cfg_path]) == 0
    for _v, _f, _s, key, cfg_val, _fv, get in knobs:
        assert get(cli_calls) == cfg_val, (key, "config over default")

    # no flag, no config value: the config.py dataclass default
    cli_calls.clear()
    bare = (["--config", _cli_config(tmp_path, verb, {})]
            if verb == "pipeline" else [])
    assert main(base + bare) == 0
    for _v, _f, section, key, _cv, _fv, get in knobs:
        assert get(cli_calls) == getattr(classes[section], key), (
            key, "dataclass default")
    if verb == "status":
        assert cli_calls["store"] == os.path.join("/in/out", "checkpoint")
    if verb == "pipeline":
        # a half-configured decontam section is refused before any stage
        # or session starts
        cli_calls.clear()
        half = _cli_config(tmp_path, verb,
                           {"decontam": {"benchmark_path": "/in/bench"}})
        assert main(["pipeline", "--config", half]) == 2
        assert "decontam.flags_out required" in capsys.readouterr().err
        assert cli_calls == {}


def test_cli_given_flag_never_falls_through(cli_calls, tmp_path, capsys):
    """A given flag wins even when falsy: ``--out ""`` is a missing path,
    not a fall-through to paths.out, and ``--partitions 0`` reaches the
    job (where 0 means defaultParallelism) instead of the config value."""
    from gemini_ocr_batch_spark.__main__ import main

    cfg_path = _cli_config(tmp_path, "run", {"execution": {"partitions": 6}})
    assert main(["run", "--config", cfg_path, "--out", ""]) == 2
    assert "missing --out" in capsys.readouterr().err
    assert main(["run", "--config", cfg_path, "--partitions", "0"]) == 0
    assert cli_calls["extract"][7] == 0
