"""Validated YAML + .env configuration source (SURVEY §2 S9).

The analog of the reference's typed config stack (reference:
src/config.py:103-159 — YAML → pydantic AppConfig with dotted-path error
messages; src/env.py:24-54 — .env overlay with setdefault semantics;
resolve order CLI > env var > default). No pydantic is available, so
validation is explicit: every error carries its dotted path and ALL errors
are reported in one raise, exactly the reference's UX.

Precedence — the one rule every config-reading CLI verb (run, curate,
decontaminate, status, pipeline) applies to every setting:

    CLI flag (when given)
      > the config file named by --config, else by $SPARK_GRAFT_CONFIG
      > the dataclass default below

``.env`` in the working directory is loaded first with setdefault
semantics, so a variable already in the environment beats ``.env``
(``$SPARK_GRAFT_CONFIG`` itself may come from ``.env``). The
dataclass field is the single home of each default: ``validate_config``
reads it for omitted keys, and the CLI reads it when no file is named.

Sections (the Spark job's knobs, not the remote-LLM ones):

    paths:
      pages: /data/pages            # required — input pages table URI
      out:   /data/out              # required — job output root
    filters:                        # optional input pre-filters (P1/P2)
      langs: [en, de]               # membership filter on `lang`
      crawl_window:                 # range filter on `warc_ts`
        start: 2024-01-01
        end:   2024-06-30           # must be >= start
    execution:
      max_retries: 3                # >= 1
      partitions: null              # null = defaultParallelism
      track_inflight: false
    checkpoint:
      backend: parquet              # parquet | iceberg
      n_buckets: 16                 # >= 1 (parquet manifest buckets)
      iceberg_table: null           # required iff backend == iceberg
    spark:
      master: null                  # null = inherit
      shuffle_partitions: null
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field


class ConfigError(RuntimeError):
    """Actionable configuration failure (message lists every problem)."""


# ---------------------------------------------------------------------------
# typed config tree
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class PathsConfig:
    pages: str
    out: str


@dataclass(frozen=True)
class CrawlWindow:
    start: dt.date
    end: dt.date


@dataclass(frozen=True)
class FiltersConfig:
    langs: list[str] | None = None
    # Unknown (NULL) language passes the membership filter by default:
    # crawl-native sources (WARC) carry no language tag, so a strict isin
    # would silently drop every page. Set false for strict filtering on
    # inputs whose lang column is populated.
    keep_unknown_lang: bool = True
    crawl_window: CrawlWindow | None = None
    # URL/domain blocklist (r6): path to a domains file (one registrable
    # domain per line, '#' comments) + literal url regex rules
    blocklist_path: str | None = None
    url_patterns: list[str] | None = None
    # retroactive robots.txt politeness (r6): parquet table of
    # (domain, robots_txt) captures
    robots_path: str | None = None


@dataclass(frozen=True)
class ExecutionConfig:
    max_retries: int = 3
    partitions: int | None = None
    track_inflight: bool = False


@dataclass(frozen=True)
class CheckpointConfig:
    backend: str = "parquet"
    n_buckets: int = 16
    iceberg_table: str | None = None


@dataclass(frozen=True)
class SparkConfig:
    master: str | None = None
    shuffle_partitions: int | None = None


@dataclass(frozen=True)
class CurationConfig:
    # fixed-point x10000 thresholds — webtext.curation_flags defaults
    min_quality_x10000: int = 3000
    max_rep_x10000: int = 5000
    curated_out: str | None = None
    # NFKC-normalize text ahead of fingerprinting (kernels/normalize.py)
    normalize_nfkc: bool = False
    # gate keep on the Gopher quality rules (published thresholds)
    gopher_rules: bool = False


@dataclass(frozen=True)
class ShardingConfig:
    # the `pipeline` verb's final stage (operators/sampling
    # write_training_shards); out=None skips the stage
    n_shards: int = 16
    out: str | None = None
    key_col: str = "url"
    # '' disables per-shard token counting; 'text' auto-falls back to
    # extracted_text on run/curate output (same rule as the shard verb)
    text_col: str = "text"


@dataclass(frozen=True)
class DecontamConfig:
    # webtext-scale eval-leakage sweep — operators/decontam defaults
    ngram: int = 8
    min_overlap: int = 1
    benchmark_path: str | None = None
    # text column inside the benchmark parquet (eval dumps vary)
    benchmark_text_col: str = "text"
    flags_out: str | None = None


@dataclass(frozen=True)
class AppConfig:
    paths: PathsConfig
    filters: FiltersConfig = field(default_factory=FiltersConfig)
    execution: ExecutionConfig = field(default_factory=ExecutionConfig)
    checkpoint: CheckpointConfig = field(default_factory=CheckpointConfig)
    spark: SparkConfig = field(default_factory=SparkConfig)
    curation: CurationConfig = field(default_factory=CurationConfig)
    decontam: DecontamConfig = field(default_factory=DecontamConfig)
    sharding: ShardingConfig = field(default_factory=ShardingConfig)


# ---------------------------------------------------------------------------
# validation plumbing: collect every error with its dotted path, then raise
# once (reference: src/config.py:120-137 formats all pydantic errors)
# ---------------------------------------------------------------------------


class _Ctx:
    def __init__(self) -> None:
        self.errors: list[str] = []

    def err(self, path: str, msg: str) -> None:
        self.errors.append(f"{path}: {msg}")


def _section(raw: dict, name: str, ctx: _Ctx) -> dict:
    v = raw.get(name)
    if v is None:
        return {}
    if not isinstance(v, dict):
        ctx.err(name, f"expected mapping, got {type(v).__name__}")
        return {}
    return v


def _req_str(sec: dict, section: str, key: str, ctx: _Ctx) -> str:
    v = sec.get(key)
    if v is None:
        ctx.err(f"{section}.{key}", "field required")
        return ""
    if not isinstance(v, str) or not v.strip():
        ctx.err(f"{section}.{key}", "must be a non-empty string")
        return ""
    return v


def _opt_int(sec: dict, section: str, key: str, default, ctx: _Ctx,
             ge: int | None = None):
    v = sec.get(key, default)
    if v is None:
        return None
    if isinstance(v, bool) or not isinstance(v, int):
        ctx.err(f"{section}.{key}", f"must be an integer, got {v!r}")
        return default
    if ge is not None and v < ge:
        ctx.err(f"{section}.{key}", f"must be >= {ge}, got {v}")
        return default
    return v


def _opt_bool(sec: dict, section: str, key: str, default: bool,
              ctx: _Ctx) -> bool:
    v = sec.get(key, default)
    if not isinstance(v, bool):
        ctx.err(f"{section}.{key}", f"must be a boolean, got {v!r}")
        return default
    return v


def _opt_date(sec: dict, section: str, key: str, ctx: _Ctx) -> dt.date | None:
    v = sec.get(key)
    if v is None:
        ctx.err(f"{section}.{key}", "field required")
        return None
    if isinstance(v, dt.datetime):
        return v.date()
    if isinstance(v, dt.date):
        return v
    if isinstance(v, str):
        try:
            return dt.date.fromisoformat(v)
        except ValueError:
            pass
    ctx.err(f"{section}.{key}", f"must be an ISO date (YYYY-MM-DD), got {v!r}")
    return None


def validate_config(raw: dict, source: str = "<in-memory>") -> AppConfig:
    """Mapping → AppConfig, or ConfigError listing EVERY problem."""
    if not isinstance(raw, dict):
        raise ConfigError(
            f"Invalid config root in {source}: expected mapping, "
            f"got {type(raw).__name__}"
        )
    ctx = _Ctx()

    paths_sec = raw.get("paths")
    if paths_sec is None:
        ctx.err("paths", "section required")
        paths = PathsConfig(pages="", out="")
    elif not isinstance(paths_sec, dict):
        ctx.err("paths", f"expected mapping, got {type(paths_sec).__name__}")
        paths = PathsConfig(pages="", out="")
    else:
        paths = PathsConfig(
            pages=_req_str(paths_sec, "paths", "pages", ctx),
            out=_req_str(paths_sec, "paths", "out", ctx),
        )

    f_sec = _section(raw, "filters", ctx)
    langs = f_sec.get("langs")
    if langs is not None and (
        not isinstance(langs, list)
        or not all(isinstance(x, str) and x for x in langs)
    ):
        ctx.err("filters.langs", "must be a list of non-empty strings")
        langs = None
    window = None
    if "crawl_window" in f_sec and f_sec["crawl_window"] is not None:
        w_sec = f_sec["crawl_window"]
        if not isinstance(w_sec, dict):
            ctx.err("filters.crawl_window",
                    f"expected mapping, got {type(w_sec).__name__}")
        else:
            start = _opt_date(w_sec, "filters.crawl_window", "start", ctx)
            end = _opt_date(w_sec, "filters.crawl_window", "end", ctx)
            if start is not None and end is not None:
                if end < start:
                    # the reference's target_years.end >= start rule
                    # (reference: src/config.py:28-34)
                    ctx.err(
                        "filters.crawl_window.end",
                        f"must be >= filters.crawl_window.start "
                        f"({end.isoformat()} < {start.isoformat()})",
                    )
                else:
                    window = CrawlWindow(start=start, end=end)
    blocklist_path = f_sec.get("blocklist_path")
    if blocklist_path is not None and (
        not isinstance(blocklist_path, str) or not blocklist_path.strip()
    ):
        ctx.err("filters.blocklist_path", "must be a non-empty string")
        blocklist_path = None
    robots_path = f_sec.get("robots_path")
    if robots_path is not None and (
        not isinstance(robots_path, str) or not robots_path.strip()
    ):
        ctx.err("filters.robots_path", "must be a non-empty string")
        robots_path = None
    url_patterns = f_sec.get("url_patterns")
    if url_patterns is not None and (
        not isinstance(url_patterns, list)
        or not all(isinstance(x, str) and x for x in url_patterns)
    ):
        ctx.err("filters.url_patterns",
                "must be a list of non-empty regex strings")
        url_patterns = None
    elif url_patterns is not None:
        # fail at load, not mid-job inside the scan filter: a pattern
        # that does not compile would otherwise surface as a Java
        # PatternSyntaxException on the first action (python `re` is the
        # validator — the supported subset is the Java/RE2-portable one,
        # which python also accepts)
        import re as _re

        for i, pat in enumerate(url_patterns):
            try:
                _re.compile(pat)
            except _re.error as exc:
                ctx.err(f"filters.url_patterns[{i}]",
                        f"invalid regex {pat!r}: {exc}")
                url_patterns = None
    filters = FiltersConfig(langs=langs,
                            keep_unknown_lang=_opt_bool(
                                f_sec, "filters", "keep_unknown_lang",
                                FiltersConfig.keep_unknown_lang, ctx),
                            crawl_window=window,
                            blocklist_path=blocklist_path,
                            url_patterns=url_patterns,
                            robots_path=robots_path)

    e_sec = _section(raw, "execution", ctx)
    execution = ExecutionConfig(
        max_retries=_opt_int(e_sec, "execution", "max_retries",
                            ExecutionConfig.max_retries, ctx, ge=1),
        partitions=_opt_int(e_sec, "execution", "partitions",
                           ExecutionConfig.partitions, ctx, ge=1),
        track_inflight=_opt_bool(e_sec, "execution", "track_inflight",
                                 ExecutionConfig.track_inflight, ctx),
    )

    c_sec = _section(raw, "checkpoint", ctx)
    backend = c_sec.get("backend", CheckpointConfig.backend)
    if backend not in ("parquet", "iceberg"):
        ctx.err("checkpoint.backend",
                f"must be one of parquet|iceberg, got {backend!r}")
        backend = CheckpointConfig.backend
    iceberg_table = c_sec.get("iceberg_table")
    if backend == "iceberg" and not iceberg_table:
        ctx.err("checkpoint.iceberg_table",
                "field required when checkpoint.backend is iceberg")
    checkpoint = CheckpointConfig(
        backend=backend,
        n_buckets=_opt_int(c_sec, "checkpoint", "n_buckets",
                          CheckpointConfig.n_buckets, ctx, ge=1),
        iceberg_table=iceberg_table,
    )

    s_sec = _section(raw, "spark", ctx)
    master = s_sec.get("master")
    if master is not None and not isinstance(master, str):
        ctx.err("spark.master", f"must be a string, got {master!r}")
        master = None
    spark = SparkConfig(
        master=master,
        shuffle_partitions=_opt_int(s_sec, "spark", "shuffle_partitions",
                                    SparkConfig.shuffle_partitions, ctx,
                                    ge=1),
    )

    cur_sec = _section(raw, "curation", ctx)
    curated_out = cur_sec.get("curated_out")
    if curated_out is not None and (
        not isinstance(curated_out, str) or not curated_out.strip()
    ):
        ctx.err("curation.curated_out", "must be a non-empty string")
        curated_out = None
    curation = CurationConfig(
        min_quality_x10000=_opt_int(
            cur_sec, "curation", "min_quality_x10000",
            CurationConfig.min_quality_x10000, ctx, ge=0
        ),
        max_rep_x10000=_opt_int(
            cur_sec, "curation", "max_rep_x10000",
            CurationConfig.max_rep_x10000, ctx, ge=0
        ),
        curated_out=curated_out,
        normalize_nfkc=_opt_bool(
            cur_sec, "curation", "normalize_nfkc",
            CurationConfig.normalize_nfkc, ctx
        ),
        gopher_rules=_opt_bool(
            cur_sec, "curation", "gopher_rules",
            CurationConfig.gopher_rules, ctx
        ),
    )

    dec_sec = _section(raw, "decontam", ctx)
    dec_strs: dict[str, str | None] = {}
    for key in ("benchmark_path", "flags_out"):
        val = dec_sec.get(key)
        if val is not None and (
            not isinstance(val, str) or not val.strip()
        ):
            ctx.err(f"decontam.{key}", "must be a non-empty string")
            val = None
        dec_strs[key] = val
    bench_text_col = dec_sec.get("benchmark_text_col",
                                 DecontamConfig.benchmark_text_col)
    if not isinstance(bench_text_col, str) or not bench_text_col:
        ctx.err("decontam.benchmark_text_col", "must be a non-empty string")
        bench_text_col = DecontamConfig.benchmark_text_col
    decontam = DecontamConfig(
        ngram=_opt_int(dec_sec, "decontam", "ngram",
                       DecontamConfig.ngram, ctx, ge=2),
        min_overlap=_opt_int(dec_sec, "decontam", "min_overlap",
                             DecontamConfig.min_overlap, ctx, ge=1),
        benchmark_path=dec_strs["benchmark_path"],
        benchmark_text_col=bench_text_col,
        flags_out=dec_strs["flags_out"],
    )

    sh_sec = _section(raw, "sharding", ctx)
    shard_out = sh_sec.get("out")
    if shard_out is not None and (
        not isinstance(shard_out, str) or not shard_out.strip()
    ):
        ctx.err("sharding.out", "must be a non-empty string")
        shard_out = None
    shard_key = sh_sec.get("key_col", ShardingConfig.key_col)
    if not isinstance(shard_key, str) or not shard_key:
        ctx.err("sharding.key_col", "must be a non-empty string")
        shard_key = ShardingConfig.key_col
    shard_text = sh_sec.get("text_col", ShardingConfig.text_col)
    if not isinstance(shard_text, str):  # '' is valid: skips token stats
        ctx.err("sharding.text_col", "must be a string ('' to skip tokens)")
        shard_text = ShardingConfig.text_col
    n_shards = _opt_int(sh_sec, "sharding", "n_shards",
                        ShardingConfig.n_shards, ctx, ge=1)
    if n_shards is None:
        # unlike execution.partitions, null has no meaning here — reject
        # at load instead of crashing the shard stage after the
        # expensive extract/curate stages have already run
        ctx.err("sharding.n_shards",
                "null not allowed (omit the key for the default)")
        n_shards = ShardingConfig.n_shards
    sharding = ShardingConfig(
        n_shards=n_shards,
        out=shard_out,
        key_col=shard_key,
        text_col=shard_text,
    )

    if ctx.errors:
        raise ConfigError(
            f"Config validation failed for {source}:\n"
            + "\n".join(ctx.errors)
        )
    return AppConfig(paths=paths, filters=filters, execution=execution,
                     checkpoint=checkpoint, spark=spark, curation=curation,
                     decontam=decontam, sharding=sharding)


def load_config(path: str) -> AppConfig:
    """YAML file → AppConfig (reference: src/config.py:103-117 error UX)."""
    import yaml

    try:
        with open(path, encoding="utf-8") as f:
            raw = yaml.safe_load(f)
    except FileNotFoundError as exc:
        raise ConfigError(f"Config file not found: {path}") from exc
    except yaml.YAMLError as exc:
        raise ConfigError(f"Invalid YAML in {path}: {exc}") from exc
    if raw is None:
        raw = {}
    return validate_config(raw, source=path)


# ---------------------------------------------------------------------------
# .env overlay + path resolution (reference: src/env.py:24-41,
# src/config.py:161-170 — CLI > env var > default; setdefault semantics)
# ---------------------------------------------------------------------------

CONFIG_ENV_VAR = "SPARK_GRAFT_CONFIG"


def load_dotenv(dotenv_path: str) -> None:
    """Read KEY=VALUE lines into the environment WITHOUT overriding
    variables already set (reference: src/env.py:24-41)."""
    if not os.path.exists(dotenv_path):
        return
    with open(dotenv_path, encoding="utf-8") as f:
        for raw_line in f:
            line = raw_line.strip()
            if not line or line.startswith("#") or "=" not in line:
                continue
            key, value = line.split("=", 1)
            key = key.strip()
            if key:
                os.environ.setdefault(
                    key, value.strip().strip("'").strip('"')
                )


def resolve_config_path(cli_path: str | None) -> str | None:
    """CLI flag beats $SPARK_GRAFT_CONFIG beats nothing."""
    if cli_path:
        return cli_path
    return os.getenv(CONFIG_ENV_VAR) or None
