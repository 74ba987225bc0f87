"""URL/domain blocklist filter (r6): semantics + scale-shape plan pins."""

from __future__ import annotations

from gemini_ocr_batch_spark.operators.blocklist import (
    blocklist_filter,
    blocklist_flags,
)

PAGES = [
    ("https://ads.example.com/banner", "t0"),       # exact host block
    ("https://sub.ads.example.com/x", "t1"),        # subdomain of blocked
    ("https://deep.a.b.tracker.net/y", "t2"),       # deep subdomain
    ("https://example.com/fine", "t3"),             # parent of a blocked
    ("https://good.org/page", "t4"),                # survivor
    ("https://fun.org/casino/slots", "t5"),         # pattern block
    ("not a url at all", "t6"),                     # unparseable: kept
]
BLOCKED = ["ads.example.com", "tracker.net"]


def _pages(spark):
    return spark.createDataFrame(PAGES, "url string, text string")


def _bl(spark):
    return spark.createDataFrame([(d,) for d in BLOCKED], "domain string")


def test_blocklist_filter_domains_and_patterns(spark):
    kept = blocklist_filter(
        _pages(spark), _bl(spark), patterns=["/casino/"]
    )
    assert sorted(r["url"] for r in kept.collect()) == [
        "https://example.com/fine",
        "https://good.org/page",
        "not a url at all",
    ]
    # schema passes through unchanged (no helper columns leak)
    assert kept.columns == ["url", "text"]


def test_blocklist_filter_domains_only_and_patterns_only(spark):
    pages = _pages(spark)
    dom_only = blocklist_filter(pages, _bl(spark))
    assert len(dom_only.collect()) == 4  # t3, t4, t5, t6 survive
    pat_only = blocklist_filter(pages, patterns=["/casino/"])
    assert len(pat_only.collect()) == 6
    assert len(blocklist_filter(pages).collect()) == len(PAGES)


def test_blocklist_entry_normalization(spark):
    # blocklist entries are trimmed/lowercased/deduped; empty rows ignored
    bl = spark.createDataFrame(
        [(" ADS.Example.COM ",), ("ads.example.com",), ("",)],
        "domain string",
    )
    kept = blocklist_filter(_pages(spark), bl)
    urls = {r["url"] for r in kept.collect()}
    assert "https://ads.example.com/banner" not in urls
    assert "https://deep.a.b.tracker.net/y" in urls  # tracker.net not listed


def test_blocklist_flags_agree_with_filter(spark):
    pages, bl = _pages(spark), _bl(spark)
    flags = {
        r["url"]: r["blocked"]
        for r in blocklist_flags(pages, bl, patterns=["/casino/"]).collect()
    }
    survivors = {
        r["url"]
        for r in blocklist_filter(pages, bl, patterns=["/casino/"]).collect()
    }
    assert set(flags) == {u for u, _ in PAGES}
    for url, blocked in flags.items():
        assert blocked is (url not in survivors), url
    assert all(isinstance(b, bool) for b in flags.values())


def test_blocklist_filter_plan_broadcast_anti_no_page_shuffle(spark):
    """100 TB posture pin: every domain probe is a broadcast hash LEFT
    ANTI join; the pages side (which carries text) crosses NO shuffle
    exchange, and the one broadcast relation is reused across probes."""
    plan = (
        blocklist_filter(_pages(spark), _bl(spark), max_labels=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "LeftAnti" in plan
    # host equality + one probe per depth 1..4, all broadcast hash joins
    assert plan.count("BroadcastHashJoin") == 5
    # NEITHER side shuffles: pages stream through their scan splits, and
    # the blocklist side is a plain projection under each broadcast
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_apply_input_filters_blocklist_integration(spark, tmp_path):
    """filters.blocklist_path + filters.url_patterns drive the r6
    blocklist inside the job's input-filter stage."""
    from gemini_ocr_batch_spark.config import FiltersConfig
    from gemini_ocr_batch_spark.job import apply_input_filters

    bl_file = tmp_path / "blocked_domains.txt"
    bl_file.write_text("# crawl blocklist\nads.example.com\ntracker.net\n")
    pages = _pages(spark).withColumn("lang", __import__(
        "pyspark.sql.functions", fromlist=["lit"]).lit("en"))
    filters = FiltersConfig(
        blocklist_path=str(bl_file), url_patterns=["/casino/"]
    )
    kept = apply_input_filters(pages, filters)
    assert sorted(r["url"] for r in kept.collect()) == [
        "https://example.com/fine",
        "https://good.org/page",
        "not a url at all",
    ]
    # no filters -> passthrough
    assert apply_input_filters(pages, FiltersConfig()).count() == len(PAGES)


def test_config_parses_blocklist_fields(tmp_path):
    from gemini_ocr_batch_spark.config import (
        ConfigError,
        load_config,
    )

    good = tmp_path / "good.yaml"
    good.write_text(
        "paths:\n  pages: /p\n  out: /o\n"
        "filters:\n  blocklist_path: /bl/domains.txt\n"
        "  url_patterns: ['/casino/', '\\.xxx/']\n"
    )
    cfg = load_config(str(good))
    assert cfg.filters.blocklist_path == "/bl/domains.txt"
    assert cfg.filters.url_patterns == ["/casino/", "\\.xxx/"]

    bad = tmp_path / "bad.yaml"
    bad.write_text(
        "paths:\n  pages: /p\n  out: /o\n"
        "filters:\n  blocklist_path: ''\n  url_patterns: [3]\n"
    )
    try:
        load_config(str(bad))
        raise AssertionError("expected ConfigError")
    except ConfigError as exc:
        assert "filters.blocklist_path" in str(exc)
        assert "filters.url_patterns" in str(exc)


def test_blocklist_property_fuzz_vs_python_model(spark):
    """Property fuzz: over random host/blocklist/pattern combinations,
    the chained suffix anti-joins agree with the direct python definition
    (host == domain OR host endswith '.' + domain, or a pattern hits the
    raw url), and ``blocklist_flags`` flags exactly the rows the filter
    drops — NULL urls (dropped by any pattern, kept by a domain list) and
    empty ``patterns`` included."""
    import re

    from hypothesis import given, settings
    from hypothesis import strategies as st

    label = st.sampled_from(["a", "bb", "ads", "example", "com", "net"])
    host = st.lists(label, min_size=1, max_size=5).map(".".join)
    blocked = st.lists(
        st.lists(label, min_size=1, max_size=3).map(".".join),
        min_size=0, max_size=4, unique=True,
    )
    patterns = st.sampled_from([[], ["ads"], ["c1/", r"\.net\."]])

    cases: list[tuple[list[str], list[str], list[str]]] = []

    @settings(max_examples=60, deadline=None)
    @given(st.lists(host, min_size=1, max_size=6, unique=True), blocked,
           patterns)
    def collect(hosts, bl, pats):
        cases.append((hosts, bl, pats))

    collect()

    # one Spark job per case would take minutes; the semantics are
    # per-row, so every case gets its own host space — its case id as the
    # last host label, appended to its blocklist entries too, so no entry
    # can match across cases — and the cases run through one filter job
    # and one flags job per pattern set (plus one NULL url per set)
    rows, bl_rows, want_kept = {}, {}, set()
    for ci, (hosts, bl, pats) in enumerate(cases):
        key = tuple(pats)
        rows.setdefault(key, [None])
        bl_rows.setdefault(key, []).extend(f"{d}.c{ci}" for d in bl)
        for h in hosts:
            url = f"https://{h}.c{ci}/p"
            rows[key].append(url)
            hit = any(h == d or h.endswith("." + d) for d in bl)
            hit = hit or any(re.search(p, url) for p in pats)
            if not hit:
                want_kept.add((key, url))
    for key in rows:
        if not key:  # a NULL url never passes a pattern's ~rlike gate
            want_kept.add((key, None))
    got_kept, got_flags = set(), {}
    for key, urls in rows.items():
        pages = spark.createDataFrame([(u,) for u in urls], "url string")
        bl_df = spark.createDataFrame(
            [(d,) for d in bl_rows[key]] or [("zz.invalid",)],
            "domain string",
        )
        kept = blocklist_filter(pages, bl_df, patterns=list(key),
                                max_labels=6)
        got_kept |= {(key, r["url"]) for r in kept.collect()}
        flags = blocklist_flags(pages, bl_df, patterns=list(key),
                                max_labels=6)
        got_flags.update(
            {(key, r["url"]): r["blocked"] for r in flags.collect()})
    assert got_kept == want_kept
    assert got_flags == {(key, u): (key, u) not in want_kept
                         for key, urls in rows.items() for u in urls}
    assert any(not b for b in got_flags.values())
    assert any(got_flags.values())


def test_blocklist_filter_works_on_streams(spark, tmp_path):
    """The blocklist is stateless + broadcast-joined, so it must compose
    into Structured Streaming unchanged (stream-static join)."""
    src = str(tmp_path / "in")
    spark.createDataFrame(PAGES, "url string, text string").write.parquet(
        src
    )
    stream = spark.readStream.schema("url string, text string").parquet(src)
    filtered = blocklist_filter(
        stream, _bl(spark), patterns=["/casino/"]
    )
    assert filtered.isStreaming
    q = (
        filtered.writeStream.format("memory")
        .queryName("bl_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        r["url"] for r in spark.sql("SELECT url FROM bl_stream").collect()
    )
    assert got == [
        "https://example.com/fine",
        "https://good.org/page",
        "not a url at all",
    ]


def test_config_rejects_uncompilable_url_pattern(tmp_path):
    """A bad regex must fail at config load (dotted-path error), not as
    a PatternSyntaxException mid-job (r6 review find)."""
    from gemini_ocr_batch_spark.config import ConfigError, load_config

    bad = tmp_path / "bad.yaml"
    bad.write_text(
        "paths:\n  pages: /p\n  out: /o\n"
        "filters:\n  url_patterns: ['/ok/', '/casino/(']\n"
    )
    try:
        load_config(str(bad))
        raise AssertionError("expected ConfigError")
    except ConfigError as exc:
        assert "filters.url_patterns[1]" in str(exc)
        assert "invalid regex" in str(exc)
