"""r5 training-data-pipeline operators: benchmark decontamination,
stratified mixing, winnow-overlap containment, corpus token stats."""

from __future__ import annotations

import pytest

from gemini_ocr_batch_spark.operators.decontam import decontaminate
from gemini_ocr_batch_spark.operators.dedup import winnow_overlap_pairs
from gemini_ocr_batch_spark.operators.sampling import (
    hash_sample,
    stratified_sample,
)
from gemini_ocr_batch_spark.operators.textstats import corpus_token_stats


def test_decontaminate_flags_members_and_gram_sharers(spark):
    bench_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, bench_text),                       # exact benchmark member
        # shares exactly the first 8-gram (tokens 1-8), then diverges
        (2, "alpha beta gamma delta epsilon zeta eta theta xyzzy plugh"),
        (3, "totally unrelated words about spark catalyst and parquet io"),
        (4, "short doc"),                      # < n tokens: zero grams
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame([(bench_text,)], "text string")
    got = {r["doc_id"]: r for r in decontaminate(docs, bench, n=8).collect()}
    assert got[1]["contaminated"] and got[1]["n_overlap_grams"] == 3
    assert got[2]["contaminated"] and got[2]["n_overlap_grams"] == 1
    assert not got[3]["contaminated"] and got[3]["n_overlap_grams"] == 0
    assert not got[4]["contaminated"] and got[4]["n_overlap_grams"] == 0


def test_decontaminate_broadcasts_benchmark(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i")], "doc_id long, text string"
    )
    bench = spark.createDataFrame([("a b c d e f g h",)], "text string")
    plan = decontaminate(docs, bench)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_stratified_sample_rates_and_determinism(spark):
    rows = [(i, ["en", "de", "fr", "zh"][i % 4]) for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    rates = {"en": 0.5, "de": 1.0, "fr": 0.0}
    out = stratified_sample(df, "doc_id", "lang", rates).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], set()).add(r["doc_id"])
    assert len(by_lang.get("de", set())) == 500          # rate 1.0: all
    assert "fr" not in by_lang                           # rate 0.0
    assert "zh" not in by_lang                           # default_rate 0.0
    assert 150 < len(by_lang.get("en", set())) < 350     # ~0.5 of 500
    # content-stable: same rows on a rerun and under a different layout
    out2 = stratified_sample(
        df.repartition(7), "doc_id", "lang", rates
    ).collect()
    assert {(r["doc_id"]) for r in out2} == {r["doc_id"] for r in out}
    # per-group membership == plain hash_sample at that group's rate
    en_only = df.filter("lang = 'en'")
    expect_en = {
        r["doc_id"]
        for r in hash_sample(en_only, "doc_id", 0.5, salt="strat").collect()
    }
    assert by_lang["en"] == expect_en


def test_stratified_sample_validates_rates(spark):
    df = spark.createDataFrame([(1, "en")], "doc_id long, lang string")
    with pytest.raises(ValueError):
        stratified_sample(df, "doc_id", "lang", {"en": 1.5})
    with pytest.raises(ValueError):
        stratified_sample(df, "doc_id", "lang", {}, default_rate=-0.1)


def test_winnow_overlap_catches_containment(spark):
    # B contains A's text verbatim inside a much longer page: whole-doc
    # Jaccard is tiny, but the shared region >> w+k-1 chars guarantees
    # shared winnowing fingerprints.
    core = "the quick brown fox jumps over the lazy dog again and again"
    filler = " ".join(f"filler{i} word{i} padding{i}" for i in range(40))
    rows = [
        (1, core),
        (2, filler + " " + core + " " + filler),
        (3, "completely disjoint vocabulary zone xylophone quartz vex"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["doc_a"], r["doc_b"]): r["n_common_fp"]
        for r in winnow_overlap_pairs(docs, min_common=2).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    assert all(3 not in p for p in pairs)


def test_winnow_overlap_max_df_drops_boilerplate(spark):
    # a sentence present in EVERY doc is a stop-fingerprint under
    # max_df; pairs must then come only from genuinely shared content
    boiler = "all rights reserved subscribe to the newsletter today friends"
    tails = [
        "zebra quilt vortex",
        "mango drift copper",
        "llama sprocket jade",
        "quartz ember violet",
        "raven tundra onyx",
        "fjord saffron maple",
    ]
    rows = [(i, f"{boiler} {tails[i]}") for i in range(6)]
    rows.append((100, f"{boiler} {tails[0]}"))  # real dup of doc 0
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # without the cap: the boilerplate's fingerprints connect everything
    uncapped = winnow_overlap_pairs(docs, min_common=1).count()
    capped = winnow_overlap_pairs(docs, min_common=1, max_df=2).collect()
    assert uncapped > len(capped)
    assert {(r["doc_a"], r["doc_b"]) for r in capped} == {(0, 100)}


def test_corpus_token_stats_hand_computed(spark):
    rows = [
        (1, "a b c", "en"),          # 3 tokens
        (2, "a b c d e", "en"),      # 5
        (3, "a b c d e f g", "en"),  # 7
        (4, "x y", "de"),            # 2
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {r["lang"]: r for r in corpus_token_stats(df, "lang").collect()}
    en = got["en"]
    assert en["n_docs"] == 3 and en["total_tokens"] == 15
    assert en["mean_tokens_x100"] == 500
    assert en["p50_x100"] == 500          # median of 3,5,7
    assert en["p90_x100"] == 660          # 5 + 0.8*(7-5) = 6.6
    de = got["de"]
    assert de["n_docs"] == 1 and de["p50_x100"] == 200
    # approx path runs and agrees on exact-friendly tiny input
    approx = {
        r["lang"]: r
        for r in corpus_token_stats(df, "lang", exact=False).collect()
    }
    assert approx["de"]["total_tokens"] == 2


def test_decontamination_job_end_to_end(spark, tmp_path):
    """pages → extraction run → decontamination sweep against a benchmark
    parquet: exact benchmark members are flagged, unrelated pages are
    clean, and the flags table keys by url."""
    import datetime as dt

    from gemini_ocr_batch_spark.job import run_extraction_job
    from gemini_ocr_batch_spark.operators.decontam import (
        run_decontamination_job,
    )
    from gemini_ocr_batch_spark.schemas import PAGES_SCHEMA

    ts = dt.datetime(2024, 1, 1)
    leaked = ("alpha beta gamma delta epsilon zeta eta theta "
              "iota kappa lambda mu")
    clean = ("a completely different page about rivers and mountains "
             "with many unique words in it today")
    rows = [
        ("https://leak.example/0", ts,
         f"<html><body><p>{leaked}</p></body></html>".encode(), None, "en"),
        ("https://clean.example/0", ts,
         f"<html><body><p>{clean}</p></body></html>".encode(), None, "en"),
    ]
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    out = str(tmp_path / "run_out")
    run_extraction_job(spark, pages, out, max_retries=1)

    bench_path = str(tmp_path / "bench.parquet")
    spark.createDataFrame([(leaked,)], "text string").write.parquet(bench_path)

    stats = run_decontamination_job(
        spark, out, bench_path, str(tmp_path / "dec")
    )
    assert stats["input_rows"] == 2
    assert stats["contaminated"] == 1 and stats["clean"] == 1
    flags = {
        r["url"]: r["contaminated"]
        for r in spark.read.parquet(stats["flags_path"]).collect()
    }
    assert flags["https://leak.example/0"] is True
    assert flags["https://clean.example/0"] is False
