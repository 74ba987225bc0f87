"""N-gram LM quality scoring (operators/lm.py) — the CCNet signal."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from gemini_ocr_batch_spark.operators.lm import (
    ngram_logprob,
    perplexity_filter,
    train_ngram_lm,
)


@pytest.fixture(scope="module")
def corpus(spark):
    # repeated natural-ish sentences + one gibberish doc whose words and
    # bigrams appear nowhere else
    rows = []
    for i in range(40):
        rows.append((i, "the cat sat on the mat"))
    for i in range(40, 60):
        rows.append((i, "the dog sat on the rug"))
    rows.append((60, "zxq wvv qqj pzf klm xoxo"))
    rows.append((61, "solo"))  # one token: no bigrams, unscorable
    rows.append((62, None))  # null text: no tokens at all
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_train_counts_min_count_and_topk(spark, corpus):
    uni, big = train_ngram_lm(corpus, min_count=2)
    u = {r["w"]: r["c"] for r in uni.collect()}
    # 'the' appears twice per sentence in both templates
    assert u["the"] == 2 * 60
    assert u["cat"] == 40 and u["dog"] == 20
    assert "zxq" not in u  # min_count prunes the singleton gibberish
    b = {r["g"]: r["c"] for r in big.collect()}
    assert b["the cat"] == 40 and b["sat on"] == 60
    assert "zxq wvv" not in b
    # top_k keeps the most frequent with (count desc, gram asc) ties
    uni2, _ = train_ngram_lm(corpus, min_count=2, top_k=3)
    kept = sorted(r["w"] for r in uni2.collect())
    assert len(kept) == 3 and "the" in kept


def test_logprob_matches_python_model(spark, corpus):
    uni, big = train_ngram_lm(corpus, min_count=2)
    u = {r["w"]: r["c"] for r in uni.collect()}
    b = {r["g"]: r["c"] for r in big.collect()}
    v = len(u)
    got = {r["doc_id"]: r for r in
           ngram_logprob(corpus, uni, big).collect()}

    def score(text):
        toks = text.strip().lower().split()
        lps = []
        for w1, w2 in zip(toks, toks[1:]):
            p = (b.get(f"{w1} {w2}", 0) + 1) / (u.get(w1, 0) + v)
            lps.append(math.floor(math.log(p) * 10000 + 0.5))
        return len(lps), sum(lps), int(sum(lps) / len(lps))  # div truncates

    for doc_id, text in [(0, "the cat sat on the mat"),
                         (60, "zxq wvv qqj pzf klm xoxo")]:
        n, s, avg = score(text)
        r = got[doc_id]
        assert (r["n_grams"], r["sum_lp_x10000"]) == (n, s), doc_id
        # python // floors; spark div truncates — compare via int()
        assert r["avg_lp_x10000"] == int(s / n) if s >= 0 else True
        assert r["avg_lp_x10000"] == avg
    # natural text scores far above gibberish
    assert got[0]["avg_lp_x10000"] > got[60]["avg_lp_x10000"]
    # unscorable docs: present, zero grams, NULL scores
    assert got[61]["n_grams"] == 0 and got[61]["avg_lp_x10000"] is None
    assert got[62]["n_grams"] == 0 and got[62]["sum_lp_x10000"] is None


def test_perplexity_filter_drops_gibberish_keeps_unscorable(spark, corpus):
    uni, big = train_ngram_lm(corpus, min_count=2)
    scores = {r["doc_id"]: r["avg_lp_x10000"]
              for r in ngram_logprob(corpus, uni, big).collect()}
    floor = scores[60] + 1  # just above the gibberish doc
    kept = {r["doc_id"] for r in
            perplexity_filter(corpus, uni, big, floor).collect()}
    assert 60 not in kept
    assert 0 in kept and 40 in kept
    assert 61 in kept and 62 in kept  # unscorable stays


def test_persisted_model_job_roundtrip(spark, tmp_path, corpus):
    from gemini_ocr_batch_spark.operators.lm import (
        lm_read_model,
        run_lm_score_job,
        run_lm_train_job,
    )

    corpus_path = str(tmp_path / "corpus")
    corpus.write.parquet(corpus_path)
    model_dir = str(tmp_path / "model")
    meta = run_lm_train_job(spark, corpus_path, model_dir, min_count=2)
    uni, big, meta2 = lm_read_model(spark, model_dir)
    assert meta == meta2
    assert meta["vocab_size"] == uni.count()
    assert meta["n_bigrams"] == big.count()

    # scores from the persisted model == scores from the live tables
    # (vocab_size comes from the sidecar, not a re-count)
    live_uni, live_big = train_ngram_lm(corpus, min_count=2)
    live = {r["doc_id"]: r["avg_lp_x10000"]
            for r in ngram_logprob(corpus, live_uni, live_big).collect()}
    res = run_lm_score_job(spark, corpus_path, model_dir,
                           out_path=str(tmp_path / "scores"))
    assert res["rows"] == corpus.count()
    got = {r["doc_id"]: r["avg_lp_x10000"]
           for r in spark.read.parquet(str(tmp_path / "scores")).collect()}
    assert got == live

    # floor mode writes the filtered corpus (gibberish doc 60 dropped)
    res2 = run_lm_score_job(spark, corpus_path, model_dir,
                            out_path=str(tmp_path / "kept"),
                            min_avg_lp_x10000=live[60] + 1)
    kept = {r["doc_id"] for r in
            spark.read.parquet(str(tmp_path / "kept")).collect()}
    assert res2["filtered"] and res2["rows"] == len(kept)
    assert 60 not in kept and 0 in kept and 61 in kept


def test_lm_cli_verbs(spark, tmp_path, corpus):
    from gemini_ocr_batch_spark.__main__ import main

    corpus_path = str(tmp_path / "corpus")
    corpus.write.parquet(corpus_path)
    model_dir = str(tmp_path / "model")
    assert main(["lm-train", "--corpus", corpus_path,
                 "--out", model_dir, "--min-count", "2"]) == 0
    assert main(["lm-score", "--corpus", corpus_path,
                 "--model", model_dir,
                 "--out", str(tmp_path / "scores")]) == 0
    scores = spark.read.parquet(str(tmp_path / "scores"))
    assert scores.count() == corpus.count()
    assert set(scores.columns) == {
        "doc_id", "n_grams", "sum_lp_x10000", "avg_lp_x10000"
    }


def test_bucket_cuts_and_assignment(spark, corpus):
    from gemini_ocr_batch_spark.operators.lm import (
        perplexity_buckets,
        score_cut_points,
    )

    uni, big = train_ngram_lm(corpus, min_count=2)
    scores = ngram_logprob(corpus, uni, big)
    c1, c2 = sorted(score_cut_points(scores, (1 / 3, 2 / 3)))
    assert c1 <= c2  # cuts come back in distribution order
    out = {r["doc_id"]: r["lm_bucket"]
           for r in perplexity_buckets(scores, c2, c1).collect()}
    assert out[60] == "tail"  # gibberish = least model-like
    assert out[61] == "unscored" and out[62] == "unscored"
    vals = {r["doc_id"]: r["avg_lp_x10000"] for r in scores.collect()}
    for i, b in out.items():
        if b == "head":
            assert vals[i] >= c2
        elif b == "middle":
            assert c1 <= vals[i] < c2
        elif b == "tail":
            assert vals[i] < c1
    with pytest.raises(ValueError):
        perplexity_buckets(scores, c1 - 1, c1)  # head below middle


def test_lm_score_cli_cuts(spark, tmp_path, corpus, capsys):
    import json

    from gemini_ocr_batch_spark.__main__ import main

    corpus_path = str(tmp_path / "corpus")
    corpus.write.parquet(corpus_path)
    model_dir = str(tmp_path / "model")
    assert main(["lm-train", "--corpus", corpus_path,
                 "--out", model_dir, "--min-count", "2"]) == 0
    uni, big = train_ngram_lm(corpus, min_count=2)
    vals = {r["doc_id"]: r["avg_lp_x10000"]
            for r in ngram_logprob(corpus, uni, big).collect()}
    head = vals[0]  # template docs land in head
    middle = vals[60]  # gibberish lands in middle at exactly its score
    import pytest as _pytest

    # malformed cuts (one value, non-integers) → usage error, not a
    # traceback
    for bad in (f"{head}", "a,b"):
        assert main(["lm-score", "--corpus", corpus_path, "--model",
                     model_dir, f"--cuts={bad}"]) == 2
        assert "--cuts must be HEAD_MIN,MIDDLE_MIN" in capsys.readouterr().err
    assert main(["lm-score", "--corpus", corpus_path, "--model", model_dir,
                 f"--cuts={head},{middle}",
                 "--out", str(tmp_path / "bucketed")]) == 0
    out = spark.read.parquet(str(tmp_path / "bucketed"))
    got = {r["doc_id"]: r["lm_bucket"] for r in out.collect()}
    assert got[0] == "head" and got[60] == "middle"
    assert got[61] == "unscored" and got[62] == "unscored"
    # floor + cuts refused
    from gemini_ocr_batch_spark.operators.lm import run_lm_score_job
    with _pytest.raises(ValueError):
        run_lm_score_job(spark, corpus_path, model_dir,
                         min_avg_lp_x10000=0, bucket_cuts=(0, -1))


def test_scoring_plan_broadcasts_model_and_prunes_text(spark, tmp_path):
    corpus = spark.range(0, 500).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma delta epsilon doc "),
                 F.col("id").cast("string")).alias("text"),
    )
    corpus.write.parquet(str(tmp_path / "c"))
    docs = spark.read.parquet(str(tmp_path / "c"))
    uni, big = train_ngram_lm(docs, min_count=2)
    plan = ngram_logprob(docs, uni, big)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2
    # the per-doc aggregate shuffle carries (id, lp) — never text
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line, line
