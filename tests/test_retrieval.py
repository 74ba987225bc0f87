"""BM25 retrieval (operators/retrieval.py)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from gemini_ocr_batch_spark.operators.retrieval import (
    bm25_scores,
    bm25_topk,
    corpus_stats,
)

DOCS = [
    (0, "spark shuffle join spark spark"),
    (1, "join the window sort"),
    (2, "spark"),
    (3, "window window window sort sort shuffle"),
    (4, "the quick brown fox"),
    (5, ""),
]
TERMS = ["spark", "sort", "missingterm"]


def _model(docs, terms, k1=1.2, b=0.75):
    toked = [(i, t.strip().lower().split()) for i, t in docs]
    # '' splits to [''] in both engines' regex-split semantics
    toked = [(i, tk if tk else [""]) for i, tk in toked]
    n = len(toked)
    tot = sum(len(tk) for _i, tk in toked)
    avgdl = tot / n
    out = {}
    for i, tk in toked:
        dl = len(tk)
        score, matched = 0, 0
        for t in terms:
            tf = tk.count(t)
            if tf == 0:
                continue
            matched += 1
            df = sum(1 for _j, tk2 in toked if t in tk2)
            idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
            c = idf * (tf * (k1 + 1.0)) / (
                tf + k1 * (1.0 - b + b * dl / avgdl)
            )
            score += math.floor(c * 10000 + 0.5)
        out[i] = (matched, score)
    return out


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_scores_match_python_model(spark, docs_df):
    got = {r["doc_id"]: (r["n_terms_matched"], r["score_x10000"])
           for r in bm25_scores(docs_df, TERMS).collect()}
    assert got == _model(DOCS, TERMS)
    # every doc present, absent-term contribution is exactly zero
    assert got[4] == (0, 0) and got[5] == (0, 0)
    assert got[0][0] == 1 and got[3][0] == 1  # one TERMS hit each


def test_tf_saturation_and_length_normalization(spark, docs_df):
    got = {r["doc_id"]: r["score_x10000"]
           for r in bm25_scores(docs_df, ["spark"]).collect()}
    # tf saturates: 3 occurrences < 3x the single-occurrence score
    assert got[0] < 3 * got[2]
    # shorter doc with the same tf scores higher (length normalization)
    assert got[2] > 0 and got[0] > got[2]


def test_topk_rank_and_ties(spark, docs_df):
    top = bm25_topk(docs_df, ["window", "sort"], k=3).collect()
    assert [r["rank"] for r in top] == [1, 2, 3]
    assert top[0]["doc_id"] == 3  # tf-heavy doc wins
    scores = [r["score_x10000"] for r in top]
    assert scores == sorted(scores, reverse=True)


def test_frozen_stats_reuse(spark, docs_df):
    stats = corpus_stats(docs_df, TERMS)
    assert stats["n_docs"] == 6
    assert stats["df"] == {"spark": 2, "sort": 2, "missingterm": 0}
    live = bm25_scores(docs_df, TERMS).collect()
    frozen = bm25_scores(docs_df, TERMS, stats=stats).collect()
    assert live == frozen


def test_term_validation(spark, docs_df):
    for bad in ([], ["two words"], ["o'quote"], ["dup", "dup"], [" "]):
        with pytest.raises(ValueError):
            bm25_scores(docs_df, bad)
    with pytest.raises(ValueError):
        bm25_topk(docs_df, ["spark"], k=0)


def test_bm25_cli_verb(spark, tmp_path, docs_df, capsys):
    import json

    from gemini_ocr_batch_spark.__main__ import main

    corpus = str(tmp_path / "corpus")
    docs_df.write.parquet(corpus)
    assert main(["bm25", "--corpus", corpus, "--terms", "window,sort",
                 "--k", "2"]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["terms"] == ["window", "sort"]
    assert [h["id"] for h in res["hits"]][0] == 3
    assert len(res["hits"]) == 2

    out = str(tmp_path / "scores")
    assert main(["bm25", "--corpus", corpus, "--terms", "spark",
                 "--out", out]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["rows"] == 6
    got = {r["doc_id"]: r["score_x10000"]
           for r in spark.read.parquet(out).collect()}
    assert got == {i: s for i, (_m, s) in _model(DOCS, ["spark"]).items()}


def test_plan_no_shuffle_no_text_in_exchanges(spark, tmp_path):
    # scoring is a stateless projection pass: no hash-partitioned
    # exchange at all, and text never leaves the scan
    big = spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("spark shuffle doc "),
                 F.col("id").cast("string")).alias("text"),
    )
    big.write.parquet(str(tmp_path / "docs"))
    docs = spark.read.parquet(str(tmp_path / "docs"))
    stats = corpus_stats(docs, ["spark", "shuffle"])
    plan = bm25_scores(docs, ["spark", "shuffle"], stats=stats) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan
    topk_plan = bm25_topk(docs, ["spark", "shuffle"], k=5, stats=stats) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in topk_plan


def test_bm25_null_text_scores_zero_not_null(spark):
    # review regression: tokens(NULL) propagated NULL into the matched
    # sum under ANSI mode, diverging from the oracle's CASE ... ELSE 0.
    from gemini_ocr_batch_spark.operators.retrieval import bm25_scores

    docs = spark.createDataFrame(
        [(1, "spark shuffle join"), (2, None), (3, "")],
        "doc_id bigint, text string",
    )
    rows = {r["doc_id"]: r for r in
            bm25_scores(docs, ["spark"]).collect()}
    assert rows[2]["n_terms_matched"] == 0
    assert rows[2]["score_x10000"] == 0
    assert rows[3]["n_terms_matched"] == 0
    assert rows[1]["n_terms_matched"] == 1
