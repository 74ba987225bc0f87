"""Similarity-search + text-analysis + multimodal operator tests."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from gemini_ocr_batch_spark.operators.multimodal import asset_metadata
from gemini_ocr_batch_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_dup_pairs,
    lsh_topk,
)
from gemini_ocr_batch_spark.operators.textstats import (
    _winnow_one,
    content_fingerprint,
    language_id,
    quality_score,
    token_count,
    winnow_fingerprints,
)


@pytest.fixture(scope="module")
def embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _py_cosine(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    return dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))


def test_brute_force_topk_matches_python(spark, embeddings):
    rows = embeddings.collect()
    q = list(rows[0]["embedding"])
    scored = sorted(
        ((_py_cosine(list(r["embedding"]), q), r["vec_id"]) for r in rows),
        key=lambda t: (-t[0], t[1]),
    )[:10]
    expected = [vid for _, vid in scored]
    got = [r["vec_id"] for r in brute_force_topk(embeddings, q, k=10).collect()]
    assert got == expected
    assert got[0] == rows[0]["vec_id"]  # self is its own nearest neighbor


def test_lsh_topk_subset_of_bucket_and_sane(spark, embeddings):
    q = list(embeddings.first()["embedding"])
    got = lsh_topk(embeddings, q, k=10, n_planes=6).collect()
    assert 1 <= len(got) <= 10
    assert got[0]["vec_id"] == embeddings.first()["vec_id"]
    # ranks contiguous from 1
    assert [r["rank"] for r in got] == list(range(1, len(got) + 1))


def test_lsh_topk_multi_probe_widens_candidate_pool(spark, embeddings):
    # multi-probe probes the Hamming-1 shell on top of the exact bucket:
    # never fewer results, self still rank-1, and the scored pool is the
    # union over probed cells (so top-k quality is monotone in probes).
    q = list(embeddings.first()["embedding"])
    exact = lsh_topk(embeddings, q, k=50, n_planes=6).collect()
    multi = lsh_topk(embeddings, q, k=50, n_planes=6, multi_probe=1).collect()
    assert len(multi) >= len(exact)
    assert multi[0]["vec_id"] == embeddings.first()["vec_id"]
    exact_ids = {r["vec_id"] for r in exact}
    multi_ids = {r["vec_id"] for r in multi}
    if len(multi) < 50:  # pool not truncated by k: strict superset check
        assert exact_ids <= multi_ids


def test_embedding_near_dup_pairs_finds_planted(spark):
    base = [float(i % 7) - 3.0 for i in range(16)]
    near = [v * 1.001 for v in base]
    far = [float((i * 3) % 5) - 2.0 for i in range(16)]
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "vec_id long, embedding array<float>"
    )
    pairs = {(r["id_a"], r["id_b"]) for r in
             embedding_near_dup_pairs(df, threshold=0.99).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_token_count_and_quality(spark):
    df = spark.createDataFrame(
        [(1, "The cat sat on the mat and it was good."),
         (2, "x")],
        "doc_id long, text string",
    )
    tc = {r["doc_id"]: r for r in token_count(df).collect()}
    assert tc[1]["ws_tokens"] == 10
    assert tc[1]["bpe_est_tokens"] == math.ceil(40 / 4)
    q = {r["doc_id"]: r for r in quality_score(df).collect()}
    assert q[1]["quality"] > q[2]["quality"]
    assert 0 <= q[2]["quality"] <= 10000


def test_language_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog went to the house of a friend"),
            (2, "der hund und die katze sind nicht in das haus"),
            (3, "le chat et les chiens est une histoire que pas"),
            (4, "zzz qqq www"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["pred_lang"] for r in language_id(df).collect()}
    assert out[1] == "en"
    assert out[2] == "de"
    assert out[3] == "fr"
    assert out[4] == "und"


def test_fingerprints(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "something else")],
        "doc_id long, text string",
    )
    fp = {r["doc_id"]: r["fingerprint"] for r in content_fingerprint(df).collect()}
    assert fp[1] == fp[2]  # case/whitespace-normalized
    assert fp[1] != fp[3]


def test_winnowing(spark):
    a = "the quick brown fox jumps over the lazy dog " * 3
    b = "the quick brown fox leaps over the lazy dog " * 3
    fa, fb = set(_winnow_one(a)), set(_winnow_one(b))
    assert fa and fb
    overlap = len(fa & fb) / len(fa | fb)
    assert overlap > 0.3  # shared k-grams survive winnowing
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    rows = {r["doc_id"]: r["fingerprints"] for r in
            winnow_fingerprints(df).collect()}
    assert rows[1] == _winnow_one(a)  # Spark path == pure-python path


def _winnow_naive(text: str) -> list[int]:
    """INDEPENDENT winnowing oracle: recomputes every k-gram hash from
    scratch (no rolling update), explicit window scan. Shares only the
    published construction (Schleimer et al. 2003) with the engine —
    a genuine cross-check of the rolling-hash arithmetic."""
    from gemini_ocr_batch_spark.operators.textstats import WINNOW_K, WINNOW_W

    s = " ".join(text.lower().split())
    if len(s) < WINNOW_K:
        return []
    b, m = 131, (1 << 31) - 1
    hs = [
        sum(
            ord(c) * pow(b, WINNOW_K - 1 - j, m)
            for j, c in enumerate(s[i : i + WINNOW_K])
        )
        % m
        for i in range(len(s) - WINNOW_K + 1)
    ]
    out: list[int] = []
    for i in range(len(hs) - WINNOW_W + 1):
        lo = min(hs[i : i + WINNOW_W])
        if not out or out[-1] != lo:
            out.append(lo)
    return out


def test_winnowing_vs_independent_oracle(spark):
    """Engine (rolling hash, Arrow-batched) vs independent from-scratch
    oracle, over a spread of text shapes including edge lengths."""
    import random

    rng = random.Random(17)
    cases = ["", "ab", "abcd", "abcde", " x  y\tz ", "A" * 50]
    cases += [
        "".join(rng.choice("abcdefg .,XYZ\n\t") for _ in range(rng.randint(0, 200)))
        for _ in range(40)
    ]
    for s in cases:
        assert _winnow_one(s) == _winnow_naive(s), repr(s)
    df = spark.createDataFrame(
        list(enumerate(cases)), "doc_id long, text string"
    )
    rows = {r["doc_id"]: list(r["fingerprints"]) for r in
            winnow_fingerprints(df).collect()}
    for i, s in enumerate(cases):
        assert rows[i] == _winnow_naive(s), repr(s)


def test_asset_metadata_plumbing(spark):
    blobs = [
        (1, b"\xff\xd8\xff\xe0" + b"j" * 100),
        (2, b"\x89PNG\r\n" + b"p" * 50),
        (3, b"%PDF-1.4 fake"),
        (4, None),
    ]
    df = spark.createDataFrame(blobs, "asset_id long, asset binary")
    out = {r["asset_id"]: r for r in asset_metadata(df).collect()}
    assert out[1]["guessed_kind"] == "jpeg"
    assert out[2]["guessed_kind"] == "png"
    assert out[3]["guessed_kind"] == "pdf"
    assert out[4]["byte_size"] == 0
    assert out[1]["byte_size"] == 104
    assert 1 <= out[1]["fake_width"] <= 1920


def test_ivf_topk_recall_vs_bruteforce(spark, sf_dir):
    """IVF (kmeans-partitioned) ANN: with a healthy probe budget the
    approximate top-k must recover most of the exact top-k, and with
    n_probe = k_centroids it must EQUAL the exact result (every cell
    scanned ⇒ same math as brute force)."""
    from gemini_ocr_batch_spark.operators.similarity import (
        brute_force_topk,
        ivf_build,
        ivf_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q_row = emb.orderBy("vec_id").first()
    query = [float(x) for x in q_row["embedding"]]
    index_df, centroids = ivf_build(emb, k_centroids=8)
    index_df = index_df.cache()
    try:
        exact = [r["id"] for r in
                 brute_force_topk(emb, query, k=10)
                 .select(F.col("vec_id").alias("id")).collect()]
        # full probe == exact
        full = [r["id"] for r in
                ivf_topk(index_df, centroids, query, k=10,
                         n_probe=len(centroids)).collect()]
        assert full == exact
        # partial probe: strong recall (the query's own cell is probed
        # first, so its true neighbors cluster there)
        part = [r["id"] for r in
                ivf_topk(index_df, centroids, query, k=10,
                         n_probe=2).collect()]
        recall = len(set(part) & set(exact)) / 10
        assert recall >= 0.5, f"recall@10 {recall} too low for n_probe=2/8"
    finally:
        index_df.unpersist()


def test_ivf_assignment_is_total_and_deterministic(spark, sf_dir):
    from gemini_ocr_batch_spark.operators.similarity import ivf_build

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    a1, c1 = ivf_build(emb, k_centroids=4)
    a2, c2 = ivf_build(emb, k_centroids=4)
    assert c1 == c2  # seeded fit
    assert a1.count() == n  # every vector lands in exactly one cell
    assert a1.select("centroid_id").distinct().count() <= 4
    assert a1.exceptAll(a2).count() == 0


def test_ivf_index_probe_is_partition_pruned(spark, sf_dir, tmp_path):
    """The IVF scale claim, pinned: an index stored
    ``partitionBy("centroid_id")`` turns a probe's ``centroid_id IN``
    filter into metadata-level partition pruning — the scan must carry
    the predicate as a PartitionFilter and read only the probed cell
    directories, never the whole index."""
    from gemini_ocr_batch_spark.operators.similarity import (
        ivf_assign,
        ivf_topk,
    )
    import __spark_entry__ as em

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx_path = str(tmp_path / "ivf_index")
    ivf_assign(emb, em._IVF_CENTROIDS).write.partitionBy(
        "centroid_id"
    ).parquet(idx_path)

    index = spark.read.parquet(idx_path)
    out = ivf_topk(index, em._IVF_CENTROIDS, em._ANN_QUERY_VEC, k=10,
                   n_probe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid_id" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], plan
    # and the probed result matches the unpartitioned in-memory path
    in_mem = ivf_topk(ivf_assign(emb, em._IVF_CENTROIDS), em._IVF_CENTROIDS,
                      em._ANN_QUERY_VEC, k=10, n_probe=2)
    assert [r["id"] for r in out.collect()] == [
        r["id"] for r in in_mem.collect()
    ]


def test_ivf_persisted_index_e2e(spark, sf_dir, tmp_path):
    """The ANN-service job form (r6): build -> ivf_write_index ->
    ivf_search_persisted must equal the in-memory ivf_topk, and the
    persisted probe must READ only the probed cells' partition
    directories (the PLANS.md partition-pruning claim, now against a
    real on-disk index)."""
    import __spark_entry__ as em
    from gemini_ocr_batch_spark.operators.similarity import (
        ivf_assign,
        ivf_probe_order,
        ivf_read_index,
        ivf_search_persisted,
        ivf_topk,
        ivf_write_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    index_df = ivf_assign(emb, em._IVF_CENTROIDS)
    idx_path = str(tmp_path / "ivf")
    meta = ivf_write_index(index_df, em._IVF_CENTROIDS, idx_path)
    assert meta["k_centroids"] == len(em._IVF_CENTROIDS)

    got = ivf_search_persisted(
        spark, idx_path, em._ANN_QUERY_VEC, k=10, n_probe=2
    )
    want = ivf_topk(
        index_df, em._IVF_CENTROIDS, em._ANN_QUERY_VEC, k=10, n_probe=2
    )
    assert [
        (r["id"], r["rank"], round(r["cosine"], 9)) for r in got.collect()
    ] == [
        (r["id"], r["rank"], round(r["cosine"], 9)) for r in want.collect()
    ]

    # pruning, observed at the file level: the probed scan's input files
    # all live under the two probed centroid directories
    probed = set(
        ivf_probe_order(em._IVF_CENTROIDS, em._ANN_QUERY_VEC)[:2]
    )
    cells, cents = ivf_read_index(spark, idx_path)
    pruned = cells.filter(
        F.col("centroid_id").isin([int(p) for p in probed])
    )
    # runtime file-level proof (inputFiles() reports pre-pruning): every
    # file actually opened lives under a probed centroid directory
    files = {
        r["f"]
        for r in pruned.select(
            F.input_file_name().alias("f")
        ).distinct().collect()
    }
    assert files, "probed scan resolved no files"
    for f in files:
        assert any(f"centroid_id={p}/" in f for p in probed), f
    # and the plan carries the literal probe set as a PartitionFilter
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "centroid_id" in plan.split("PartitionFilters")[1].split("]")[0]
    # and the round-tripped centroids are bit-identical
    assert cents == em._IVF_CENTROIDS


def test_index_and_search_cli_verbs(spark, sf_dir, tmp_path, capsys):
    """index + search verbs end to end over the embeddings table: the
    build reports per-cell sizes that account for every vector, and the
    search returns k ranked hits from the persisted index."""
    import json

    from gemini_ocr_batch_spark.__main__ import main

    idx = str(tmp_path / "svc_index")
    rc = main([
        "index", "--embeddings", f"{sf_dir}/embeddings.parquet",
        "--out", idx, "--k-centroids", "4",
    ])
    assert rc == 0
    meta = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    n_vec = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert meta["n_vectors"] == n_vec
    assert sum(meta["cell_sizes"]) == n_vec and len(meta["cell_sizes"]) == 4

    import __spark_entry__ as em

    # --query=... form: a leading negative float would otherwise parse
    # as an option flag
    rc = main([
        "search", "--index", idx,
        "--query=" + ",".join(str(v) for v in em._ANN_QUERY_VEC),
        "--k", "5", "--n-probe", "2",
    ])
    assert rc == 0
    hits = json.loads(
        capsys.readouterr().out.strip().splitlines()[-1]
    )["hits"]
    assert [h["rank"] for h in hits] == [1, 2, 3, 4, 5]
    assert all(-1.0 <= h["cosine"] <= 1.0 for h in hits)
    assert hits == sorted(hits, key=lambda h: -h["cosine"])
