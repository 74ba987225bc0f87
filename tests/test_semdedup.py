"""SemDeDup semantic dedup (operators/semdedup.py)."""

from __future__ import annotations

import math

import pytest

# two orthogonal 4-dim cells; within cell 0 a tight planted dup cluster
# (v0, v1, v2 pairwise cosine > 0.99) plus one distant singleton (v3);
# cell 1 has one dup pair (v4, v5) and one singleton (v6). v7 is nearly
# identical to v0 but assigned to cell 1 — the documented cross-cluster
# blind spot.
CENTROIDS = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
VECS = [
    (0, [1.0, 0.02, 0.0, 0.0]),
    (1, [1.0, 0.03, 0.01, 0.0]),
    (2, [0.99, 0.01, 0.0, 0.01]),
    (3, [0.6, 0.1, 0.8, 0.0]),
    (4, [0.1, 1.0, 0.2, 0.0]),
    (5, [0.1, 0.99, 0.21, 0.01]),
    (6, [0.0, 0.7, -0.7, 0.1]),
    (7, [0.9, 0.95, 0.0, 0.0]),
]
TAU = 0.98


def _cos(a, b):
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return sum(x * y for x, y in zip(a, b)) / (na * nb)


def _model():
    cid = {}
    for i, v in VECS:
        d = [sum((x - c) ** 2 for x, c in zip(v, cent))
             for cent in CENTROIDS]
        cid[i] = d.index(min(d))
    vecs = dict(VECS)
    pairs = [
        (a, b)
        for a, _ in VECS for b, _ in VECS
        if a < b and cid[a] == cid[b] and _cos(vecs[a], vecs[b]) >= TAU
    ]
    comp = {}
    for a, b in pairs:
        comp.setdefault(a, a)
        comp.setdefault(b, b)
    changed = True
    while changed:
        changed = False
        for a, b in pairs:
            m = min(comp[a], comp[b])
            if comp[a] != m or comp[b] != m:
                comp[a] = comp[b] = m
                changed = True
    rows = {}
    for i in comp:
        cc = math.floor(
            _cos(vecs[i], CENTROIDS[cid[i]]) * 10000 + 0.5
        )
        rows[i] = [cid[i], comp[i], cc]
    for c in set(comp.values()):
        members = sorted(
            (i for i in comp if comp[i] == c),
            key=lambda i: (rows[i][2], i),
        )
        for i in members:
            rows[i].append(i == members[0])
    return pairs, rows


@pytest.fixture(scope="module")
def emb_df(spark):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in VECS],
        "vec_id long, embedding array<double>",
    )


def test_pairs_are_cell_bounded(spark, emb_df):
    from gemini_ocr_batch_spark.operators.semdedup import semdedup_keep

    # the duplicate sets semdedup_keep reports are exactly the connected
    # sets of the model's within-cell pairs
    got: dict[int, set] = {}
    for r in semdedup_keep(emb_df, CENTROIDS, tau=TAU).collect():
        got.setdefault(r["component"], set()).add(r["id"])
    pairs, _rows = _model()
    assert sorted(pairs) == [(0, 1), (0, 2), (1, 2), (4, 5)]
    assert sorted(map(sorted, got.values())) == [[0, 1, 2], [4, 5]]
    # v7 ~ v0 (cosine > 0.98) but sits in the other cell: invisible by
    # construction — the paper's accepted cross-cluster trade
    assert _cos(dict(VECS)[0], dict(VECS)[7]) < TAU  # sanity: angled off
    assert all(7 not in ids for ids in got.values())


def test_keep_matches_python_model(spark, emb_df):
    from gemini_ocr_batch_spark.operators.semdedup import semdedup_keep

    got = {
        r["id"]: [r["centroid_id"], r["component"],
                  r["cent_cos_x10000"], r["keep"]]
        for r in semdedup_keep(emb_df, CENTROIDS, tau=TAU).collect()
    }
    _pairs, want = _model()
    assert got == want
    # exactly one winner per component; singletons absent entirely
    assert 3 not in got and 6 not in got and 7 not in got
    comps = {}
    for i, (_c, comp, _cc, keep) in got.items():
        comps.setdefault(comp, []).append(keep)
    assert all(sum(ks) == 1 for ks in comps.values())


def test_election_keeps_most_atypical(spark, emb_df):
    from gemini_ocr_batch_spark.operators.semdedup import semdedup_keep

    got = {r["id"]: r for r in
           semdedup_keep(emb_df, CENTROIDS, tau=TAU).collect()}
    dup_set = [i for i in (0, 1, 2) if i in got]
    kept = [i for i in dup_set if got[i]["keep"]]
    # winner has the LOWEST centroid cosine of its component
    assert got[kept[0]]["cent_cos_x10000"] == min(
        got[i]["cent_cos_x10000"] for i in dup_set
    )


def test_fitted_path_finds_planted_dups(spark):
    from gemini_ocr_batch_spark.operators.semdedup import semdedup_keep
    from gemini_ocr_batch_spark.operators.similarity import ivf_build

    # 3 planted dup pairs in well-separated directions + 44 spread
    # singles; the KMeans fit only has to separate space, not be exact
    import random

    rng = random.Random(11)
    rows = []
    base = {10: [5.0, 0.1, 0.0], 20: [0.1, 5.0, 0.0], 30: [0.0, 0.1, 5.0]}
    for bid, v in base.items():
        rows.append((bid, v))
        rows.append((bid + 1, [x * 1.01 + 0.001 for x in v]))
    for i in range(100, 144):
        v = [rng.gauss(0, 1) for _ in range(3)]
        rows.append((i, v))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>",
    )
    _idx, cents = ivf_build(emb, k_centroids=4, seed=3)
    keep = semdedup_keep(emb, cents, tau=0.999)
    got = {r["id"]: r["keep"] for r in keep.collect()}
    assert len(cents) == 4
    for bid in base:
        assert {bid, bid + 1} <= set(got)  # each planted pair surfaced
        assert got[bid] != got[bid + 1]  # exactly one kept
    # random singles at tau=0.999 stay out of the dup graph
    assert all(i < 100 for i in got)


def test_plan_no_cartesian(spark, tmp_path, monkeypatch):
    from pyspark.sql import functions as F

    from gemini_ocr_batch_spark.operators import semdedup

    spark.range(0, 300).select(
        F.col("id").alias("vec_id"),
        F.array(F.rand(7), F.rand(8), F.rand(9), F.rand(10))
        .alias("embedding"),
    ).write.parquet(str(tmp_path / "emb"))
    emb = spark.read.parquet(str(tmp_path / "emb"))
    # capture the candidate-pair frame semdedup_keep hands to the
    # component step
    plans = []
    real = semdedup.connected_components

    def spy(pairs, *a, **kw):
        plans.append(pairs._jdf.queryExecution().executedPlan().toString())
        return real(pairs, *a, **kw)

    monkeypatch.setattr(semdedup, "connected_components", spy)
    semdedup.semdedup_keep(emb, CENTROIDS, tau=0.9)
    (plan,) = plans
    assert "centroid_id" in plan
    # candidate generation is the equi-join on centroid_id — never a
    # cartesian/nested-loop pass over the corpus
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
