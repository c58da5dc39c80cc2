"""K-Means tests: synthetic blobs (exact expectations), reference inputs
(golden shapes + invariants), K-Means|| pipeline."""

import json
import math
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from bigdata_lab02_spark.operators import kmeans as km
from bigdata_lab02_spark.sources.delimited import read_points2d, read_sparse_vectors
from tests.conftest import KMEANS_INPUT, TESTDATA


# ---------------------------------------------------------------- dense


@pytest.fixture(scope="module")
def blobs(spark):
    import random

    rng = random.Random(7)
    rows = []
    for cx, cy in [(0.0, 0.0), (50.0, 50.0), (100.0, 0.0)]:
        rows += [
            (cx + rng.uniform(-2, 2), cy + rng.uniform(-2, 2)) for _ in range(40)
        ]
    return spark.createDataFrame(rows, "x double, y double")


def test_euclidean_blobs(blobs):
    res = km.kmeans_euclidean(blobs, k=3, seed=1, tol=0.1)
    # centroids land on the blob centers
    got = sorted((round(c[0]), round(c[1])) for c in res.centroids)
    assert got == [(0, 0), (50, 50), (100, 0)]
    # each cluster has exactly 40 members
    sizes = sorted(
        r["n"]
        for r in res.assignments.groupBy("cluster").agg(F.count("*").alias("n")).collect()
    )
    assert sizes == [40, 40, 40]
    # Euclidean Lloyd loss is non-increasing
    assert all(a >= b - 1e-9 for a, b in zip(res.loss_history, res.loss_history[1:]))


def test_euclidean_reference_points(spark):
    pts = read_points2d(spark, f"{KMEANS_INPUT}/data_points.txt")
    assert pts.count() == 300
    res = km.kmeans_euclidean(pts, k=3, seed=42, tol=0.5)
    assert len(res.centroids) == 3
    assert res.assignments.count() == 300
    # golden centroids (any order): (62.0,84.1) (79.1,23.1) (18.9,58.2) —
    # the blobs are well-separated, so seeded Lloyd lands on the same optima
    golden = [(62.027, 84.078), (79.078, 23.125), (18.874, 58.207)]
    got = sorted((round(c[0], 1), round(c[1], 1)) for c in res.centroids)
    want = sorted((round(gx, 1), round(gy, 1)) for gx, gy in golden)
    assert got == want


# ---------------------------------------------------------------- sparse


@pytest.fixture(scope="module")
def tiny_vectors(spark):
    # 2 obvious groups in term space: docs 1-3 share terms {1,2}, 4-6 {9,10}
    rows = [
        (1, {1: 1.0, 2: 0.5}),
        (2, {1: 0.8, 2: 0.7}),
        (3, {1: 0.9, 2: 0.4, 3: 0.1}),
        (4, {9: 1.0, 10: 0.5}),
        (5, {9: 0.6, 10: 0.9}),
        (6, {9: 0.8, 10: 0.6, 3: 0.05}),
    ]
    return spark.createDataFrame(rows, "doc_id int, vec map<int,double>")


def test_task2_1_exact_golden_parity(spark):
    """EXACT parity with the reference's golden Output2_1 (300 points,
    deterministic Lloyd). The reference's init is an unseeded Random
    (task2_1.java:39-51), so parity anchors on the golden FINAL state,
    which is a fixed point of the assign step:

    1. Assigning every point against the golden centroids with our Spark
       assign expression reproduces ``task_2_1.classes`` exactly —
       same strict-< first-min tie-break as the mapper
       (task2_1.java:210-220), all 300 (point, cluster) rows equal.
    2. Re-computing each cluster's mean the way the reducer does —
       sequential sum in file order (task2_1.java:238-262) — reproduces
       ``task_2_1.clusters`` BIT-FOR-BIT (Java Double.toString
       round-trips through float equality).
    3. A full kmeans_euclidean run started from the golden centroids
       (strict parity mode) converges immediately and returns them.
    """
    golden_dir = "/root/reference/BigDataLab02/Output/Output2_1"
    with open(f"{golden_dir}/task_2_1.classes") as f:
        classes = []  # (x_text, y_text, cluster) in reducer write order
        for line in f:
            pt, cid = line.rstrip("\n").split("\t")
            xs, ys = pt.split(" ")
            classes.append((xs, ys, int(cid)))
    with open(f"{golden_dir}/task_2_1.clusters") as f:
        clusters = {}
        for line in f:
            cent, cid = line.rstrip("\n").split("\t")
            xs, ys = cent.split(" ")
            clusters[int(cid)] = (float(xs), float(ys))
    assert len(classes) == 300 and len(clusters) == 3
    centroids = [list(clusters[c]) for c in sorted(clusters)]

    # 1) one Spark assign step from the golden centroids == classes file
    pts = read_points2d(spark, f"{KMEANS_INPUT}/data_points.txt")
    feats = pts.select(
        F.array(F.col("x").cast("double"), F.col("y").cast("double")).alias(
            "features"
        )
    )
    cluster_expr, _ = km._dense_assign_expr(centroids, "features")
    got = sorted(
        (r["features"][0], r["features"][1], r["cluster"])
        for r in feats.select("features", cluster_expr.alias("cluster")).collect()
    )
    want = sorted((float(xs), float(ys), cid) for xs, ys, cid in classes)
    assert got == want

    # 2) reducer-order sequential means == clusters file, bit-for-bit
    sums = {c: [0.0, 0.0, 0] for c in clusters}
    for xs, ys, cid in classes:  # classes order == reducer iteration order
        s = sums[cid]
        s[0] += float(xs)
        s[1] += float(ys)
        s[2] += 1
    for cid, (gx, gy) in clusters.items():
        sx, sy, n = sums[cid]
        assert sx / n == gx and sy / n == gy  # exact float equality

    # 3) full run from the golden model is a fixed point
    res = km.kmeans_euclidean(
        pts, tol=0.5, max_iter=5, initial_centroids=centroids
    )
    assert res.iterations == 1
    for ours, (gx, gy) in zip(res.centroids, [clusters[c] for c in sorted(clusters)]):
        assert abs(ours[0] - gx) < 1e-9 and abs(ours[1] - gy) < 1e-9


def test_cosine_tiny(tiny_vectors):
    res = km.kmeans_cosine(tiny_vectors, k=2, seed=3, theta=0.999, max_iter=10)
    groups = {
        r["doc_id"]: r["cluster"] for r in res.assignments.collect()
    }
    assert groups[1] == groups[2] == groups[3]
    assert groups[4] == groups[5] == groups[6]
    assert groups[1] != groups[4]
    # top terms of each cluster are its defining terms
    tops = [{t for t, _ in terms[:2]} for terms in res.top_terms]
    assert {1, 2} in tops and {9, 10} in tops


def test_cosine_reference_tfidf(spark):
    vecs = read_sparse_vectors(spark, f"{KMEANS_INPUT}/TFIDF.txt-r-00000")
    assert vecs.count() == 2224
    res = km.kmeans_cosine(vecs, k=5, seed=42, theta=0.98, max_iter=12, round_dp=3)
    assert len(res.centroids) == 5
    assert res.assignments.count() == 2224
    # Golden trace (50241 → 41409) is ~k× inflated by reference quirk Q11
    # (loss reducer accumulates docs across clusters — SURVEY errata); the
    # TRUE WCSS is bounded by Σ‖d‖² + Σ‖c‖² ≈ 10.6k, which ours respects.
    assert 2 <= res.iterations <= 12
    assert res.loss_history[0] < 12000
    assert res.loss_history[-1] <= res.loss_history[0]
    assert all(len(t) == 10 for t in res.top_terms)
    # every cluster non-empty
    sizes = res.assignments.groupBy("cluster").count().collect()
    assert len(sizes) == 5 and all(r["count"] > 0 for r in sizes)


# ------------------------------------------ sparse, sf0.001 gate vectors


@pytest.fixture(scope="module")
def gate_vectors(spark):
    """The kmeans_fit gate's input: 6-dp TF-IDF vectors of the sf0.001
    documents table (500 docs)."""
    import __spark_entry__ as e

    return e._gate_vectors(spark, f"{TESTDATA}/sf0.001")


def _first_vectors(vecs, k):
    return [dict(r["vec"]) for r in vecs.orderBy("doc_id").limit(k).collect()]


_NO_OVERLAP_TERM = 10**9  # no document has this term id


@pytest.mark.parametrize("case", ["edge_cases", "early_stop"])
def test_cosine_characterization(gate_vectors, case):
    """kmeans_cosine against values recorded from the model-on-executors
    implementation (tests/fixtures/kmeans_cosine_sf0001.json), with the
    loss on.

    edge_cases: cluster 0 overlaps no document, so the 28 documents with
    neither term 18 nor term 29 share no term with any centroid and fall
    back to cluster 0; cluster 2 duplicates cluster 1, loses every tie to
    it, empties and is carried forward; cluster 3 starts empty and stays
    empty. Exactly three iterations (theta > 1).
    early_stop: the gate init with theta 0.9 converges after 2 of at most
    10 iterations (cosine rounded at 3 dp, so ties are common).

    Loss and top-term weights are sums whose order may change with the
    plan: compared to 1e-9 relative. Everything else is exact."""
    if case == "edge_cases":
        kw = dict(
            initial_centroids=[
                {_NO_OVERLAP_TERM: 1.0}, {18: 1.0}, {18: 1.0}, {}, {29: 1.0}
            ],
            theta=1.1,
            max_iter=3,
            round_dp=6,
        )
    else:
        kw = dict(
            initial_centroids=_first_vectors(gate_vectors, 5),
            theta=0.9,
            max_iter=10,
            round_dp=3,
        )
    want = json.loads(
        (Path(__file__).parent / "fixtures" / "kmeans_cosine_sf0001.json").read_text()
    )[case]
    res = km.kmeans_cosine(gate_vectors, centroid_round_dp=6, compute_loss=True, **kw)

    assert res.iterations == want["iterations"]
    got = sorted(
        [r["doc_id"], r["cluster"]]
        for r in res.assignments.select("doc_id", "cluster").collect()
    )
    assert got == want["assignments"]
    assert [sorted(map(list, c.items())) for c in res.centroids] == want["centroids"]
    assert [[t for t, _ in c] for c in res.top_terms] == [
        [t for t, _ in c] for c in want["top_terms"]
    ]
    for c_got, c_want in zip(res.top_terms, want["top_terms"]):
        assert [sw for _, sw in c_got] == pytest.approx(
            [sw for _, sw in c_want], rel=1e-9
        )
    assert res.loss_history == pytest.approx(want["loss_history"], rel=1e-9)


def test_cosine_fit_job_count(spark, gate_vectors):
    """The kmeans_fit gate's fit (k=5, two iterations) runs one assign
    plus one update aggregation per iteration and collects only the new
    model: bound its Spark jobs."""
    sc = spark.sparkContext
    group = "kmeans-fit-job-count"
    init = _first_vectors(gate_vectors, 5)
    sc.setJobGroup(group, "kmeans_cosine on the kmeans_fit gate input")
    try:
        km.kmeans_cosine(
            gate_vectors,
            k=5,
            theta=1.1,
            max_iter=2,
            round_dp=6,
            centroid_round_dp=6,
            initial_centroids=init,
            compute_loss=False,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs <= 30, (
        f"kmeans_cosine ran {n_jobs} jobs on the kmeans_fit input; observed "
        "11 with the driver-held model, 63 when the model stayed on the "
        "executors (checkpoint, carry-forward and convergence joins, "
        "post-loop top-terms and model collects)"
    )


def test_kmeans_parallel_tiny(tiny_vectors):
    cands, weights = km.kmeans_parallel_init(
        tiny_vectors, k=2, seed=11, max_rounds=3
    )
    assert len(cands) >= 2
    # weights cover all 6 docs
    assert sum(r["weight"] for r in weights.collect()) == 6


def test_kmeans_scalable_tiny(tiny_vectors):
    res = km.kmeans_scalable(tiny_vectors, k=2, seed=11, max_rounds=3, max_iter=8)
    groups = {r["doc_id"]: r["cluster"] for r in res.assignments.collect()}
    assert groups[1] == groups[2] == groups[3]
    assert groups[4] == groups[5] == groups[6]
    assert groups[1] != groups[4]


def test_kmeans_parallel_deterministic_init(tiny_vectors):
    """Fixed initial candidates + top-l draw ⇒ bit-identical reruns
    (candidate order AND weights) — the property the driver gate relies on."""
    first = tiny_vectors.orderBy("doc_id").limit(1).collect()[0]
    runs = []
    for _ in range(2):
        cands, weights = km.kmeans_parallel_init(
            tiny_vectors,
            oversample=3,
            max_rounds=1,
            initial_candidates=[dict(first["vec"])],
            round_dp=6,
        )
        runs.append(
            (
                [tuple(sorted(c.items())) for c in cands],
                sorted((r["cluster"], r["weight"]) for r in weights.collect()),
            )
        )
    assert runs[0] == runs[1]


def test_weighted_recluster_step_matches_local(spark):
    """The distributed K10 form (weighted_recluster_step) computes the same
    single assign + weighted-mean update as the driver-local recluster math
    in kmeans_scalable: same init (candidates 0..k-1), cosine argmax with
    first-max/centroid-asc tie-break, missing weights defaulting to 1."""
    cands = [
        {1: 1.0, 2: 0.5},
        {9: 1.0, 10: 0.5},
        {1: 0.8, 2: 0.7},
        {9: 0.6, 10: 0.9},
        {1: 0.9, 3: 0.2},
        {7: 1.0},  # overlaps neither centroid → falls back to cluster 0
    ]
    weights = {0: 10, 1: 20, 2: 3, 3: 4, 4: 5}  # candidate 5 missing → 1
    k = 2
    cand_df = km._centroid_df(spark, cands)
    w_df = spark.createDataFrame(sorted(weights.items()), "cluster int, weight long")
    got = {
        (r["cluster"], r["term_id"]): r["cw"]
        for r in km.weighted_recluster_step(cand_df, w_df, k=k, round_dp=6).collect()
    }
    cents = [cands[i] for i in range(k)]
    groups: dict[int, list[int]] = {}
    for ci, c in enumerate(cands):
        best, best_cos = 0, -1.0
        for ki, cent in enumerate(cents):
            cv = round(km._cos_dict(c, cent), 6)
            if cv > best_cos:
                best, best_cos = ki, cv
        groups.setdefault(best, []).append(ci)
    want = {}
    for ki, members in groups.items():
        tot = sum(weights.get(ci, 1) for ci in members)
        acc: dict[int, float] = {}
        for ci in members:
            for t, v in cands[ci].items():
                acc[t] = acc.get(t, 0.0) + weights.get(ci, 1) * v
        for t, v in acc.items():
            want[(ki, t)] = round(v / tot, 6)
    assert got == want


def test_kmeans_scalable_corpus_invariants(spark):
    """K-Means|| end-to-end (K7-K11 + D1) on real reference TF-IDF vectors
    (2,224 docs) — beyond tiny fixtures: every doc assigned, exactly k
    clusters, all non-empty, deterministic under a fixed seed."""
    vecs = read_sparse_vectors(spark, f"{KMEANS_INPUT}/TFIDF.txt-r-00000").limit(600)
    res = km.kmeans_scalable(vecs, k=4, seed=7, max_rounds=2, max_iter=6)
    assigned = res.assignments
    assert assigned.count() == 600
    sizes = {r["cluster"]: r["count"] for r in assigned.groupBy("cluster").count().collect()}
    assert set(sizes) <= set(range(4)) and len(sizes) >= 2
    assert sum(sizes.values()) == 600
    assert len(res.centroids) == 4
    # centroid weights are means of non-negative tfidf → non-negative
    assert all(w >= 0.0 for c in res.centroids for w in c.values())


class TestDenseArrayCentroids:
    def test_fit_finds_group_means(self, spark):
        from bigdata_lab02_spark.operators.kmeans import kmeans_dense_centroids

        # two tight blobs; init = the 2 smallest ids (one in each blob)
        rows = [
            (0, [0.0, 0.0]), (2, [0.2, 0.0]), (4, [0.0, 0.2]),
            (1, [10.0, 10.0]), (3, [10.2, 10.0]), (5, [10.0, 10.2]),
        ]
        pts = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        cents = kmeans_dense_centroids(pts, k=2, max_iter=2, round_dp=6)
        assert len(cents) == 2
        got = sorted((round(c[0], 4), round(c[1], 4)) for c in cents)
        assert got == [(0.0667, 0.0667), (10.0667, 10.0667)]

    def test_first_min_tie_break_and_singleton_cluster(self, spark):
        from bigdata_lab02_spark.operators.kmeans import kmeans_dense_centroids

        # init: [0,0] and [0.1,0]; point 9 at 0.05 is equidistant -> the
        # first-min rule assigns cluster 0; cluster 1 keeps only its own
        # init point, so its mean stays put
        near = spark.createDataFrame(
            [(0, [0.0, 0.0]), (5, [0.1, 0.0]), (9, [0.05, 0.0])],
            "vec_id long, embedding array<double>",
        )
        c2 = kmeans_dense_centroids(near, k=2, max_iter=1, round_dp=6)
        assert c2[0] == [0.025, 0.0]
        assert c2[1] == [0.1, 0.0]
