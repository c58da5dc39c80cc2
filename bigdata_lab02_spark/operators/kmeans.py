"""K-Means operators (SURVEY.md §2 K1-K11, D1): dense Euclidean, sparse
cosine, and K-Means|| (scalable K-Means++) initialization.

Reference behavior re-expressed Spark-first (cf. ``KMeans/task2_1.java``,
``task2_2.java``, ``task2_3.java``):

- The reference round-trips every iteration through HDFS text files and a
  job-conf string. Here the points DataFrame is **cached once**; each
  iteration is one assign plus one update aggregation, and only the
  (k × dims / k × vocab-slice) centroid model crosses the driver boundary
  — the classic MLlib pattern. The model is held on the driver between
  iterations, which is no less scalable than keeping it executor-side:
  the assign step broadcasts the whole model every iteration anyway.
  Model tables reach Spark through Arrow (``_model_frame``), never as a
  Python-RDD-backed frame.
- Dense assign/update is pure expression math against centroid literals
  (whole-stage codegen, no shuffle beyond the update's groupBy).
- Sparse (map-vector) assign is an exploded broadcast join: doc nonzeros ×
  centroid nonzeros on term_id → partial-aggregated dot products. No UDF;
  scales with nnz, not vocab × k.
- Loss uses the closed form ‖d‖² + ‖c‖² − 2·d·c so no union-key walk is
  ever materialized.

Quirks (SURVEY appendix): Q6 (cosine rounded to 3 dp inside the metric) is
available via ``round_dp=3`` for golden parity; default is unrounded.
Q7 (K-Means|| draws the top-l by probability deterministically instead of
Bernoulli sampling) is the default here to mirror the reference;
``sampling="bernoulli"`` gives the paper-faithful draw.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------- results


@dataclass
class KMeansResult:
    centroids: list  # dense: list[list[float]]; sparse: list[dict[int, float]]
    assignments: DataFrame  # (id..., cluster)
    loss_history: list[float] = field(default_factory=list)
    iterations: int = 0
    top_terms: list[list[tuple[int, float]]] | None = None  # sparse only


# ---------------------------------------------------------------- dense


def _dense_assign_expr(
    centroids: list[list[float]], feat_col: str, round_dp: int | None = None
):
    """cluster = index of nearest centroid (squared Euclidean, first-min
    tie-break like the reference's argmin loop, task2_1.java:199-224).
    ``round_dp`` rounds each squared distance BEFORE the argmin — the
    cross-engine determinism knob (same rule as the sparse path's Q6
    rounding): an oracle summing the 64 squared diffs in a different order
    lands on the same rounded value."""
    dists = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    F.col(feat_col),
                    F.array(*[F.lit(float(x)) for x in c]),
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            for c in centroids
        ]
    )
    if round_dp is not None:
        dists = F.transform(dists, lambda d: F.round(d, round_dp))
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int"), F.array_min(
        dists
    )


def kmeans_euclidean(
    points: DataFrame,
    k: int = 3,
    feature_cols: tuple[str, ...] = ("x", "y"),
    seed: int = 42,
    tol: float = 0.5,
    max_iter: int = 30,
    initial_centroids: list[list[float]] | None = None,
) -> KMeansResult:
    """Lloyd's algorithm, dense features, Euclidean metric
    (task2_1.java:315-360). Converged when every centroid moves ≤ ``tol``
    (Euclidean, task2_1.java:99-130). ``initial_centroids`` is the strict
    parity mode mirroring the reference's ``read_centroids`` file input
    (task2_1.java:59-97): a fixed starting model instead of the seeded
    random draw, making the whole run deterministic across engines."""
    feats = points.select(
        F.array(*[F.col(c).cast("double") for c in feature_cols]).alias("features")
    ).cache()

    if initial_centroids is not None:
        centroids = [list(c) for c in initial_centroids]
        k = len(centroids)
    else:
        # K3 random init: shuffle, take k (reference shuffles input lines)
        init_rows = feats.orderBy(F.rand(seed)).limit(k).collect()
        centroids = [list(r["features"]) for r in init_rows]

    history: list[float] = []
    it = 0
    for it in range(1, max_iter + 1):
        cluster, mindist = _dense_assign_expr(centroids, "features")
        assigned = feats.select("features", cluster.alias("cluster"), mindist.alias("d2"))
        agg = (
            assigned.groupBy("cluster")
            .agg(
                *[
                    F.avg(F.col("features")[i]).alias(f"m{i}")
                    for i in range(len(feature_cols))
                ],
                F.sum("d2").alias("loss"),
            )
            .collect()
        )
        new_centroids = list(centroids)
        loss = 0.0
        for r in agg:
            new_centroids[r["cluster"]] = [r[f"m{i}"] for i in range(len(feature_cols))]
            loss += r["loss"]
        history.append(loss)
        moves = [
            math.dist(old, new) for old, new in zip(centroids, new_centroids)
        ]
        centroids = new_centroids
        if max(moves) <= tol:
            break

    cluster, _ = _dense_assign_expr(centroids, "features")
    assignments = feats.select("features", cluster.alias("cluster"))
    return KMeansResult(centroids, assignments, history, it)


def kmeans_dense_centroids(
    points: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 2,
    round_dp: int = 6,
) -> list[list[float]]:
    """Deterministic dense Lloyd over an ARRAY column, returning only the
    fitted centroids — the sample→centroids stage that
    ``similarity.semantic_dedup_pipeline`` composes in front of the
    cluster-blocked pair join (the task2_3-style composition seam:
    individually-gated stages chained end-to-end).

    Gate-mode determinism, same rules as ``kmeans_cosine``'s fixed-init
    mode: init = the k smallest-``id_col`` rows (K3's
    read-centroids-from-input analog, task2_1.java:59-97), exactly
    ``max_iter`` iterations, squared distances and updated centroid
    coordinates rounded at ``round_dp`` so an oracle replays the run
    bit-for-bit. A cluster that loses all members keeps its previous
    centroid (the `_RECLUSTER_SELECT` pass-through rule).

    Scale shape: meant to run on a SAMPLE (k ~ sqrt(n) of the corpus, the
    SemDeDup sizing rule) — and because k GROWS with the corpus, the
    assign step is a broadcast JOIN against a (cluster, dim, val) centroid
    table, never per-centroid literal expressions (k × dim literals make
    Catalyst's expression tree — and codegen compile time — scale with k;
    at k=89 that alone cost tens of seconds). Per iteration: one
    broadcast-join assign with map-side partial aggregation (shuffles
    n_sample × k partial rows) + one groupBy mean over the exploded
    sample; only the k × dim centroid model crosses the driver boundary;
    the exploded input is computed once and cached.
    """
    spark = points.sparkSession
    pts = points.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    )
    ex = pts.select("__id", F.posexplode("__v").alias("dim", "val")).cache()
    init_rows = pts.orderBy("__id").limit(k).collect()
    centroids = [list(r["__v"]) for r in init_rows]
    if not centroids:
        raise ValueError("no points to initialize centroids from")
    for _ in range(max_iter):
        cent_df = _model_frame(
            spark,
            [(c, d, v) for c, cv in enumerate(centroids) for d, v in enumerate(cv)],
            "cluster int, dim int, cval double",
        )
        # squared distance per (point, cluster), rounded before the argmin
        # (first-min tie-break = lowest cluster id, matching the oracle's
        # ORDER BY d2, cluster)
        d2 = (
            ex.join(F.broadcast(cent_df), "dim")
            .groupBy("__id", "cluster")
            .agg(
                F.round(
                    F.sum((F.col("val") - F.col("cval")) * (F.col("val") - F.col("cval"))),
                    round_dp,
                ).alias("d2")
            )
        )
        w = Window.partitionBy("__id").orderBy(F.asc("d2"), F.asc("cluster"))
        assigned = (
            d2.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select("__id", "cluster")
        )
        means = (
            assigned.join(ex, "__id")
            .groupBy("cluster", "dim")
            .agg(F.round(F.avg("val"), round_dp).alias("m"))
            .collect()
        )
        new_centroids = [list(c) for c in centroids]
        for r in means:
            new_centroids[r["cluster"]][r["dim"]] = r["m"]
        # clusters absent from `means` (emptied) keep their previous centroid
        centroids = new_centroids
    ex.unpersist()
    return centroids


# ---------------------------------------------------------------- sparse


def _model_frame(spark, rows: list[tuple], schema: str) -> DataFrame:
    """A driver-held model table as a DataFrame, built through Arrow from a
    pandas frame: the JVM reads it as a local table scan. (``createDataFrame``
    on a Python list parallelizes a Python RDD instead, and every read of
    that frame starts Python-worker tasks.)"""
    columns = [field.split()[0] for field in schema.split(",")]
    return spark.createDataFrame(pd.DataFrame(rows, columns=columns), schema)


def _centroid_df(spark, centroids: list[dict[int, float]]) -> DataFrame:
    rows = [
        (cid, int(t), float(w)) for cid, c in enumerate(centroids) for t, w in c.items()
    ]
    return _model_frame(spark, rows, "cluster int, term_id int, cw double")


def _norm2(c: dict[int, float]) -> float:
    return sum(w * w for w in c.values())


def _norm(c: dict[int, float]) -> float:
    return math.sqrt(_norm2(c))


def _cos_dict(a: dict[int, float], b: dict[int, float]) -> float:
    na, nb = _norm(a), _norm(b)
    if na == 0.0 or nb == 0.0:
        return 0.0
    dot = sum(w * b.get(t, 0.0) for t, w in a.items())
    return dot / (na * nb)


def _sparse_assign(
    docs: DataFrame, centroids: list[dict[int, float]], round_dp: int | None
) -> DataFrame:
    """``docs`` (doc_id, vec, dnorm) plus (cluster, cos): argmax cosine via
    exploded broadcast join (task2_2.java:261-282). Ties go to the lowest
    cluster id. Docs sharing no term with any centroid get cos 0 and fall
    back to cluster 0 — matching the reference's 'first max wins' over an
    all-zeros score row (task2_2.java:276-279). The whole model is
    broadcast; its k norms ride along as literals."""
    cnorm = F.array(*[F.lit(_norm(c)) for c in centroids])[F.col("cluster")]
    dots = (
        docs.select("doc_id", "dnorm", F.explode("vec").alias("term_id", "dw"))
        .join(F.broadcast(_centroid_df(docs.sparkSession, centroids)), "term_id")
        .groupBy("doc_id", "dnorm", "cluster")
        .agg(F.sum(F.col("dw") * F.col("cw")).alias("dot"))
    )
    cos = F.when((F.col("dnorm") == 0.0) | (cnorm == 0.0), F.lit(0.0)).otherwise(
        F.col("dot") / (F.col("dnorm") * cnorm)
    )
    if round_dp is not None:
        cos = F.round(cos, round_dp)
    # min of (-cos, cluster) = max cosine, lowest cluster id on ties
    best = (
        dots.groupBy("doc_id")
        .agg(F.min(F.struct((-cos).alias("neg_cos"), "cluster")).alias("b"))
        .select("doc_id", "b.cluster", (-F.col("b.neg_cos")).alias("cos"))
    )
    return docs.join(best, "doc_id", "left").fillna({"cluster": 0, "cos": 0.0})


def kmeans_cosine(
    vectors: DataFrame,
    k: int = 5,
    seed: int = 42,
    theta: float = 0.98,
    max_iter: int = 30,
    round_dp: int | None = None,
    top_n_terms: int = 10,
    initial_centroids: list[dict[int, float]] | None = None,
    compute_loss: bool = True,
    centroid_round_dp: int | None = None,
) -> KMeansResult:
    """Sparse cosine K-Means over (doc_id, vec map<int,double>)
    (task2_2.java:558-604). Stops when cos(old, new) ≥ theta for every
    centroid. Also computes per-cluster top-``top_n_terms`` terms by summed
    weight and, when ``compute_loss``, the WCSS loss against the NEW
    centroids, like the reference's update job (task2_2.java:294-356).
    ``centroid_round_dp`` quantizes updated centroid weights after each
    mean — the cross-engine determinism mode the driver gate uses (a SQL
    oracle re-running the same fixed-init iterations reproduces the
    rounded model exactly; unrounded sums differ across engines by
    summation order).

    The centroid model is held on the driver between iterations. That is
    no less scalable than keeping it executor-side: every assign step
    broadcasts the whole model anyway. Each iteration is one assign plus
    one update aggregation, and its only driver round-trip is one collect
    of the new model's (cluster, term_id, Σw, centroid weight) rows plus k
    cluster sizes; empty-cluster carry-forward, convergence, the loss and
    the top terms are computed from those on the driver. Lineage stays one
    iteration deep because each iteration's plan starts from the cached
    docs and a fresh model table."""
    # hash-partitioned on doc_id once, so the assign step's per-doc
    # aggregations and its docs ⋈ argmax join need no shuffle
    docs = (
        vectors.select(
            "doc_id",
            "vec",
            F.sqrt(
                F.aggregate(F.map_values("vec"), F.lit(0.0), lambda a, v: a + v * v)
            ).alias("dnorm"),
        )
        .repartition("doc_id")
        .cache()
    )

    if initial_centroids is None:
        init = docs.orderBy(F.rand(seed)).limit(k).collect()
        centroids = [dict(r["vec"]) for r in init]
    else:
        centroids = [dict(c) for c in initial_centroids]
        k = len(centroids)

    history: list[float] = []
    terms: dict[int, list[tuple[int, float, float]]] = {}
    it = 0
    for it in range(1, max_iter + 1):
        assigned = _sparse_assign(docs, centroids, round_dp)
        # K6 update: mean over cluster members (implicit zeros via /size).
        # Each member contributes its (term_id, w) entries plus one
        # (null, ‖d‖²) entry, so one aggregation yields Σw per (cluster,
        # term) and, on the null-term row, the cluster's size and Σ‖d‖².
        entries = F.concat(
            F.transform(
                F.map_entries("vec"),
                lambda e: F.struct(e["key"].alias("term_id"), e["value"].alias("w")),
            ),
            F.array(
                F.struct(
                    F.lit(None).cast("int").alias("term_id"),
                    (F.col("dnorm") * F.col("dnorm")).alias("w"),
                )
            ),
        )
        weight = F.col("w")
        if centroid_round_dp is not None:
            # exact decimal sums: a mean landing exactly on a rounding
            # midpoint then rounds half-up whatever the summation order
            weight = weight.cast("decimal(38,18)")
        sums = (
            assigned.select("cluster", F.inline(entries))
            .groupBy("cluster", "term_id")
            .agg(F.sum(weight).alias("sw"), F.count("*").alias("n"))
        )
        size = F.max(F.when(F.col("term_id").isNull(), F.col("n"))).over(
            Window.partitionBy("cluster")
        )
        cw = F.col("sw") / size
        if centroid_round_dp is not None:
            cw = F.round(cw, centroid_round_dp)
        rows = sums.select(
            "cluster",
            "term_id",
            "n",
            F.col("sw").cast("double").alias("sw"),
            cw.cast("double").alias("cw"),
        ).collect()

        members = {
            r["cluster"]: (r["n"], r["sw"]) for r in rows if r["term_id"] is None
        }
        terms = {}
        # term order fixed so the driver-side norms sum in a fixed order
        for r in sorted(
            (r for r in rows if r["term_id"] is not None),
            key=lambda r: (r["cluster"], r["term_id"]),
        ):
            terms.setdefault(r["cluster"], []).append((r["term_id"], r["sw"], r["cw"]))
        # a cluster without term rows (no members, or only empty-vector
        # members) keeps its old centroid
        new_centroids = [
            {t: w for t, _, w in terms[cid]} if cid in terms else centroids[cid]
            for cid in range(k)
        ]
        # an empty centroid scores cos 0 against itself: it never converges
        converged = all(
            _cos_dict(o, n) >= theta for o, n in zip(centroids, new_centroids)
        )
        if compute_loss:
            # WCSS vs NEW centroids, Σ_d ‖d‖² + ‖c‖² − 2·d·c
            # (task2_2.java:348-355), summed per cluster: Σ_{d∈c} d·c is
            # Σ_t cw_t·Σw_t over the cluster's term rows
            history.append(
                sum(
                    dn2
                    + size * _norm2(new_centroids[cid])
                    - 2 * sum(sw * w for _, sw, w in terms.get(cid, ()))
                    for cid, (size, dn2) in members.items()
                )
            )
        centroids = new_centroids
        if converged:
            break

    # per-cluster top terms by SUMMED weight (task2_2.java:319-331), from
    # the last iteration's sums
    top_terms = [
        [
            (t, sw)
            for t, sw, _ in sorted(terms.get(cid, ()), key=lambda x: (-x[1], x[0]))
        ][:top_n_terms]
        for cid in range(k)
    ]

    # Final re-assignment against the RETURNED centroids so the result is
    # internally consistent (the loop assigned against the pre-update set;
    # kmeans_euclidean does the same post-loop re-assign).
    assigned = _sparse_assign(docs, centroids, round_dp).select(
        "doc_id", "cluster", "cos"
    )
    docs.unpersist()
    return KMeansResult(centroids, assigned, history, it, top_terms)


# ---------------------------------------------------------------- kmeans||


def _sq_dist_to_set(docs: DataFrame, cent_df: DataFrame, norm2: list[float]) -> DataFrame:
    """Per doc: min squared Euclidean distance to the candidate set
    (CostMapper, task2_3.java:204-233), closed form over the exploded join.

    ``min_sq`` only covers candidates the doc shares a term with; a
    non-overlapping candidate's distance is exactly ‖d‖² + ‖c‖², so the
    floor over those is ‖d‖² + min ‖c‖². Taking ``least(min_sq, floor)``
    is EXACT (not a bound) because weights are non-negative (dot ≥ 0):
    if the global-min-norm candidate overlaps, its true distance is ≤ the
    floor and already inside min_sq, so the floor never wins wrongly."""
    dots = (
        docs.select("doc_id", "dnorm", F.explode("vec").alias("term_id", "dw"))
        .join(F.broadcast(cent_df), "term_id")
        .groupBy("doc_id", "dnorm", "cluster")
        .agg(F.sum(F.col("dw") * F.col("cw")).alias("dot"))
    )
    cn2 = F.array(*[F.lit(v) for v in norm2])[F.col("cluster")]
    per = dots.select(
        "doc_id",
        (F.col("dnorm") ** 2 + cn2 - 2 * F.col("dot")).alias("sq"),
    ).groupBy("doc_id").agg(F.min("sq").alias("min_sq"))
    min_c = min(norm2) if norm2 else 0.0
    return (
        docs.select("doc_id", (F.col("dnorm") ** 2 + F.lit(min_c)).alias("floor"))
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.least(
                F.coalesce("min_sq", F.lit(float("inf"))), F.col("floor")
            ).alias("d2"),
        )
    )


def kmeans_parallel_init(
    vectors: DataFrame,
    k: int = 5,
    oversample: int | None = None,
    seed: int = 42,
    sampling: str = "top_l",
    max_rounds: int | None = None,
    initial_candidates: list[dict[int, float]] | None = None,
    round_dp: int | None = None,
) -> tuple[list[dict[int, float]], DataFrame]:
    """K-Means|| initialization (Bahmani et al., VLDB 2012; reference
    task2_3.java:1235-1341): returns (candidate centroids, weights DF).

    sampling="top_l" mirrors reference quirk Q7 (deterministic top-l by
    p = l·d²/cost); "bernoulli" is the paper's randomized draw.
    ``initial_candidates`` replaces the seeded random first draw with a
    fixed starting set (the driver gate passes the min-doc_id vector so a
    SQL oracle can reproduce the run); ``round_dp`` rounds the cosine in
    the K9 weight assignment (cross-engine argmax determinism).
    Candidates are appended in (p desc, doc_id asc) draw order, so
    candidate/cluster ids are deterministic.
    """
    spark = vectors.sparkSession
    l = oversample or 2 * k
    docs = vectors.select(
        "doc_id",
        "vec",
        F.sqrt(
            F.aggregate(F.map_values("vec"), F.lit(0.0), lambda a, v: a + v * v)
        ).alias("dnorm"),
    ).cache()

    if initial_candidates is not None:
        candidates = [dict(c) for c in initial_candidates]
    else:
        first = docs.orderBy(F.rand(seed)).limit(1).collect()[0]
        candidates = [dict(first["vec"])]

    def cost() -> float:
        cent_df = _centroid_df(spark, candidates)
        n2 = [sum(w * w for w in c.values()) for c in candidates]
        return _sq_dist_to_set(docs, cent_df, n2).agg(F.sum("d2")).collect()[0][0]

    c0 = cost()
    rounds = max_rounds if max_rounds is not None else max(1, math.ceil(math.log(max(c0, math.e))))
    for rnd in range(rounds):
        cent_df = _centroid_df(spark, candidates)
        n2 = [sum(w * w for w in c.values()) for c in candidates]
        d2 = _sq_dist_to_set(docs, cent_df, n2)
        total = d2.agg(F.sum("d2")).collect()[0][0]
        if not total:
            break
        probs = d2.withColumn("p", F.lit(float(l)) * F.col("d2") / F.lit(total))
        if sampling == "top_l":
            drawn = probs.orderBy(F.desc("p"), F.asc("doc_id")).limit(l)
        else:
            drawn = probs.where(F.rand(seed + rnd) < F.col("p"))
        # join the vectors in and collect in (p desc, doc_id) order so the
        # candidate list — and every downstream cluster id — is
        # deterministic (a bare isin-filter collect returns partition order)
        new_rows = (
            drawn.join(docs.select("doc_id", "vec"), "doc_id")
            .orderBy(F.desc("p"), F.asc("doc_id"))
            .collect()
        )
        if not new_rows:
            continue
        seen = {tuple(sorted(c.items())) for c in candidates}
        for r in new_rows:
            key = tuple(sorted(dict(r["vec"]).items()))
            if key not in seen:
                seen.add(key)
                candidates.append(dict(r["vec"]))

    # K9 weighting: every doc to nearest candidate by COSINE (task2_3:485-537)
    weights = (
        _sparse_assign(docs, candidates, round_dp)
        .groupBy("cluster")
        .agg(F.count("*").alias("weight"))
    )
    return candidates, weights


def weighted_recluster_step(
    candidates: DataFrame,
    weights: DataFrame,
    k: int,
    round_dp: int | None = None,
) -> DataFrame:
    """K10 weighted recluster of the K-Means|| candidate set, fully
    declarative (task2_3.java:675-762): one assign + weighted-mean update
    step over candidates held as (cluster, term_id, cw) rows with
    per-candidate weights (cluster, weight).

    ``kmeans_scalable``'s driver-local loop is the right call at the
    reference's ~l·rounds candidate count (~30 vectors); this form keeps
    the identical math distributed for candidate sets that outgrow the
    driver (large oversampling l × many rounds). Initial recluster
    centroids are candidates 0..k-1; each candidate goes to its nearest
    centroid by cosine (argmax, centroid-asc tie-break, zero-overlap → 0),
    then each centroid becomes the weighted mean of its members
    Σ w_c·x_c / Σ w_c with absent terms contributing zero. Candidates
    missing from ``weights`` count as weight 1 (the reference's default
    for a candidate that captured no points). Centroids with no members
    keep their previous vector. Returns (cluster, term_id, cw)."""
    cents = candidates.where(F.col("cluster") < k).select(
        F.col("cluster").alias("rk"), "term_id", F.col("cw").alias("rw")
    )
    norms_c = candidates.groupBy("cluster").agg(
        F.sqrt(F.sum(F.col("cw") * F.col("cw"))).alias("cnorm")
    )
    norms_r = cents.groupBy("rk").agg(
        F.sqrt(F.sum(F.col("rw") * F.col("rw"))).alias("rnorm")
    )
    dots = (
        candidates.join(cents, "term_id")
        .groupBy("cluster", "rk")
        .agg(F.sum(F.col("cw") * F.col("rw")).alias("dot"))
    )
    cos_expr = F.when(
        (F.col("cnorm") == 0.0) | (F.col("rnorm") == 0.0), F.lit(0.0)
    ).otherwise(F.col("dot") / (F.col("cnorm") * F.col("rnorm")))
    if round_dp is not None:
        cos_expr = F.round(cos_expr, round_dp)
    scored = (
        dots.join(norms_c, "cluster")
        .join(F.broadcast(norms_r), "rk")
        .select("cluster", "rk", cos_expr.alias("cos"))
    )
    w = Window.partitionBy("cluster").orderBy(F.desc("cos"), F.asc("rk"))
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("cluster", "rk")
    )
    asg = (
        candidates.select("cluster")
        .distinct()
        .join(best, "cluster", "left")
        .fillna({"rk": 0})
        .join(weights, "cluster", "left")
        .fillna({"weight": 1})
    )
    denom = asg.groupBy("rk").agg(F.sum("weight").alias("wsum"))
    num = (
        candidates.join(asg, "cluster")
        .groupBy("rk", "term_id")
        .agg(F.sum(F.col("weight") * F.col("cw")).alias("num"))
    )
    upd_cw = F.col("num") / F.col("wsum")
    if round_dp is not None:
        upd_cw = F.round(upd_cw, round_dp)
    upd = num.join(F.broadcast(denom), "rk").select(
        F.col("rk").alias("cluster"), "term_id", upd_cw.alias("cw")
    )
    kept = cents.join(
        asg.select("rk").distinct(), "rk", "left_anti"
    ).select(F.col("rk").alias("cluster"), "term_id", F.col("rw").alias("cw"))
    return upd.unionByName(kept)


def kmeans_scalable(
    vectors: DataFrame,
    k: int = 5,
    seed: int = 42,
    theta_recluster: float = 0.8,
    theta_final: float = 0.9,
    max_iter: int = 30,
    sampling: str = "top_l",
    max_rounds: int | None = None,
) -> KMeansResult:
    """Full task2_3 pipeline: K-Means|| init → weighted recluster of the
    candidate set → final cosine K-Means on the corpus."""
    candidates, weights = kmeans_parallel_init(
        vectors, k, seed=seed, sampling=sampling, max_rounds=max_rounds
    )
    wmap = {r["cluster"]: r["weight"] for r in weights.collect()}

    # K10 weighted recluster of the (tiny) candidate set — driver-local math,
    # mirroring the reference's dedicated MR jobs on a ~30-row file.
    import random

    rng = random.Random(seed)
    idx = list(range(len(candidates)))
    rng.shuffle(idx)
    cents = [dict(candidates[i]) for i in idx[:k]]
    for _ in range(max_iter):
        groups: dict[int, list[int]] = {}
        for ci, cand in enumerate(candidates):
            best, best_cos = 0, -1.0
            for ki, cent in enumerate(cents):
                cv = _cos_dict(cand, cent)
                if cv > best_cos:
                    best, best_cos = ki, cv
            groups.setdefault(best, []).append(ci)
        new_cents: list[dict[int, float]] = []
        for ki in range(k):
            members = groups.get(ki, [])
            if not members:
                new_cents.append(cents[ki])
                continue
            tot_w = sum(wmap.get(ci, 1) for ci in members)
            acc: dict[int, float] = {}
            for ci in members:
                w = wmap.get(ci, 1)
                for t, v in candidates[ci].items():
                    acc[t] = acc.get(t, 0.0) + w * v
            new_cents.append({t: v / tot_w for t, v in acc.items()})
        converged = all(
            _cos_dict(o, n) >= theta_recluster for o, n in zip(cents, new_cents)
        )
        cents = new_cents
        if converged:
            break

    # K11 final pass over the full corpus
    return kmeans_cosine(
        vectors,
        k=k,
        seed=seed,
        theta=theta_final,
        max_iter=max_iter,
        initial_centroids=cents,
    )
