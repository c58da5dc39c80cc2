"""Similarity search over embedding columns (array<float>).

- ``cosine_topk`` — exact brute-force top-k: queries × corpus with all the
  math in built-in higher-order functions. The corpus side streams; the
  (small) query side broadcasts; ranking is a per-query window. This is
  the correctness baseline and is already the right plan when |queries| is
  small (the common "probe" shape).
- ``embedding_dup_pairs`` — near-duplicate pairs by cosine ≥ threshold,
  LSH-blocked with random-hyperplane sign bits so the self-join never goes
  n²: docs meet only when they share a hyperplane-sign prefix.
- ``ivf_topk`` — IVF-style scale path: k-means coarse centroids (trained
  via operators.kmeans), each vector assigned to its nearest centroid
  (inverted lists); queries probe only the ``nprobe`` nearest lists. At
  100 TB the probe join is partition-pruned by centroid id instead of
  scanning the full corpus.

Hyperplanes for LSH are deterministic pseudo-random (seeded hash of
(plane, dim)) so results are reproducible with no driver-side RNG state.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bigdata_lab02_spark.functions.vectors import (
    array_cosine,
    array_dot,
    array_norm,
    as_double_array,
)
from bigdata_lab02_spark.sources.sinks import journaled, require_committed


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for every query vector.

    Output: (query_id, neighbor_id, cosine) with neighbor != query,
    deterministic rank tiebreak on neighbor id.
    """
    query_id_col = query_id_col or id_col
    # Norms are computed once per side (once per query row, once per corpus
    # row) and carried into the scoring projection — not re-derived per
    # (query, corpus) pair as a naive array_cosine per pair would. Same
    # doubles (norm is a pure function of the vector), so ranks and the
    # oracle comparison are unchanged.
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        as_double_array(F.col(vec_col)).alias("qv"),
    ).withColumn("qn", array_norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double_array(F.col(vec_col)).alias("cv"),
    ).withColumn("cn", array_norm(F.col("cv")))
    denom = F.col("qn") * F.col("cn")
    cos = F.when(denom == 0.0, F.lit(0.0)).otherwise(
        array_dot(F.col("qv"), F.col("cv")) / denom
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )


def _hyperplane(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random unit-ish hyperplane: component j is a
    signed value derived from a hash of (plane, j). Stateless, portable."""
    import hashlib

    comps = []
    for j in range(dim):
        h = int(hashlib.md5(f"{plane}:{j}".encode()).hexdigest()[:8], 16)
        comps.append((h / 0x7FFFFFFF) - 1.0)
    return comps


def hyperplane_buckets(
    vectors: DataFrame,
    dim: int,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    table: int = 0,
) -> DataFrame:
    """(id, bucket): bucket = bit-string of sign(v·h_p) over n_planes
    deterministic hyperplanes. Cosine-close vectors collide with high
    probability (random-hyperplane LSH). ``table`` offsets the plane seeds
    so multiple independent hash tables can be built (LSH amplification:
    candidates = union over tables)."""
    v = as_double_array(F.col(vec_col))
    bits = []
    for p in range(n_planes):
        plane = F.array(*[F.lit(c) for c in _hyperplane(dim, table * n_planes + p)])
        dot = F.aggregate(
            F.zip_with(v, plane, lambda x, h: x * h),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0")))
    return vectors.select(
        F.col(id_col), F.concat(*bits).alias("bucket")
    )


def _banded_tables(
    df: DataFrame,
    dim: int,
    n_planes: int,
    n_tables: int,
    id_col: str,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Multi-table hyperplane sign-bucket rows over the ``v`` array<double>
    column: (id, *carry, t, bucket) with one row per (vector, table). The
    single shared implementation behind ``embedding_dup_pairs`` and
    ``lsh_topk`` — the AND-of-planes / OR-of-tables banding must stay
    bit-identical between the pair path and the top-k path (ann_recall's
    oracle inlines the same planes)."""
    entries = []
    for t in range(n_tables):
        bits = []
        for p in range(n_planes):
            plane = F.array(
                *[F.lit(c) for c in _hyperplane(dim, t * n_planes + p)]
            )
            dot = F.aggregate(
                F.zip_with(F.col("v"), plane, lambda x, h: x * h),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            bits.append(F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0")))
        entries.append(
            F.struct(F.lit(t).alias("t"), F.concat(*bits).alias("bucket"))
        )
    return df.select(
        F.col(id_col), *carry, F.explode(F.array(*entries)).alias("tb")
    ).select(
        id_col,
        *carry,
        F.col("tb.t").alias("t"),
        F.col("tb.bucket").alias("bucket"),
    )


def embedding_dup_pairs(
    vectors: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by cosine ≥ threshold, hyperplane-LSH-blocked
    so the self-join runs inside buckets instead of n².

    ``n_tables`` independent hash tables trade shuffle volume for recall
    (a pair is a candidate if it collides in ANY table — the classic
    AND-of-planes / OR-of-tables amplification). All tables are computed
    in one pass (explode over (table, bucket)), the self-join key is
    (table, bucket), and candidates are deduped on the id pair before the
    exact cosine verification — each surviving pair is verified once.
    ``round_dp`` rounds the cosine BEFORE the threshold test (cross-engine
    determinism at the threshold boundary — the oracle does the same).

    Both fan-out frames are PINNED (r13, the re-inlining class): the
    bucket table feeds BOTH sides of the self-join and the
    norm-carrying vector table feeds both verify joins — unpinned, the
    compiled plan re-ran the n_tables·n_planes hyperplane dots and the
    norm folds once per consumer (measured: 29% faster warm, 3× cold
    at sf0.1 with the pins). At persisted-corpus scale the verify side
    reads an id-keyed vector layout instead."""
    v = vectors.select(F.col(id_col), as_double_array(F.col(vec_col)).alias("v"))
    banded = _banded_tables(v, dim, n_planes, n_tables, id_col).localCheckpoint()
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    # Verify with norms precomputed ONCE per vector and carried through the
    # join — per-candidate work is a single dot fold instead of the three
    # folds array_cosine would run per pair. Same expression values
    # (norm(x) is a pure function of the vector), so results are
    # bit-identical to the naive form and the oracle is unchanged.
    vn = v.withColumn("nrm", array_norm(F.col("v"))).localCheckpoint()
    va = vn.withColumnsRenamed({id_col: "id_a", "v": "va", "nrm": "na"})
    vb = vn.withColumnsRenamed({id_col: "id_b", "v": "vb", "nrm": "nb"})
    denom = F.col("na") * F.col("nb")
    cos = F.when(denom == 0.0, F.lit(0.0)).otherwise(
        array_dot(F.col("va"), F.col("vb")) / denom
    )
    if round_dp is not None:
        cos = F.round(cos, round_dp)
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", cos.alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k by hyperplane LSH: a corpus vector is a candidate
    for a query iff they share a (table, sign-bucket) cell in ANY of the
    ``n_tables`` hash tables (the same AND-of-planes / OR-of-tables
    amplification as ``embedding_dup_pairs``, aimed at the query-topk
    shape instead of the all-pairs shape); candidates are ranked by exact
    cosine. Queries with sparse buckets may return fewer than ``k`` rows —
    that recall loss is the accuracy/cost trade, and ``ann_recall`` (the
    quality gate) measures it against the exact baseline.

    Scale shape: the corpus is bucketed once (narrow projection — the
    banded explode is ×n_tables, a constant); the query side's banded
    table is small by the probe contract and broadcasts into the bucket
    join, so the corpus never shuffles; the only data-sized exchange is
    the per-query top-k over candidates."""
    v = lambda df: df.select(  # noqa: E731
        F.col(id_col), as_double_array(F.col(vec_col)).alias("v")
    ).withColumn("nrm", array_norm(F.col("v")))

    def banded(df: DataFrame) -> DataFrame:
        return _banded_tables(
            df, dim, n_planes, n_tables, id_col, carry=("v", "nrm")
        )

    c = banded(v(corpus)).withColumnsRenamed({id_col: "neighbor_id"})
    q = banded(v(queries)).withColumnsRenamed(
        {id_col: "query_id", "v": "qv", "nrm": "qn"}
    )
    denom = F.col("qn") * F.col("nrm")
    cos = F.when(denom == 0.0, F.lit(0.0)).otherwise(
        array_dot(F.col("qv"), F.col("v")) / denom
    )
    cand = (
        c.join(F.broadcast(q), ["t", "bucket"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
        .distinct()  # a pair colliding in several tables scores once
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "cluster_id",
    centroid_vec_col: str = "centroid",
) -> DataFrame:
    """IVF approximate top-k: assign corpus vectors to their nearest coarse
    centroid once (inverted lists), then each query scans only its
    ``nprobe`` nearest lists. ``centroids`` typically comes from
    operators.kmeans on a sample.

    Plan shape (replanned round 6 — was 4 exchanges, now 1): the centroid
    table collapses to ONE broadcast row holding a cid-sorted
    array<struct(cid, cvec, norm)> (an aggregation, never a driver
    collect, and the per-row code is constant-size regardless of nlist —
    the k-literal codegen cliff the kmeans fit hit in r4 cannot recur).
    Nearest-list assignment and query probing are then per-row ARRAY
    expressions (score every centroid with a transform, comparator-sort
    the (cos, cid) structs, slice 1 or nprobe) — no row_number window, so
    the corpus never shuffles for assignment. The probe side (queries ×
    nprobe rows — small by the IVF contract) broadcasts into the list
    join, so the corpus ALSO never shuffles for probing; the only
    exchange left is the final per-query top-k over matched candidates.
    Tie-breaks (equal cosine → lowest cid / neighbor_id) match the
    window formulation exactly, so oracle parity is unchanged."""
    cent_arr = _ivf_cent_array(centroids, centroid_id_col, centroid_vec_col)
    c = _ivf_vecs(corpus, id_col, vec_col)
    q = _ivf_vecs(queries, id_col, vec_col)
    lists = _ivf_top_lists(c, cent_arr, 1, id_col).withColumnsRenamed(
        {id_col: "neighbor_id"}
    )
    probes = _ivf_top_lists(q, cent_arr, nprobe, id_col).withColumnsRenamed(
        {id_col: "query_id", "v": "qv", "nrm": "qn"}
    )
    return _ivf_rank_topk(lists, probes, k)


def _ivf_cent_array(
    centroids: DataFrame, centroid_id_col: str, centroid_vec_col: str
) -> DataFrame:
    """ONE-row DataFrame holding the cid-sorted array<struct(cid, cvec,
    norm)> — an aggregation, never a driver collect; constant-size
    per-row code regardless of nlist.

    r8 note (VERDICT r7 item 4, measured): collapsing this build into
    a driver-collected LOCAL relation was tried and is SLOWER (7 jobs
    / 1.94 s vs 6 jobs / 1.74 s warm at sf0.1) — Spark's ReuseExchange
    already dedupes the two broadcasts of this one-row aggregate
    within the final plan, so the eager collect only ADDS a job plus
    LocalTableScan serialization. Details in BENCHNOTES.md r8."""
    cents = centroids.select(
        F.col(centroid_id_col).alias("cid"),
        as_double_array(F.col(centroid_vec_col)).alias("cvec"),
    ).withColumn("cvn", array_norm(F.col("cvec")))
    return cents.agg(
        F.array_sort(F.collect_list(F.struct("cid", "cvec", "cvn"))).alias(
            "__cents"
        )
    )


def _ivf_vecs(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return df.select(
        F.col(id_col), as_double_array(F.col(vec_col)).alias("v")
    ).withColumn("nrm", array_norm(F.col("v")))


# comparator: cos DESC, cid ASC — <, > on doubles so an (impossible
# today, but cheap to guard) -0.0/0.0 pair ties instead of ordering
def _ivf_by_cos_desc(l, r):
    return (
        F.when(l["cos"] > r["cos"], F.lit(-1))
        .when(l["cos"] < r["cos"], F.lit(1))
        .when(l["cid"] < r["cid"], F.lit(-1))
        .when(l["cid"] > r["cid"], F.lit(1))
        .otherwise(F.lit(0))
    )


def _ivf_top_lists(
    df: DataFrame, cent_arr: DataFrame, n: int, id_col: str
) -> DataFrame:
    """(id, list_id, v, nrm): each row of ``df`` (shaped by _ivf_vecs)
    mapped to its ``n`` nearest centroid lists via per-row ARRAY
    expressions over the broadcast one-row centroid array — no window,
    no data-sized shuffle."""
    denom = lambda c: F.col("nrm") * c["cvn"]  # noqa: E731
    scored = F.transform(
        F.col("__cents"),
        lambda c: F.struct(
            F.when(denom(c) == 0.0, F.lit(0.0))
            .otherwise(array_dot(F.col("v"), c["cvec"]) / denom(c))
            .alias("cos"),
            c["cid"].alias("cid"),
        ),
    )
    if n == 1:
        # corpus assignment: O(nlist) argmax FOLD instead of the
        # O(nlist log nlist) comparator sort (VERDICT r6 watch item).
        # Seeded with element 1 so the centroid-id type is preserved
        # exactly; same (cos DESC, cid ASC) tie rule as the sort.
        best = F.aggregate(
            F.slice(scored, 2, F.greatest(F.size(scored) - 1, F.lit(0))),
            F.element_at(scored, 1),
            lambda acc, x: F.when(
                (x["cos"] > acc["cos"])
                | ((x["cos"] == acc["cos"]) & (x["cid"] < acc["cid"])),
                x,
            ).otherwise(acc),
        )
        top = F.when(F.size(scored) > 0, F.array(best)).otherwise(
            F.slice(scored, 1, 0)  # correctly-typed empty array
        )
    else:
        top = F.slice(F.array_sort(scored, _ivf_by_cos_desc), 1, n)
    return (
        df.crossJoin(F.broadcast(cent_arr))
        .select(F.col(id_col), F.explode(top).alias("__e"), "v", "nrm")
        .select(F.col(id_col), F.col("__e.cid").alias("list_id"), "v", "nrm")
    )


def _ivf_rank_topk(lists: DataFrame, probes: DataFrame, k: int) -> DataFrame:
    """Probe join + per-query top-k: probes broadcast into the list
    join (the corpus never shuffles); the only data-sized exchange is
    the final per-query rank."""
    pair_denom = F.col("qn") * F.col("nrm")
    cos = F.when(pair_denom == 0.0, F.lit(0.0)).otherwise(
        array_dot(F.col("qv"), F.col("v")) / pair_denom
    )
    scored = (
        lists.join(F.broadcast(probes), "list_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )


def ivf_corpus_lists(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "cluster_id",
    centroid_vec_col: str = "centroid",
) -> DataFrame:
    """(id, list_id, v, nrm) — the corpus inverted-list assignment, the
    once-per-corpus-version artifact of the persisted-IVF workflow."""
    cent_arr = _ivf_cent_array(centroids, centroid_id_col, centroid_vec_col)
    return _ivf_top_lists(_ivf_vecs(corpus, id_col, vec_col), cent_arr, 1, id_col)


def persist_ivf_lists(
    corpus: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "cluster_id",
    centroid_vec_col: str = "centroid",
) -> None:
    """Assign the corpus to inverted lists ONCE and persist parquet
    PARTITIONED BY list_id (r8). Companion of ``ivf_topk_persisted``:
    at 100 TB the per-row centroid argmax over the whole corpus is the
    dominant repeated cost, and the hive layout turns each later probe
    into a directory-pruned scan of only the probed lists — the scan
    reads ~nprobe/nlist of the corpus, asserted at the plan level in
    tests/test_dedup_similarity.py."""
    ivf_corpus_lists(
        corpus, centroids, id_col, vec_col, centroid_id_col, centroid_vec_col
    ).write.mode("overwrite").partitionBy("list_id").parquet(path)


def ivf_topk_persisted(
    spark,
    path: str,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    centroid_id_col: str = "cluster_id",
    centroid_vec_col: str = "centroid",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k over a ``persist_ivf_lists`` layout: queries pick their
    ``nprobe`` lists, the DISTINCT probed list ids come to the driver
    (≤ |queries|·nprobe values — small by the probe contract, the
    kmeans model-state pattern), and the corpus scan is filtered with
    ``list_id IN (...)`` so hive partition pruning reads ONLY the
    probed list directories. Results are identical to ``ivf_topk`` over
    the same corpus/centroids (equivalence-tested); ``centroids`` must
    be the table the layout was built with."""
    cent_arr = _ivf_cent_array(centroids, centroid_id_col, centroid_vec_col)
    q = _ivf_vecs(queries, id_col, vec_col)
    probes = _ivf_top_lists(q, cent_arr, nprobe, id_col).withColumnsRenamed(
        {id_col: "query_id", "v": "qv", "nrm": "qn"}
    )
    probe_ids = sorted(
        r["list_id"] for r in probes.select("list_id").distinct().collect()
    )
    lists = (
        spark.read.parquet(path)
        .where(F.col("list_id").isin(probe_ids))
        .withColumnsRenamed({id_col: "neighbor_id"})
    )
    return _ivf_rank_topk(lists, probes, k)


def _semantic_assign(
    c: DataFrame,
    cents: DataFrame,
    id_col: str,
    cid_type: str,
    round_dp: int,
) -> DataFrame:
    """Nearest-centroid cosine assignment over prepared frames
    ``c = (id, v, nrm)`` and ``cents = (cid, cvec, cvn)`` — factored
    out of ``semantic_dedup`` in r14 so the incremental face assigns a
    shard with bit-identical semantics.

    Assignment replanned round 6 (the ivf_topk shape): the centroid
    table collapses to ONE broadcast cid-sorted array row and argmax is
    a per-row fold — no row_number window, so the corpus never shuffles
    for assignment (previously the query's biggest exchange: corpus × k
    rows keyed by id). Strictly-greater keeps the earliest cid over the
    cid-sorted array, and the cosine is rounded at round_dp BEFORE the
    comparison — both exactly the window formulation's tie semantics,
    so oracle parity is unchanged. Per-row code is constant-size in k
    (the fold is over an array column, never k unrolled expressions —
    the r4 codegen-cliff lesson)."""
    cent_arr = cents.agg(
        F.array_sort(F.collect_list(F.struct("cid", "cvec", "cvn"))).alias(
            "__cents"
        )
    )

    def _best(acc, cnt):
        denom = F.col("nrm") * cnt["cvn"]
        cosv = F.round(
            F.when(denom == 0.0, F.lit(0.0)).otherwise(
                array_dot(F.col("v"), cnt["cvec"]) / denom
            ),
            round_dp,
        )
        return F.when(
            cosv > acc["cos"],
            F.struct(cosv.alias("cos"), cnt["cid"].alias("cid")),
        ).otherwise(acc)

    best = F.aggregate(
        F.col("__cents"),
        F.struct(
            F.lit(-2.0).alias("cos"), F.lit(None).cast(cid_type).alias("cid")
        ),
        _best,
    )
    return (
        c.crossJoin(F.broadcast(cent_arr))
        .select(F.col(id_col), best["cid"].alias("cluster_id"), "v", "nrm")
        .where(F.col("cluster_id").isNotNull())  # empty-centroid guard
    )


def semantic_dedup(
    vectors: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "cluster_id",
    centroid_vec_col: str = "centroid",
    round_dp: int = 6,
    broadcast_dups: bool = False,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): assign every embedding to its nearest coarse
    centroid, then compare pairs ONLY within a cluster — the clustering is
    what keeps the pair join subquadratic (global all-pairs never happens;
    the join key is cluster_id). A vector is a duplicate if some
    LOWER-id member of its cluster has cosine ≥ threshold with it
    (keep-lowest survivor rule — deterministic, no transitive closure).

    ``centroids`` typically comes from operators.kmeans on a sample (same
    seam as ivf_topk); at 100 TB pick k ~ sqrt(n) so mean cluster size —
    and the per-cluster pair fan-out — stays bounded. Cosines are rounded
    at ``round_dp`` BEFORE argmax/threshold (cross-engine determinism).

    Returns (id, cluster_id, keep) for every input vector.

    ``broadcast_dups`` (default False since r10, VERDICT r9 item 5): the
    duplicate-id set is a FRACTION OF THE CORPUS on dup-heavy data — the
    exact workload SemDeDup exists for — so an executor-resident dup set
    is the wrong default at 100 TB. By default the keep-flag join is left
    to the engine: AQE/``autoBroadcastJoinThreshold`` still broadcasts the
    dup set whenever it is actually small, and falls back to a shuffle
    join keyed by id when it is not. Pass True only when the caller knows
    the dup fraction is bounded (e.g. a high threshold on a clean corpus).
    """
    c = vectors.select(
        F.col(id_col), as_double_array(F.col(vec_col)).alias("v")
    ).withColumn("nrm", array_norm(F.col("v")))
    cents = centroids.select(
        F.col(centroid_id_col).alias("cid"),
        as_double_array(F.col(centroid_vec_col)).alias("cvec"),
    ).withColumn("cvn", array_norm(F.col("cvec")))
    # preserve the caller's centroid-id type end-to-end — casting ids to
    # long would NULL out non-numeric ids and the empty-guard below would
    # then silently drop every row
    cid_type = cents.schema["cid"].dataType.simpleString()

    members = _semantic_assign(c, cents, id_col, cid_type, round_dp)
    a, b = members.alias("a"), members.alias("b")
    pair_denom = F.col("a.nrm") * F.col("b.nrm")
    cos_ab = F.round(
        F.when(pair_denom == 0.0, F.lit(0.0)).otherwise(
            array_dot(F.col("a.v"), F.col("b.v")) / pair_denom
        ),
        round_dp,
    )
    dups = (
        a.join(
            b,
            (F.col("a.cluster_id") == F.col("b.cluster_id"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .where(cos_ab >= threshold)
        .select(F.col(f"b.{id_col}").alias("dup_id"))
        .distinct()
    )
    if broadcast_dups:
        dups = F.broadcast(dups)
    return (
        members.join(dups, members[id_col] == dups["dup_id"], "left")
        .select(
            F.col(id_col),
            "cluster_id",
            F.col("dup_id").isNull().alias("keep"),
        )
    )


def semantic_dedup_incremental(
    new_vectors: DataFrame,
    centroids: DataFrame,
    indexed: DataFrame,
    threshold: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "cluster_id",
    centroid_vec_col: str = "centroid",
    cluster_col: str = "cluster_id",
    round_dp: int = 6,
) -> DataFrame:
    """Absorb a vector shard into an existing SemDeDup result WITHOUT
    recomputing old×old pairs (r14 — the increment face of the vector
    tier, completing the matrix: minhash_dedup_incremental for
    shingles, update_bm25_index for postings, update_components for
    clusters, and now the semantic path).

    ``indexed`` is the previously processed ASSIGNMENT table —
    (id, cluster, vector) for EVERY prior row, kept AND dropped: the
    batch rule marks a vector dup if ANY lower-id cluster-mate is
    within ``threshold``, so dropped members still suppress later
    near-copies and the comparison set must include them (comparing
    survivors only would resurrect a near-dup of a dropped member —
    not rebuild-equivalent). ``centroids`` is the FIXED coarse
    quantizer the index was built with (the persist_ivf_lists
    contract: an increment never re-trains the quantizer).

    Contract: shard ids must all be GREATER than every indexed id —
    append-only crawl ids. Under that order a new row can never flip
    an old row's keep flag (dup rule looks only at LOWER ids), so
    returning decisions for the SHARD ONLY and unioning with the old
    table reproduces the full-rebuild output bit-for-bit
    (oracle-gated). Validating the order here would scan the index, so
    at this layer it is a documented contract (violations surface as
    increment≠rebuild in the gate); the persisted layout
    (``update_semantic_assignments``, r15) keeps the indexed max_id in
    a one-row stats table and enforces the order LOUDLY before every
    append.

    Scale shape: the shard assigns against the broadcast centroid
    array (zero shuffle); the pair join touches (shard × cluster-mates)
    rows only — old×old never recomputes; the indexed table streams
    into the join keyed by its cluster (the natural layout key).

    Returns (id, cluster, keep) for the shard rows only."""
    c = new_vectors.select(
        F.col(id_col), as_double_array(F.col(vec_col)).alias("v")
    ).withColumn("nrm", array_norm(F.col("v")))
    cents = centroids.select(
        F.col(centroid_id_col).alias("cid"),
        as_double_array(F.col(centroid_vec_col)).alias("cvec"),
    ).withColumn("cvn", array_norm(F.col("cvec")))
    cid_type = cents.schema["cid"].dataType.simpleString()
    # r17: the shard assignment feeds THREE consumers (the a-side union,
    # the b-side of the pair join, and the final keep join), so without
    # a pin the broadcast-fold assign re-derives per consumer. Pin once
    # — shard-sized rows the consumers need anyway; eager, like every
    # pin in this module (interleaved sf0.1 A/B, both arm orders:
    # 11/14 pairs win, warm ~6%). Single-host storage trade as
    # documented on the residual pin above.
    new_members = _semantic_assign(
        c, cents, id_col, cid_type, round_dp
    ).localCheckpoint()
    old_members = indexed.select(
        F.col(id_col),
        F.col(cluster_col).alias("cluster_id"),
        as_double_array(F.col(vec_col)).alias("v"),
    ).withColumn("nrm", array_norm(F.col("v")))
    # lower-id comparison set: every old member + lower-id shard rows
    a = old_members.unionByName(new_members).alias("a")
    b = new_members.alias("b")
    pair_denom = F.col("a.nrm") * F.col("b.nrm")
    cos_ab = F.round(
        F.when(pair_denom == 0.0, F.lit(0.0)).otherwise(
            array_dot(F.col("a.v"), F.col("b.v")) / pair_denom
        ),
        round_dp,
    )
    dups = (
        a.join(
            b,
            (F.col("a.cluster_id") == F.col("b.cluster_id"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .where(cos_ab >= threshold)
        .select(F.col(f"b.{id_col}").alias("dup_id"))
        .distinct()
    )
    return (
        new_members.join(
            dups, new_members[id_col] == dups["dup_id"], "left"
        )
        .select(
            F.col(id_col),
            F.col("cluster_id").alias(cluster_col),
            F.col("dup_id").isNull().alias("keep"),
        )
    )


def persist_semantic_assignments(
    indexed: DataFrame,
    path: str,
    id_col: str = "vec_id",
    cluster_col: str = "cluster_id",
    vec_col: str = "embedding",
) -> None:
    """Persist a SemDeDup ASSIGNMENT table (the ``indexed`` input of
    ``semantic_dedup_incremental``: id, cluster, vector for EVERY
    processed row, kept and dropped) as the increment-able layout —
    the ``persist_bm25_index`` convention for the vector tier (r15,
    VERDICT r14 item 6).

    Layout under ``path``: ``assignments/`` hive-partitioned by
    cluster (the pair join's key, so an increment's cluster-mates scan
    is directory-pruned), ``stats/`` (ONE row: max_id, n_rows — the
    loud append-only guard reads this instead of scanning the index),
    ``journal/`` ('pending' before the first overwrite, 'committed'
    after the stats flip — crash anywhere between is detectable).

    The on-disk schema is FIXED (``persist_bm25_index`` convention):
    the id column keeps the caller's ``id_col`` name (``update`` must
    be called with the same one), the cluster and vector columns are
    always written as ``cluster_id`` / ``v`` regardless of the input
    names, so a layout persisted with non-default ``cluster_col`` /
    ``vec_col`` stays updatable.  Stats are computed from a READ-BACK
    of the written assignments — never from a second pass over the
    (possibly non-deterministic) input — so the guard's max_id always
    describes what was actually written; an empty input persists
    ``max_id = -1`` rather than NULL."""
    spark = indexed.sparkSession
    with journaled(spark, path):
        rows = indexed.select(
            F.col(id_col),
            F.col(cluster_col).alias("cluster_id"),
            as_double_array(F.col(vec_col)).alias("v"),
        )
        rows.write.mode("overwrite").partitionBy("cluster_id").parquet(
            f"{path}/assignments"
        )
        # Explicit schema: an empty input writes no data files, and the
        # read-back must still produce the (0, -1) stats row.
        spark.read.schema(rows.schema).parquet(f"{path}/assignments").agg(
            F.coalesce(F.max(id_col).cast("long"), F.lit(-1)).alias(
                "max_id"
            ),
            F.count(F.lit(1)).alias("n_rows"),
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/stats")


def update_semantic_assignments(
    new_vectors: DataFrame,
    centroids: DataFrame,
    path: str,
    threshold: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "cluster_id",
    centroid_vec_col: str = "centroid",
    round_dp: int = 6,
) -> DataFrame:
    """Absorb a vector shard into a PERSISTED assignment layout — the
    deployed shape of ``semantic_dedup_incremental``, with that
    function's documented append-only contract made LOUD (r15, VERDICT
    r14 item 6): the layout's one-row stats table carries the indexed
    ``max_id``, and the update validates the shard against it BEFORE
    touching the layout — any shard id ≤ max_id fails with the
    violation spelled out, instead of surfacing later as
    increment≠rebuild in an oracle.

    Order of operations mirrors ``update_bm25_index``: journal
    'pending' before the first mutating write, append the shard's
    (id, cluster, vector) rows to ``assignments/``, overwrite
    ``stats/`` with the new max_id/n_rows, then journal 'committed' —
    a crash in between leaves a journal that says so
    (``check_semantic_assignments``).

    Returns the shard's (id, cluster, keep) decisions — union with the
    previously returned decisions to reproduce the full rebuild."""
    spark = new_vectors.sparkSession
    st = check_semantic_assignments(spark, path)
    # Layouts persisted before the empty-input fix can carry a NULL
    # max_id (F.max over zero rows); normalize to the "no indexed
    # rows" sentinel so the guard compares int-to-int.
    max_id = -1 if st["max_id"] is None else st["max_id"]
    # Loud append-only guard, BEFORE any mutating write: one
    # column-pruned shard pass (whose max/count the stats flip needs
    # anyway) — a violation fails here with the layout still
    # 'committed', never as a half-appended index.
    probe = new_vectors.agg(
        F.min(id_col).alias("lo"),
        F.max(id_col).cast("long").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    if probe["n"] > 0 and probe["lo"] <= max_id:
        raise ValueError(
            f"semantic index at {path}: shard {id_col}={probe['lo']} <= "
            f"indexed max_id {max_id} — the append-only contract is "
            "violated (a new row can never flip an old keep flag, so "
            "out-of-order ids cannot be absorbed); rebuild with "
            "persist_semantic_assignments instead"
        )
    shard = new_vectors.select(
        F.col(id_col), as_double_array(F.col(vec_col)).alias("v")
    )
    if st["n_rows"] == 0:
        # Empty layout (no data files to infer from): build the empty
        # indexed frame from the shard/centroid schemas instead.
        from pyspark.sql.types import StructField, StructType

        indexed = spark.createDataFrame(
            [],
            StructType(
                [
                    shard.schema[id_col],
                    StructField(
                        "cluster_id",
                        centroids.schema[centroid_id_col].dataType,
                    ),
                    shard.schema["v"],
                ]
            ),
        )
    else:
        indexed = spark.read.parquet(f"{path}/assignments").select(
            id_col, "cluster_id", "v"
        )
    out = semantic_dedup_incremental(
        shard,
        centroids,
        indexed,
        threshold=threshold,
        id_col=id_col,
        vec_col="v",
        centroid_id_col=centroid_id_col,
        centroid_vec_col=centroid_vec_col,
        round_dp=round_dp,
    )
    # Pin the decisions BEFORE mutating the layout their plan reads:
    # `out` is consumed twice anyway (the append join below + the
    # caller's action), and without the pin the caller's action would
    # recompute the whole incremental dedup against a file-index
    # snapshot of assignments/ that the append just changed.
    out = out.localCheckpoint(eager=True)
    with journaled(spark, path):
        shard.join(out.select(id_col, "cluster_id"), id_col).select(
            id_col, "cluster_id", "v"
        ).write.mode("append").partitionBy("cluster_id").parquet(
            f"{path}/assignments"
        )
        # JVM-side one-row frame (the sinks.journaled lesson): a
        # Python-local-list frame pays a ~4.5 s Python-worker round-trip
        # per write.
        new_max = max(probe["hi"], max_id) if probe["n"] > 0 else max_id
        spark.range(1).select(
            F.lit(new_max).cast("long").alias("max_id"),
            F.lit(st["n_rows"] + probe["n"]).cast("long").alias("n_rows"),
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/stats")
    return out


def check_semantic_assignments(spark, path: str, deep: bool = False) -> dict:
    """Consistency probe for the persisted assignment layout — the
    ``check_bm25_index`` convention: raises unless the journal holds
    exactly one 'committed' row (a crashed update leaves 'pending');
    returns ``{"journal": "committed", "max_id": ..., "n_rows": ...}``
    from the one-row stats table. ``deep=True`` recounts
    ``assignments/`` against the stats row (one columnar pass) —
    catches corruption the journal can't see (manual layout edits, a
    lost stats overwrite)."""
    require_committed(
        spark, path, "semantic index",
        "rebuild (persist_semantic_assignments) before querying or "
        "appending",
    )
    srow = spark.read.parquet(f"{path}/stats").collect()
    if len(srow) != 1:
        raise ValueError(
            f"semantic index at {path}: stats table has {len(srow)} "
            "rows, want 1 — layout corrupted; rebuild"
        )
    if deep:
        try:
            got = spark.read.parquet(f"{path}/assignments").count()
        except Exception:
            # a zero-row partitioned write leaves no data files —
            # consistent iff stats also says zero
            got = 0
        if got != srow[0]["n_rows"]:
            raise ValueError(
                f"semantic index at {path}: assignments/ has {got} "
                f"rows but stats says {srow[0]['n_rows']} — layout "
                "corrupted; rebuild"
            )
    return {
        "journal": "committed",
        "max_id": srow[0]["max_id"],
        "n_rows": srow[0]["n_rows"],
    }


def semantic_dedup_pipeline(
    vectors: DataFrame,
    threshold: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int | None = None,
    sample_mod: int = 4,
    max_iter: int = 2,
    round_dp: int = 6,
    broadcast_dups: bool = False,
) -> DataFrame:
    """SemDeDup END-TO-END (Abbas et al. 2023 §3): derive the coarse
    centroids FROM THE DATA — deterministic sample (``id % sample_mod``)
    → dense k-means (``kmeans.kmeans_dense_centroids``, k ~ sqrt(n)) —
    then run the cluster-blocked ``semantic_dedup``. This closes the
    documented k~√n seam: k actually scales with the corpus instead of
    being a fixed input, so mean cluster size (and the per-cluster pair
    fan-out) stays ~sqrt(n) by construction.

    ``k=None`` sizes k = floor(sqrt(n)) from a corpus count (one cheap
    count job), then k — auto-sized OR caller-given — is clamped to the
    sample size so the fit never asks for more centroids than it has
    points (sqrt(n) can exceed n/sample_mod on small corpora). An EMPTY
    sample (no id ≡ 0 mod ``sample_mod``) cannot seed a fit and raises
    ``ValueError`` — pick a smaller ``sample_mod`` or pass centroids to
    ``semantic_dedup`` directly. All stages share ``round_dp`` rounding,
    so a SQL oracle replays the sampled fit + dedup exactly.

    Scale shape: the k-means runs on the 1/``sample_mod`` sample with a
    k×dim driver-side model (same seam as kmeans_cosine init); the corpus
    itself is touched only by the assign + pair join inside
    ``semantic_dedup``.
    """
    from .kmeans import kmeans_dense_centroids

    if k is None:
        n = vectors.count()
        k = max(2, math.isqrt(n))
    sample = vectors.where(F.col(id_col) % sample_mod == 0)
    n_sample = sample.count()
    if n_sample == 0:
        raise ValueError(
            f"semantic_dedup_pipeline: empty centroid sample "
            f"(no {id_col} divisible by sample_mod={sample_mod}) — "
            "reduce sample_mod or supply centroids via semantic_dedup"
        )
    k = min(k, n_sample)
    cents = kmeans_dense_centroids(
        sample,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        max_iter=max_iter,
        round_dp=round_dp,
    )
    cent_df = vectors.sparkSession.createDataFrame(
        [(i, c) for i, c in enumerate(cents)],
        "cluster_id long, centroid array<double>",
    )
    return semantic_dedup(
        vectors,
        cent_df,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        round_dp=round_dp,
        broadcast_dups=broadcast_dups,
    )


# ----------------------------------------------------------- quantization


def _mu_array(vec: Column, mu: int = 1_000_000) -> Column:
    """Vector → integer micro-units (round(x·mu) as long): every PQ
    distance below is then an exact BIGINT sum — order-independent and
    restatable cross-engine (the lm_perplexity discipline applied to
    vector math)."""
    return F.transform(
        as_double_array(vec), lambda x: F.round(x * mu).cast("long")
    )


def _sq_dist_mu(a: Column, b: Column) -> Column:
    """Σ (a_j − b_j)² over micro-unit longs — exact in BIGINT
    ((2·10⁶)² × 64 dims ≪ 2⁶³)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _pq_split_mu(mu: Column, dim: int, m: int) -> Column:
    """array<struct(s, sv)>: the m subvector slices of an ALREADY
    micro-unit long array — the shared splitter, so float vectors and
    integer residuals (r13 ``by_residual``) take the same path with ONE
    rounding step each."""
    d = dim // m
    return F.array(
        *[
            F.struct(
                F.lit(s).alias("s"), F.slice(mu, s * d + 1, d).alias("sv")
            )
            for s in range(m)
        ]
    )


def _pq_subvectors(
    vectors: DataFrame, dim: int, m: int, id_col: str, vec_col: str,
    pre_scaled: bool = False, extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id[, extra…], s, sv): the m subvectors (micro-unit longs) of
    every row. ``pre_scaled=True`` reads ``vec_col`` as micro-unit
    longs verbatim (residual vectors — already exact integers; a second
    ``_mu_array`` pass would round twice); ``extra_cols`` carry
    passthrough columns (e.g. the residual's list_id) through the
    explode."""
    v = F.col(vec_col) if pre_scaled else _mu_array(F.col(vec_col))
    return vectors.select(
        F.col(id_col), *extra_cols,
        F.explode(_pq_split_mu(v, dim, m)).alias("x"),
    ).select(
        id_col, *extra_cols,
        F.col("x.s").alias("s"), F.col("x.sv").alias("sv"),
    )


def _pq_argmin(
    subs: DataFrame, codebooks: DataFrame, id_col: str
) -> DataFrame:
    """Nearest code per (row, subspace): broadcast the m·ksub codebook,
    exact integer d², tie → smallest code. Returns (id, s, code, sv)."""
    scored = subs.join(F.broadcast(codebooks), "s").select(
        id_col,
        "s",
        "code",
        "sv",
        _sq_dist_mu(F.col("sv"), F.col("cent")).alias("d2"),
    )
    w = Window.partitionBy(id_col, "s").orderBy(F.asc("d2"), F.asc("code"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(id_col, "s", "code", "sv")
    )


def pq_codebooks(
    corpus: DataFrame,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pre_scaled: bool = False,
) -> DataFrame:
    """Product-quantization codebooks (Jégou, Douze, Schmid 2011,
    "Product Quantization for Nearest Neighbor Search" §II): split
    ``R^dim`` into ``m`` subspaces of ``dim/m`` dims and run an
    independent k-means (``ksub`` codes) in each — the memory lever
    BEYOND int8: a 64-dim float vector (256 B) becomes m=8 one-byte
    codes, a 32× compression whose distances are still additively
    recoverable per subspace (``pq_topk``).

    Deterministic and oracle-replayable: init codebook ``c`` of every
    subspace = the subvector of the corpus row with the c-th smallest
    id; ``iters`` Lloyd steps (default 1 — the replayed-training form,
    the kmeans-gate convention) of exact-integer assignment (micro-unit
    d², tie → smallest code) and mean update (micro-unit rounded mean;
    a code that captures no rows keeps its previous centroid).

    Returns (s, code, cent array<long micro-units>). Scale shape: the
    codebook is m·ksub rows (broadcast); each iteration is one argmin
    window keyed by (row, subspace) and one (s, code, dim) mean
    aggregation — map-side combined, nothing all-pairs.

    ``pre_scaled=True`` (r13) reads ``vec_col`` as micro-unit LONG
    arrays verbatim — the residual-training path of ``by_residual``
    IVF×PQ, whose inputs are already exact integers."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    subs = _pq_subvectors(
        corpus, dim, m, id_col, vec_col, pre_scaled=pre_scaled
    )
    # init literally as documented: codebook c = the subvector of the
    # corpus row with the c-th SMALLEST id — a bounded top-ksub over
    # ascending id (TakeOrderedAndProject, never a corpus sort), NOT
    # `id < ksub` (r13, ADVICE r12: offset/sparse/string id domains
    # made the filter form silently partial/empty, and pq_topk's
    # positional element_at(darr, code+1) then misaligned). Codes are
    # dense 0..ksub-1 for ANY id domain; identical to the old behavior
    # when ids are exactly 0..n-1 (the oracle fixture), so the replayed
    # oracles are unchanged. The ≤ksub-row seed dim broadcasts.
    seed = (
        corpus.select(id_col).orderBy(F.asc(id_col)).limit(ksub)
        .withColumn(
            "code",
            (F.row_number().over(Window.orderBy(F.asc(id_col))) - 1).cast("int"),
        )
    )
    cb = subs.join(F.broadcast(seed), id_col).select(
        "s", "code", F.col("sv").alias("cent")
    )
    for _ in range(iters):
        assigned = _pq_argmin(subs, cb, id_col)
        upd = (
            assigned.select(
                "s", "code", F.posexplode("sv").alias("j", "x")
            )
            .groupBy("s", "code", "j")
            .agg(F.round(F.avg("x")).cast("long").alias("c"))
            .groupBy("s", "code")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("j"), F.col("c")))
                    ),
                    lambda p: p["c"],
                ).alias("newc")
            )
        )
        # upd is ≤ m·ksub rows — broadcast, never sort-merge a dim-dim
        # join
        cb = (
            cb.join(F.broadcast(upd), ["s", "code"], "left")
            .select(
                "s",
                "code",
                F.coalesce("newc", "cent").alias("cent"),
            )
        )
    return cb


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    dim: int,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ codes per row: (id, codes array<int>) — codes[s] = nearest
    codebook entry of subspace s (exact integer d², tie → smallest
    code). The 100 TB artifact: m bytes per vector instead of dim
    floats."""
    subs = _pq_subvectors(corpus, dim, m, id_col, vec_col)
    assigned = _pq_argmin(subs, codebooks, id_col)
    return assigned.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("s"), F.col("code")))),
            lambda p: p["code"],
        ).alias("codes")
    )


def _pq_query_tables(
    queries: DataFrame,
    codebooks: DataFrame,
    dim: int,
    m: int,
    query_id_col: str,
    vec_col: str,
) -> DataFrame:
    """(query_id, dt): the per-query ADC distance table — dt[s][code+1]
    = exact micro-unit² distance from the query's subvector s to
    codebook entry ``code``. queries·m·ksub values total; broadcast by
    every consumer."""
    qsubs = _pq_subvectors(queries, dim, m, query_id_col, vec_col)
    return (
        qsubs.join(F.broadcast(codebooks), "s")
        .select(
            F.col(query_id_col).alias("query_id"),
            "s",
            "code",
            _sq_dist_mu(F.col("sv"), F.col("cent")).alias("d2"),
        )
        .groupBy("query_id", "s")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("code"), F.col("d2")))),
                lambda p: p["d2"],
            ).alias("darr")
        )
        .groupBy("query_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("s"), F.col("darr")))),
                lambda p: p["darr"],
            ).alias("dt")
        )
    )


def _adc_col() -> Column:
    """Σ_s dt[s][codes[s]+1] — the m-lookup ADC distance of a coded row
    against one query's distance table (columns ``codes`` and ``dt``)."""
    return F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.col("dt"),
            lambda c, arr: F.element_at(arr, c + 1),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    k: int = 5,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes (Jégou 2011 §III):
    per query, precompute the m·ksub table of exact squared distances
    from each query SUBVECTOR to each codebook entry; a corpus row's
    approximate distance is then the SUM of m table lookups — no
    vector math per (query, row) pair. Returns (query_id, neighbor_id,
    adc_d2, rank), rank by ascending distance, ties → smallest id,
    self-matches excluded. adc_d2 is the exact integer micro-unit²
    value (the hashable surface).

    Scale shape: codebooks and the per-query distance tables are
    broadcast (queries·m·ksub rows); the corpus side carries only its
    m-byte codes into a per-row zip_with lookup — the corpus never
    shuffles before the per-query top-k window, exactly the
    cosine_topk plan with 32× smaller rows in flight."""
    query_id_col = query_id_col or id_col
    # training is corpus-sized and BOTH the encoder and the query
    # tables consume its m·ksub-row result — pin it once (the model-
    # state pattern: the kmeans loop collects its centroids for the
    # same reason) instead of inlining the training subtree twice
    cb = pq_codebooks(
        corpus, dim, m=m, ksub=ksub, iters=iters,
        id_col=id_col, vec_col=vec_col,
    ).localCheckpoint()
    codes = pq_encode(corpus, cb, dim, m=m, id_col=id_col, vec_col=vec_col)
    qtab = _pq_query_tables(queries, cb, dim, m, query_id_col, vec_col)
    scored = (
        codes.withColumnRenamed(id_col, "neighbor_id")
        .crossJoin(F.broadcast(qtab))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _adc_col().alias("adc_d2"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_d2"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_d2", F.col("rank").cast("int").alias("rank"))
    )


def pq_topk_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    k: int = 5,
    shortlist: int = 50,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """PQ the way production ANN actually uses it (Jégou 2011 §V):
    ADC over the m-byte codes SHORTLISTS ``shortlist`` candidates per
    query, then the EXACT distance re-ranks only those — full-precision
    math touches ``shortlist ≪ n`` vectors per query instead of the
    corpus. Measured on the synthetic corpus: plain ADC top-5 recall
    ~0.2, shortlist-50 + re-rank ~0.9 (tests pin the floor). Returns
    (query_id, neighbor_id, d2, rank) with d2 the exact integer
    micro-unit² distance.

    Scale shape: the ADC stage is ``pq_topk``'s (corpus never shuffles
    before its per-query top-shortlist window); the re-rank joins the
    CANDIDATE ids (queries·shortlist rows) back to their vectors —
    candidate-sized work, and the join the CDX/IVF tiers would serve
    from a persisted id-keyed layout at 100 TB."""
    query_id_col = query_id_col or id_col
    cand = pq_topk(
        corpus, queries, dim, m=m, ksub=ksub, k=shortlist, iters=iters,
        id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
    ).select("query_id", "neighbor_id")
    return _pq_exact_rerank(
        cand, corpus, queries, k, id_col, vec_col, query_id_col
    )


def _pq_exact_rerank(
    cand: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """Exact re-rank of an ADC shortlist: join the (query_id,
    neighbor_id) candidates back to their full-precision vectors and
    rank by exact micro-unit² distance — candidate-sized work, the one
    stage of a PQ pipeline that touches real vectors at query time."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _mu_array(F.col(vec_col)).alias("cv"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        _mu_array(F.col(vec_col)).alias("qv"),
    )
    ex = (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            _sq_dist_mu(F.col("cv"), F.col("qv")).alias("d2"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("neighbor_id"))
    return (
        ex.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "d2",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def exact_l2_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """Exact brute-force top-k by integer micro-unit² L2 — the
    PQ/IVFPQ tiers' correctness baseline (``cosine_topk``'s twin in
    the L2 currency): corpus streams, queries broadcast, per-query
    rank window; ties → smallest neighbor id, self-matches excluded.
    Returns (query_id, neighbor_id, d2, rank)."""
    query_id_col = query_id_col or id_col
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _mu_array(F.col(vec_col)).alias("cv"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        _mu_array(F.col(vec_col)).alias("qv"),
    )
    ex = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _sq_dist_mu(F.col("cv"), F.col("qv")).alias("d2"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("neighbor_id"))
    return (
        ex.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "d2",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def _ivfpq_cent_array(
    centroids: DataFrame, centroid_id_col: str, centroid_vec_col: str
) -> DataFrame:
    """ONE-row DataFrame with the cid-sorted array<struct(cid, cmv)> of
    MICRO-UNIT centroid vectors — the `_ivf_cent_array` shape carried
    in the PQ tier's exact integer currency."""
    cents = centroids.select(
        F.col(centroid_id_col).alias("cid"),
        _mu_array(F.col(centroid_vec_col)).alias("cmv"),
    )
    return cents.agg(
        F.array_sort(F.collect_list(F.struct("cid", "cmv"))).alias("__cents")
    )


def _ivfpq_top_lists(
    vecs_mu: DataFrame, cent_arr: DataFrame, n: int, id_col: str,
    keep_vec: bool = False,
) -> DataFrame:
    """(id, list_id [, mv]): each micro-unit vector mapped to its ``n``
    nearest coarse lists by EXACT integer micro-unit² L2 (tie → lowest
    cid) — per-row array expressions over the broadcast one-row
    centroid array, no window, no data-sized shuffle (the
    `_ivf_top_lists` plan with the PQ metric, so coarse assignment,
    ADC and the exact re-rank all rank on ONE integer distance)."""
    scored = F.transform(
        F.col("__cents"),
        lambda c: F.struct(
            _sq_dist_mu(F.col("mv"), c["cmv"]).alias("d2"),
            c["cid"].alias("cid"),
        ),
    )
    if n == 1:
        # O(nlist) argmin fold, (d2 ASC, cid ASC) — the corpus pass
        best = F.aggregate(
            F.slice(scored, 2, F.greatest(F.size(scored) - 1, F.lit(0))),
            F.element_at(scored, 1),
            lambda acc, x: F.when(
                (x["d2"] < acc["d2"])
                | ((x["d2"] == acc["d2"]) & (x["cid"] < acc["cid"])),
                x,
            ).otherwise(acc),
        )
        top = F.when(F.size(scored) > 0, F.array(best)).otherwise(
            F.slice(scored, 1, 0)
        )
    else:
        # struct field order (d2, cid) makes the default array_sort
        # exactly the (d2 ASC, cid ASC) rule — no custom comparator
        top = F.slice(F.array_sort(scored), 1, n)
    extra = ["mv"] if keep_vec else []
    return (
        vecs_mu.crossJoin(F.broadcast(cent_arr))
        .select(F.col(id_col), F.explode(top).alias("__e"), *extra)
        .select(F.col(id_col), F.col("__e.cid").alias("list_id"), *extra)
    )


def _ivfpq_residuals(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    centroid_id_col: str,
    centroid_vec_col: str,
) -> DataFrame:
    """(id, list_id, rv): every corpus vector's EXACT integer residual
    from its assigned coarse centroid (micro-unit subtraction — no new
    rounding step). The r13 ``by_residual`` substrate: Jégou 2011's
    deployed IVFADC quantizes residuals, whose spread within a list is
    far smaller than the raw vectors', so the same m·ksub code budget
    buys finer cells. Per-row array math + one broadcast centroid-dim
    join — zero data-sized exchanges."""
    cent_arr = _ivfpq_cent_array(centroids, centroid_id_col, centroid_vec_col)
    mu = corpus.select(F.col(id_col), _mu_array(F.col(vec_col)).alias("mv"))
    assigned = _ivfpq_top_lists(mu, cent_arr, 1, id_col, keep_vec=True)
    cdim = centroids.select(
        F.col(centroid_id_col).alias("list_id"),
        _mu_array(F.col(centroid_vec_col)).alias("__cmv"),
    )
    return assigned.join(F.broadcast(cdim), "list_id").select(
        F.col(id_col),
        "list_id",
        F.zip_with("mv", "__cmv", lambda a, b: a - b).alias("rv"),
    )


def ivfpq_corpus_lists(
    corpus: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    dim: int,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "cluster_id",
    centroid_vec_col: str = "centroid",
    by_residual: bool = False,
    residuals: DataFrame | None = None,
) -> DataFrame:
    """The IVF×PQ index rows: (id, list_id, codes) — every corpus
    vector coarse-assigned to its nearest inverted list (exact integer
    L2, tie → lowest cid) AND compressed to its m PQ codes in ONE pass:
    the list assignment is a per-row array fold (zero shuffle), carried
    through the encode aggregation as a grouping column, so the build
    costs exactly `pq_encode`'s exchanges ((id, s) argmin window + the
    per-id collect) and never an extra id-keyed join. This is the
    once-per-corpus-version artifact (Jégou 2011 §V / the FAISS
    IndexIVFPQ layout with by_residual=false: ONE global codebook over
    raw vectors rather than per-list residual codebooks — the variant
    that lets the persisted layout share codebooks across lists).

    ``by_residual=True`` (r13, Jégou's deployed IVFADC): the codes
    quantize the RESIDUAL from the assigned coarse centroid instead of
    the raw vector — ``codebooks`` must then be residual-trained
    (``pq_codebooks(_ivfpq_residuals(…), pre_scaled=True)``, which
    ``ivfpq_topk(by_residual=True)`` does); same one-pass build, the
    residual subtraction is per-row math over a broadcast centroid
    dim.

    ``residuals`` (r16 optimization): a caller that has ALREADY
    derived (and typically pinned) the ``_ivfpq_residuals`` frame —
    ``ivfpq_topk(by_residual=True)`` trains its codebooks on the very
    same frame — can pass it in so the assign + subtraction subtree is
    not re-derived per consumer. Only read when ``by_residual`` is
    set; same rows either way (the derivation is deterministic)."""
    if by_residual:
        if residuals is None:
            residuals = _ivfpq_residuals(
                corpus, centroids, id_col, vec_col,
                centroid_id_col, centroid_vec_col,
            )
        assigned = residuals.withColumnRenamed("rv", "mv")
    else:
        cent_arr = _ivfpq_cent_array(
            centroids, centroid_id_col, centroid_vec_col
        )
        mu = corpus.select(
            F.col(id_col), _mu_array(F.col(vec_col)).alias("mv")
        )
        assigned = _ivfpq_top_lists(mu, cent_arr, 1, id_col, keep_vec=True)
    subs = _pq_split_mu(F.col("mv"), dim, m)
    staged = assigned.select(
        F.col(id_col), "list_id", F.explode(subs).alias("x")
    ).select(
        id_col, "list_id", F.col("x.s").alias("s"), F.col("x.sv").alias("sv")
    )
    scored = staged.join(F.broadcast(codebooks), "s").select(
        id_col,
        "list_id",
        "s",
        "code",
        _sq_dist_mu(F.col("sv"), F.col("cent")).alias("d2"),
    )
    w = Window.partitionBy(id_col, "s").orderBy(F.asc("d2"), F.asc("code"))
    best = scored.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") == 1
    )
    return best.groupBy(id_col, "list_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("s"), F.col("code")))),
            lambda p: p["code"],
        ).alias("codes")
    )


def persist_ivfpq_lists(
    corpus: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    path: str,
    dim: int,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "cluster_id",
    centroid_vec_col: str = "centroid",
    by_residual: bool = False,
) -> None:
    """Build the IVF×PQ index ONCE and persist parquet PARTITIONED BY
    list_id — the deployed 100 TB ANN artifact: each later probe is a
    directory-pruned scan of only the probed lists, and each list row
    is m BYTES of codes instead of dim floats (the persisted-IVF layout
    with PQ's 32× row shrink on top). ``codebooks`` must be persisted
    alongside (m·ksub rows — trivially small); a ``by_residual`` layout
    must be probed with ``by_residual=True`` (the codes are meaningless
    without the centroid subtraction)."""
    ivfpq_corpus_lists(
        corpus, centroids, codebooks, dim, m=m, id_col=id_col,
        vec_col=vec_col, centroid_id_col=centroid_id_col,
        centroid_vec_col=centroid_vec_col, by_residual=by_residual,
    ).write.mode("overwrite").partitionBy("list_id").parquet(path)


def _pq_query_tables_residual(
    queries: DataFrame,
    probes: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    dim: int,
    m: int,
    query_id_col: str,
    vec_col: str,
    centroid_id_col: str,
    centroid_vec_col: str,
) -> DataFrame:
    """(query_id, list_id, dt): per-(query, probed list) ADC distance
    tables over the QUERY RESIDUAL from that list's centroid — the
    ``by_residual`` twin of ``_pq_query_tables`` (a residual code means
    nothing except relative to its list's centroid, so the table is
    list-specific). queries·nprobe·m·ksub values total — still probe-
    contract-sized, still broadcast by the ADC join."""
    qmu = queries.select(
        F.col(query_id_col).alias("query_id"),
        _mu_array(F.col(vec_col)).alias("mv"),
    )
    cdim = centroids.select(
        F.col(centroid_id_col).alias("list_id"),
        _mu_array(F.col(centroid_vec_col)).alias("__cmv"),
    )
    qres = (
        probes.join(qmu, "query_id")
        .join(F.broadcast(cdim), "list_id")
        .select(
            "query_id",
            "list_id",
            F.zip_with("mv", "__cmv", lambda a, b: a - b).alias("rv"),
        )
    )
    ex = qres.select(
        "query_id", "list_id",
        F.explode(_pq_split_mu(F.col("rv"), dim, m)).alias("x"),
    ).select(
        "query_id", "list_id",
        F.col("x.s").alias("s"), F.col("x.sv").alias("sv"),
    )
    return (
        ex.join(F.broadcast(codebooks), "s")
        .select(
            "query_id", "list_id", "s", "code",
            _sq_dist_mu(F.col("sv"), F.col("cent")).alias("d2"),
        )
        .groupBy("query_id", "list_id", "s")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("code"), F.col("d2")))),
                lambda p: p["d2"],
            ).alias("darr")
        )
        .groupBy("query_id", "list_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("s"), F.col("darr")))),
                lambda p: p["darr"],
            ).alias("dt")
        )
    )


def _ivfpq_adc_topk(
    lists: DataFrame,
    probe_tabs: DataFrame,
    k: int,
    shortlist: int | None,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """Shared IVFPQ query core: ADC over the probed lists' codes, then
    (optionally) the exact re-rank of the shortlist. ``lists`` carries
    (neighbor_id, list_id, codes); ``probe_tabs`` (query_id, list_id,
    dt) — global tables replicated per probe, or the per-(query, list)
    residual tables. The probe side (queries × nprobe rows, each with
    one m·ksub table) broadcasts into the list join — the coded corpus
    never shuffles; the only data-sized exchange is the per-query
    top-k window over probed candidates."""
    scored = (
        lists.join(F.broadcast(probe_tabs), "list_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _adc_col().alias("adc_d2"))
    )
    n_short = shortlist or k
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_d2"), F.asc("neighbor_id")
    )
    adc_top = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= n_short)
        .select(
            "query_id", "neighbor_id", "adc_d2",
            F.col("rank").cast("int").alias("rank"),
        )
    )
    if shortlist is None:
        return adc_top
    return _pq_exact_rerank(
        adc_top.select("query_id", "neighbor_id"),
        corpus, queries, k, id_col, vec_col, query_id_col,
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    k: int = 5,
    nprobe: int = 2,
    shortlist: int | None = None,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "cluster_id",
    centroid_vec_col: str = "centroid",
    query_id_col: str | None = None,
    by_residual: bool = False,
) -> DataFrame:
    """IVF×PQ — the composed index production ANN actually deploys
    (Jégou 2011 §V, VERDICT r12 item 3: IVF prunes WHICH rows each
    query touches, PQ shrinks WHAT each touched row costs — either
    alone leaves a 100 TB bottleneck): corpus vectors coarse-assign to
    inverted lists AND compress to m-byte codes in one build pass; a
    query probes only its ``nprobe`` nearest lists, scores candidates
    by ADC table lookups over the codes, and (``shortlist=N``) exact
    re-ranks the N best — full-precision math touches shortlist ≪
    corpus vectors. Deterministic end to end: coarse assignment, PQ
    training (replayed lowest-id init + ``iters`` exact Lloyd steps),
    codes, ADC sums and the re-rank are all exact BIGINT micro-unit
    math with pinned tie-breaks (lowest cid / code / neighbor_id).

    Returns (query_id, neighbor_id, adc_d2, rank) without a shortlist,
    (query_id, neighbor_id, d2, rank) with one.

    Scale shape: the codebook trains once and pins (localCheckpoint —
    the encoder and the query tables both consume it); the coded
    corpus never shuffles before the per-query top-k (probes + tables
    broadcast); the re-rank is candidate-sized. Against a persisted
    layout (``persist_ivfpq_lists`` + ``ivfpq_topk_persisted``) the
    probed-list scan is directory-pruned on top.

    ``by_residual=True`` (r13 — Jégou's deployed IVFADC form): the PQ
    codebooks train on, and the codes quantize, each vector's RESIDUAL
    from its assigned coarse centroid; the per-query distance tables
    become per-(query, probed list) tables over the query's residual
    from that list's centroid. Residual spread within a list is far
    smaller than raw-vector spread, so the same m·ksub budget buys
    finer cells — on a clustered corpus the ADC ranking is measurably
    closer to exact (test-pinned); same exchanges, the tables stay
    probe-contract-sized."""
    query_id_col = query_id_col or id_col
    res = None
    if by_residual:
        # the residual frame feeds BOTH the codebook training and the
        # corpus encode below — pin it once so the coarse-assign +
        # subtraction subtree is not re-derived per consumer (r16
        # optimization; interleaved sf0.1 A/B on the residual gate:
        # off [21.0, 10.4, 8.9] s vs pinned [8.4, 6.6, 6.2] s, wins
        # every pair, rows identical). The pinned rows are n×dim longs
        # — the same order as the corpus the caller already holds.
        res = _ivfpq_residuals(
            corpus, centroids, id_col, vec_col,
            centroid_id_col, centroid_vec_col,
        ).localCheckpoint()
        cb = pq_codebooks(
            res, dim, m=m, ksub=ksub, iters=iters,
            id_col=id_col, vec_col="rv", pre_scaled=True,
        ).localCheckpoint()
    else:
        cb = pq_codebooks(
            corpus, dim, m=m, ksub=ksub, iters=iters,
            id_col=id_col, vec_col=vec_col,
        ).localCheckpoint()
    lists = ivfpq_corpus_lists(
        corpus, centroids, cb, dim, m=m, id_col=id_col, vec_col=vec_col,
        centroid_id_col=centroid_id_col, centroid_vec_col=centroid_vec_col,
        by_residual=by_residual, residuals=res,
    ).withColumnRenamed(id_col, "neighbor_id")
    cent_arr = _ivfpq_cent_array(centroids, centroid_id_col, centroid_vec_col)
    qmu = queries.select(
        F.col(query_id_col), _mu_array(F.col(vec_col)).alias("mv")
    )
    probes = _ivfpq_top_lists(
        qmu, cent_arr, nprobe, query_id_col
    ).withColumnRenamed(query_id_col, "query_id")
    if by_residual:
        probe_tabs = _pq_query_tables_residual(
            queries, probes, centroids, cb, dim, m, query_id_col,
            vec_col, centroid_id_col, centroid_vec_col,
        )
    else:
        qtab = _pq_query_tables(queries, cb, dim, m, query_id_col, vec_col)
        probe_tabs = probes.join(qtab, "query_id")
    return _ivfpq_adc_topk(
        lists, probe_tabs, k, shortlist, corpus, queries,
        id_col, vec_col, query_id_col,
    )


def ivfpq_topk_persisted(
    spark,
    path: str,
    queries: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    dim: int,
    m: int = 8,
    k: int = 5,
    nprobe: int = 2,
    shortlist: int | None = None,
    rerank_corpus: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "cluster_id",
    centroid_vec_col: str = "centroid",
    query_id_col: str | None = None,
    by_residual: bool = False,
) -> DataFrame:
    """IVF×PQ over a ``persist_ivfpq_lists`` layout: queries pick their
    ``nprobe`` lists, the DISTINCT probed list ids come to the driver
    (≤ |queries|·nprobe values — the kmeans model-state pattern), and
    the coded-corpus scan is filtered ``list_id IN (...)`` so hive
    partition pruning reads ONLY the probed list directories — each of
    whose rows is m bytes of codes. ``codebooks`` and ``centroids``
    must be the tables the layout was built with; ``rerank_corpus``
    (the id-keyed full-precision vector table) is required when
    ``shortlist`` is set. Results are identical to ``ivfpq_topk`` over
    the same inputs — persistence must be invisible
    (equivalence-tested, the ivf_topk_persisted convention)."""
    if shortlist is not None and rerank_corpus is None:
        raise ValueError("shortlist re-rank needs rerank_corpus")
    query_id_col = query_id_col or id_col
    cent_arr = _ivfpq_cent_array(centroids, centroid_id_col, centroid_vec_col)
    qmu = queries.select(
        F.col(query_id_col), _mu_array(F.col(vec_col)).alias("mv")
    )
    probes = _ivfpq_top_lists(
        qmu, cent_arr, nprobe, query_id_col
    ).withColumnRenamed(query_id_col, "query_id")
    probe_ids = sorted(
        r["list_id"] for r in probes.select("list_id").distinct().collect()
    )
    lists = (
        spark.read.parquet(path)
        .where(F.col("list_id").isin(probe_ids))
        .withColumnsRenamed({id_col: "neighbor_id"})
    )
    if by_residual:
        probe_tabs = _pq_query_tables_residual(
            queries, probes, centroids, codebooks, dim, m, query_id_col,
            vec_col, centroid_id_col, centroid_vec_col,
        )
    else:
        qtab = _pq_query_tables(
            queries, codebooks, dim, m, query_id_col, vec_col
        )
        probe_tabs = probes.join(qtab, "query_id")
    return _ivfpq_adc_topk(
        lists, probe_tabs, k, shortlist, rerank_corpus, queries,
        id_col, vec_col, query_id_col,
    )


def quantize_embeddings(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 quantization: q_j = round(x_j / scale * 127) with
    scale = max|x_j| per vector. Returns (id, qvec tinyint[], scale).

    The 100 TB lever for ANN: float32→int8 is 4× fewer bytes scanned,
    shuffled, and cached — and COSINE IS EXACT UNDER THE SCALE: per-vector
    scales cancel in dot/(|a||b|), so quantized cosine error comes only
    from the 8-bit rounding (measured ≥0.99 rank agreement in tests), not
    from the scale choice. Zero vectors quantize to zeros (scale 1).
    """
    v = as_double_array(F.col(vec_col))
    scale = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.when(scale == 0.0, F.lit(1.0)).otherwise(scale)
    staged = vectors.select(F.col(id_col), v.alias("__v"), scale.alias("scale"))
    return staged.select(
        F.col(id_col),
        F.transform(
            F.col("__v"),
            lambda x: F.round(x / F.col("scale") * 127).cast("tinyint"),
        ).alias("qvec"),
        "scale",
    )


def _int_dot(a: Column, b: Column) -> Column:
    """Integer dot product (exact in long: 127² × dim ≪ 2^63)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def quantized_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k over int8-quantized vectors: quantize both sides, score
    with integer dot products (cosine's per-vector scale cancels). Same
    plan shape as cosine_topk — broadcast queries, stream corpus — with
    4× smaller rows in flight."""
    qc = quantize_embeddings(corpus, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("qvec").alias("cv"),
    )
    qq = quantize_embeddings(queries, id_col, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col("qvec").alias("qv"),
    )
    # integer norms once per side
    qc = qc.withColumn("cn", F.sqrt(_int_dot(F.col("cv"), F.col("cv"))))
    qq = qq.withColumn("qn", F.sqrt(_int_dot(F.col("qv"), F.col("qv"))))
    denom = F.col("qn") * F.col("cn")
    cos = F.when(denom == 0.0, F.lit(0.0)).otherwise(
        _int_dot(F.col("qv"), F.col("cv")) / denom
    )
    scored = (
        qc.crossJoin(F.broadcast(qq))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )
