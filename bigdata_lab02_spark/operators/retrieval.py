"""Inverted-index retrieval: BM25 scoring and top-k search (r13).

The reference lab's whole arc (BigDataLab02 task 1: token counts ->
term dictionary -> doc-term matrix -> TF-IDF) is the BUILD side of a
search index; this module adds the QUERY side a user of that pipeline
reaches for next — Okapi BM25 ranking (Robertson & Spärck Jones;
the `idf = ln(1 + (N - df + 0.5)/(df + 0.5))` always-positive form is
Lucene's, public in the Lucene similarity docs/source) over the same
tokenizer the rest of the engine uses (`functions.text.tokens_column`).
Retrieval over the corpus is also a curation primitive: benchmark
decontamination and targeted quality audits are "run these queries,
inspect the top-k" jobs at web scale.

Cross-engine exactness: BM25 is real-valued, and the house rule is
that gates compare INTEGER results (the lm_perplexity / DSIR /
quality_classifier micro-unit discipline, curation.py). The contract
here fixes every step in integer micro-units:

  avgdl_mu = (1e6 * SD)  div N          -- SD = corpus token count
  lr_mu    = (1e12 * dl) div avgdl_mu   -- micro-units of dl/avgdl
  norm_mu  = 1e6 - b_mu + (b_mu * lr_mu) div 1e6
  den_mu   = 1e6 * tf + (k1_mu * norm_mu) div 1e6
  tfp_mu   = (tf * (k1_mu + 1e6) * 1e6) div den_mu
  idf_mu   = round(1e6 * ln(1 + (N - df + 0.5)/(df + 0.5)))
  contrib  = (idf_mu * tfp_mu) div 1e6
  score_mu = sum(contrib) over the query's DISTINCT matched terms

All quantities are non-negative, so `div` (truncate) and floor agree
and DuckDB's `//` replays every step bit-for-bit; the single `ln` is
quantized at 1e-6 exactly like the LM/NB weights. int64 headroom: two
inputs can push a product past 2^63-1 — dl (lr_mu's 1e12*dl, ~9.2M
tokens, plus the downstream b_mu*lr_mu / k1_mu*norm_mu products when
the corpus avgdl is tiny) and tf (tf*(k1_mu+1e6)*1e6, ~4.2e6
occurrences of one term at k1=1.2). `_bm25_score` computes both caps
driver-side from the known constants and enforces them inside the
scoring expressions with `raise_error` (rides the scan, zero extra
passes) — a violating document fails the job loudly with the
offending value rather than wrapping (ANSI off) or throwing an
opaque ArithmeticException (ANSI on); see the r14 guard block.

Scale shape (the part that must survive 100 TB): document length and
df are the only corpus-wide aggregations — dl is ONE doc_id-keyed
exchange with map-side combine, and df is computed AFTER the postings
stream is cut down to query terms (the distinct query vocabulary
broadcasts as an IN-set filter on the un-shuffled token stream), so
the expensive (doc_id, term) aggregation and everything downstream run
over matched rows only, never the full vocabulary. N and SD are one
bounded scalar collect (two longs). The final per-query ranking is a
window over score rows, which are at most |queries| x |matched docs|.

Reference parity: extends `operators/matrix.py` (P8-P10 TF-IDF,
reference Task_1_5/Task_1_6 MapReduce drivers) with the query-time
ranking those outputs exist to serve.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokens_column
from ..sources.sinks import journaled, require_committed

_MU = 1_000_000


def doc_lengths(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, dl): per-document token count under the engine tokenizer.

    `F.size` on the token array is a zero-shuffle projection; the
    groupBy exists only when callers feed pre-exploded tokens, so here
    the exchange count is zero — dl never touches a shuffle until a
    consumer joins it."""
    return docs.select(
        F.col(id_col),
        F.size(tokens_column(F.col(text_col))).alias("dl"),
    )


def query_terms(
    queries: DataFrame, id_col: str = "query_id", text_col: str = "text"
) -> DataFrame:
    """(query_id, term): DISTINCT normalized terms per query — short
    queries score each term once (the standard BM25 bag-of-distinct
    form for query-side weights of 1)."""
    return (
        queries.select(
            F.col(id_col),
            F.explode(tokens_column(F.col(text_col))).alias("term"),
        )
        .distinct()
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "text",
) -> DataFrame:
    """Top-k documents per query under integer micro-unit BM25.

    Returns (query_id, doc_id, score_mu, n_terms, rank): `score_mu`
    is the exact integer micro-unit BM25 sum defined in the module
    docstring, `n_terms` the count of distinct query terms the doc
    matched, `rank` 1..k by (score_mu DESC, doc_id ASC) — the
    deterministic id tiebreak every ranking surface in this repo uses.
    Queries with no matching document simply return no rows (honest:
    an empty result, not a fabricated zero row).

    Plan: the query vocabulary (bounded — queries are human-sized) is
    collected once and pushed as an IN-set filter on the raw token
    stream, so the (doc_id, term) aggregation, df counts, dl join and
    scoring all run over matched postings only. The corpus-wide work
    is the one dl exchange; everything heavier is candidate-sized.
    """
    k1_mu = int(round(k1 * _MU))
    b_mu = int(round(b * _MU))
    if not (0 < k1_mu and 0 <= b_mu <= _MU):
        raise ValueError(f"k1={k1}, b={b} out of range (k1>0, 0<=b<=1)")

    qt = query_terms(queries, query_id_col, query_text_col)
    # bounded: the distinct query vocabulary (human-entered queries)
    vocab = [r["term"] for r in qt.select("term").distinct().collect()]
    if not vocab:
        raise ValueError("queries tokenize to an empty vocabulary")

    toks = docs.select(
        F.col(id_col),
        F.explode(tokens_column(F.col(text_col))).alias("term"),
    )
    dl = docs.select(
        F.col(id_col), F.size(tokens_column(F.col(text_col))).alias("dl")
    )
    # two bounded scalars: corpus doc count and token count
    n_docs, sum_dl = dl.agg(
        F.count(F.lit(1)), F.coalesce(F.sum("dl"), F.lit(0))
    ).first()
    if n_docs == 0:
        raise ValueError("empty corpus")
    avgdl_mu = (_MU * int(sum_dl)) // int(n_docs)
    if avgdl_mu <= 0:
        raise ValueError("corpus tokenizes to zero tokens")

    # matched postings only: IN-set filter BEFORE the (doc, term) agg.
    # repeated_scans receipt: TWO consumers (df/idf and the scoring
    # join) compile the matched subtree twice, but both sides reach it
    # through ONE structurally identical (doc_id, term) exchange that
    # AQE reuses at runtime (the dedup_simhash_pairs receipt) —
    # measured at sf0.1: pinning is a wash (3.00 s pinned vs 2.94 s
    # unpinned warm), so per the measure-first rule it stays unpinned
    # and the library keeps lazy semantics. The doc-length frame is
    # deliberately a SECOND columnar scan: deriving dl from the
    # exploded token stream would put a corpus-wide token exchange (or
    # a corpus-sized checkpoint) where a cheap no-explode projection
    # scan suffices.
    matched = (
        toks.where(F.col("term").isin(vocab))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return _bm25_score(
        matched, dl, int(n_docs), avgdl_mu, qt, k, k1_mu, b_mu,
        id_col, query_id_col,
    )


def _bm25_score(
    matched: DataFrame,
    dl: DataFrame,
    n_docs: int,
    avgdl_mu: int,
    qt: DataFrame,
    k: int,
    k1_mu: int,
    b_mu: int,
    id_col: str,
    query_id_col: str,
) -> DataFrame:
    """The shared micro-unit scoring + ranking chain over matched
    postings (inline and persisted faces both end here); see the
    module docstring for the step-by-step contract.

    int64 guards (r14, ADVICE): the two inputs that can push a product
    past 2^63-1 are dl (lr_mu = 1e12*dl, plus the downstream
    b_mu*lr_mu and k1_mu*norm_mu products) and tf
    (tf*(k1_mu+1e6)*1e6). Both caps are computed driver-side from the
    known constants (avgdl_mu, b_mu, k1_mu) and enforced INSIDE the
    scoring expressions via raise_error, so the check rides the same
    scan — no extra pass, and a violating row fails the job loudly
    with the offending value instead of an opaque ANSI-mode
    ArithmeticException (or, with ANSI off, a silently negative
    score that would diverge from the DuckDB oracle, which errors)."""
    i64 = (1 << 63) - 1
    # dl cap: 1e12*dl fits; and via lr_mu(dl) = (1e12*dl) div avgdl_mu,
    # b_mu*lr_mu and k1_mu*norm_mu (norm_mu = 1e6-b_mu+(b_mu*lr_mu)
    # div 1e6) fit. For b_mu=0 lr_mu never amplifies downstream.
    dl_caps = [i64 // (_MU * _MU)]
    if b_mu > 0:
        lr_cap = min(i64 // b_mu, ((i64 // k1_mu - _MU) * _MU) // b_mu)
        dl_caps.append(max((lr_cap * avgdl_mu) // (_MU * _MU), 0))
    dl_cap = min(dl_caps)
    tf_cap = i64 // ((k1_mu + _MU) * _MU)
    dl_ok = (
        f"(CASE WHEN dl <= {dl_cap} THEN dl ELSE CAST(raise_error("
        f"concat('bm25: dl=', dl, ' exceeds the int64-safe cap "
        f"{dl_cap}')) AS BIGINT) END)"
    )
    tf_ok = (
        f"(CASE WHEN tf <= {tf_cap} THEN tf ELSE CAST(raise_error("
        f"concat('bm25: tf=', tf, ' exceeds the int64-safe cap "
        f"{tf_cap}')) AS BIGINT) END)"
    )
    # df over query terms only (matched is already one row per (doc,term))
    df_tbl = matched.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = df_tbl.select(
        "term",
        F.round(
            F.log(
                F.lit(1.0)
                + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            )
            * _MU
        )
        .cast("long")
        .alias("idf_mu"),
    )

    lr_mu = F.expr(f"({_MU * _MU} * {dl_ok}) div {avgdl_mu}")
    norm_mu = F.lit(_MU) - F.lit(b_mu) + F.expr(
        f"({b_mu} * lr_mu) div {_MU}"
    )
    scored = (
        matched.join(dl, id_col)
        .withColumn("lr_mu", lr_mu.cast("long"))
        .withColumn("norm_mu", norm_mu.cast("long"))
        .withColumn(
            "den_mu",
            F.expr(f"{_MU} * {tf_ok} + ({k1_mu} * norm_mu) div {_MU}"),
        )
        .withColumn(
            "tfp_mu",
            F.expr(f"({tf_ok} * {k1_mu + _MU} * {_MU}) div den_mu"),
        )
        .join(F.broadcast(idf), "term")
        .withColumn("contrib", F.expr(f"(idf_mu * tfp_mu) div {_MU}"))
    )
    per_query = (
        scored.join(F.broadcast(qt), "term")
        .groupBy(query_id_col, id_col)
        .agg(
            F.sum("contrib").alias("score_mu"),
            F.count(F.lit(1)).alias("n_terms"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("score_mu"), F.asc(id_col)
    )
    return (
        per_query.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            F.col("score_mu").cast("long").alias("score_mu"),
            F.col("n_terms").cast("long").alias("n_terms"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def _term_bucket_py(term: str, n_buckets: int) -> int:
    """Driver-side twin of the layout's term-bucket expression: first
    15 hex digits of md5(term) mod n_buckets — the repo's portable
    md5 idiom, computable identically in Python, Spark and DuckDB."""
    import hashlib

    return int(hashlib.md5(term.encode()).hexdigest()[:15], 16) % n_buckets


def _term_bucket_col(term: Column, n_buckets: int) -> Column:
    return (
        F.conv(F.substring(F.md5(term), 1, 15), 16, 10).cast("long")
        % n_buckets
    ).cast("int")


def persist_bm25_index(
    docs: DataFrame,
    path: str,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Build the inverted index ONCE and persist it hive-partitioned by
    TERM BUCKET (md5(term) mod n_buckets) — companion of
    ``bm25_topk_persisted``, the ``persist_ivf_lists`` convention for
    text: at 100 TB the tokenize+explode+aggregate over the whole
    corpus is the dominant repeated cost, and the bucket layout turns
    each later query into a directory-pruned scan of only the buckets
    the query's terms hash into (~|query vocabulary|/n_buckets of the
    postings). Partitioning by raw term would mean one directory per
    vocabulary entry (millions) — the bucket is the bounded middle.

    Layout under ``path``: ``postings/`` (term_bucket=*/...: doc_id,
    term, tf), ``doclen/`` (doc_id, dl), ``stats/`` (one row: n_docs,
    sum_dl — the scalars every later query needs without a corpus
    pass).

    Journals 'pending' BEFORE the first overwrite (mirroring
    ``update_bm25_index``): a rebuild over an existing layout that
    crashes mid-way would otherwise leave the PRIOR build's
    'committed' journal in place, making the mixed layout look
    committed to ``check_bm25_index`` — the rebuild recovery path
    must itself be crash-detectable."""
    with journaled(docs.sparkSession, path):
        toks = docs.select(
            F.col(id_col),
            F.explode(tokens_column(F.col(text_col))).alias("term"),
        )
        postings = (
            toks.groupBy(id_col, "term")
            .agg(F.count(F.lit(1)).alias("tf"))
            .withColumn(
                "term_bucket", _term_bucket_col(F.col("term"), n_buckets)
            )
        )
        # Cluster rows by their hive partition before the partitioned
        # write (guide-§6 small-files rule, the write_training_shards
        # pattern): without it every write task sprays one file into
        # every bucket directory it holds — tasks × n_buckets tiny files
        # whose open/list cost every later read-back and pruned query
        # pays. One hash exchange of the postings buys one file per
        # bucket.
        postings.repartition("term_bucket").write.mode(
            "overwrite"
        ).partitionBy("term_bucket").parquet(f"{path}/postings")
        dl = docs.select(
            F.col(id_col), F.size(tokens_column(F.col(text_col))).alias("dl")
        )
        dl.write.mode("overwrite").parquet(f"{path}/doclen")
        dl.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum("dl"), F.lit(0)).alias("sum_dl"),
        ).write.mode("overwrite").parquet(f"{path}/stats")


def check_bm25_index(spark, path: str, deep: bool = False) -> dict:
    """Consistency probe for a ``persist_bm25_index`` layout.

    Cheap check (always): the commit journal must read back exactly
    one 'committed' row — a crashed ``update_bm25_index`` leaves
    'pending' (or an unreadable journal dir), and an index in that
    state has postings/doclen rows the stats table does not count, so
    every later query is silently skewed. Deep check (``deep=True``,
    one columnar pass over doclen): count/sum of doclen must equal
    the stats row — catches corruption the journal can't see (manual
    layout edits, a lost stats file).

    Raises ValueError with the failing invariant; returns
    ``{"journal": "committed", "n_docs": ..., "sum_dl": ...}`` on
    success. Recovery from a failed update is REBUILD
    (``persist_bm25_index`` over the full corpus): re-running the
    update is unsafe — its appends may have landed, and appending
    twice double-counts the shard."""
    require_committed(
        spark, path, "bm25 index",
        "rebuild (re-running the update would double-append)",
    )
    n_docs, sum_dl = (
        spark.read.parquet(f"{path}/stats").select("n_docs", "sum_dl").first()
    )
    if deep:
        got_n, got_sd = (
            spark.read.parquet(f"{path}/doclen")
            .agg(F.count(F.lit(1)), F.coalesce(F.sum("dl"), F.lit(0)))
            .first()
        )
        if (int(got_n), int(got_sd)) != (int(n_docs), int(sum_dl)):
            raise ValueError(
                f"bm25 index at {path}: doclen has {got_n} docs / "
                f"{got_sd} tokens but stats says {n_docs} / {sum_dl} "
                "— layout corrupted; rebuild"
            )
    return {
        "journal": "committed",
        "n_docs": int(n_docs),
        "sum_dl": int(sum_dl),
    }


def bm25_topk_persisted(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "text",
) -> DataFrame:
    """BM25 top-k over a ``persist_bm25_index`` layout: the query
    vocabulary's term buckets come from the driver-side md5 twin
    (bounded — one int per distinct query term) and filter the
    postings scan with ``term_bucket IN (...)`` so hive partition
    pruning reads ONLY those bucket directories; the residual
    ``term IN`` filter cuts the bucket's other terms at the scan.
    Results are identical to ``bm25_topk`` over the same corpus
    (equivalence-tested; the gate shares the inline oracle —
    persistence must be invisible). ``n_buckets`` must match the
    layout's."""
    k1_mu = int(round(k1 * _MU))
    b_mu = int(round(b * _MU))
    if not (0 < k1_mu and 0 <= b_mu <= _MU):
        raise ValueError(f"k1={k1}, b={b} out of range (k1>0, 0<=b<=1)")
    qt = query_terms(queries, query_id_col, query_text_col)
    vocab = [r["term"] for r in qt.select("term").distinct().collect()]
    if not vocab:
        raise ValueError("queries tokenize to an empty vocabulary")
    buckets = sorted({_term_bucket_py(t, n_buckets) for t in vocab})

    n_docs, sum_dl = (
        spark.read.parquet(f"{path}/stats")
        .select("n_docs", "sum_dl")
        .first()
    )
    if n_docs == 0:
        raise ValueError("empty corpus")
    avgdl_mu = (_MU * int(sum_dl)) // int(n_docs)
    if avgdl_mu <= 0:
        raise ValueError("corpus tokenizes to zero tokens")
    matched = (
        spark.read.parquet(f"{path}/postings")
        .where(F.col("term_bucket").isin(buckets))
        .where(F.col("term").isin(vocab))
        .select(id_col, "term", "tf")
    )
    dl = spark.read.parquet(f"{path}/doclen")
    return _bm25_score(
        matched, dl, int(n_docs), avgdl_mu, qt, k, k1_mu, b_mu,
        id_col, query_id_col,
    )


def update_bm25_index(
    new_docs: DataFrame,
    path: str,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Append a new shard to a ``persist_bm25_index`` layout — the
    repeated-curation workflow (the ``dedup_incremental`` convention
    for the index side): the corpus grows by a crawl increment and the
    index absorbs it without re-tokenizing what's already indexed.

    The shard's postings and doc lengths APPEND (same bucket layout,
    so query-time pruning is unchanged); the one-row stats table
    becomes old + shard — an exact integer add, so a later query sees
    exactly the stats a full rebuild would produce (equivalence-tested:
    build(A) + update(B) == build(A ∪ B) query-for-query).

    Contract: shard ids must be DISJOINT from the indexed corpus — a
    re-ingested id would double-count its postings. That is the same
    append-only contract the WARC/CDX side documents; validating it
    would scan the full index and defeat the increment. Not
    transactional for CONCURRENT READERS: a reader racing the update
    can see the new postings before the new stats — version the
    layout path for that (the ``name@version`` convention in
    sinks.write_bucketed). Crash/retry safety (r14, ADVICE): the
    update journals 'pending' before its first mutating job and
    'committed' only after the stats flip, so a crash between the
    appends and the stats overwrite is DETECTED by
    ``check_bm25_index`` instead of permanently skewing df against
    n_docs with no trace. A failed update means REBUILD — re-running
    it would double-append the shard. ``n_buckets`` must match the
    layout's."""
    spark = new_docs.sparkSession
    with journaled(spark, path):
        toks = new_docs.select(
            F.col(id_col),
            F.explode(tokens_column(F.col(text_col))).alias("term"),
        )
        postings = (
            toks.groupBy(id_col, "term")
            .agg(F.count(F.lit(1)).alias("tf"))
            .withColumn(
                "term_bucket", _term_bucket_col(F.col("term"), n_buckets)
            )
        )
        # Same bucket-clustered write as persist (guide-§6 small-files
        # rule): the append would otherwise spray tasks × n_buckets files.
        postings.repartition("term_bucket").write.mode("append").partitionBy(
            "term_bucket"
        ).parquet(f"{path}/postings")
        dl = new_docs.select(
            F.col(id_col), F.size(tokens_column(F.col(text_col))).alias("dl")
        )
        dl.write.mode("append").parquet(f"{path}/doclen")
        old_n, old_sd = (
            spark.read.parquet(f"{path}/stats")
            .select("n_docs", "sum_dl")
            .first()
        )
        add_n, add_sd = dl.agg(
            F.count(F.lit(1)), F.coalesce(F.sum("dl"), F.lit(0))
        ).first()
        # JVM-side one-row frame (the sinks.journaled lesson) — the
        # Python-local-list form pays a Python-worker round-trip per write.
        spark.range(1).select(
            F.lit(int(old_n) + int(add_n)).cast("long").alias("n_docs"),
            F.lit(int(old_sd) + int(add_sd)).cast("long").alias("sum_dl"),
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/stats")


def rrf_fuse(
    ranked_lists: list[DataFrame],
    k: int = 10,
    k_rrf: int = 60,
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009)
    over any number of per-query ranked lists — the standard hybrid-
    retrieval combiner (lexical BM25 ∪ semantic ANN is the canonical
    pair; at training-data scale it is the hard-negative-mining query:
    documents that one retriever ranks high and the other misses).

    Exact integer contract (the house micro-unit discipline):

      contrib_mu = 1e6 div (k_rrf + rank)   per (list, query, doc)
      rrf_mu     = Σ contrib_mu             over the lists
      rank       = row_number by (rrf_mu DESC, id ASC)

    k_rrf=60 is the paper's constant. All inputs are top-k lists
    (|queries|·k rows each), so the union, the (query, doc) aggregation
    and the final window are candidate-sized — nothing here touches
    the corpus; the upstream retrievers already did the heavy work.

    Returns (query_id, id, rrf_mu, n_lists, rank) rows with
    rank ≤ ``k``; ``n_lists`` counts how many input lists surfaced the
    document (1 = found by only one retriever — the disagreement set
    hard-negative mining feeds on)."""
    if not ranked_lists:
        raise ValueError("rrf_fuse needs at least one ranked list")
    if k_rrf < 0:
        raise ValueError(f"k_rrf must be non-negative, got {k_rrf}")
    parts = [
        df.select(
            F.col(query_id_col),
            F.col(id_col),
            F.expr(f"{_MU} div ({k_rrf} + {rank_col})")
            .cast("long")
            .alias("__contrib"),
        )
        for df in ranked_lists
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy(query_id_col, id_col).agg(
        F.sum("__contrib").cast("long").alias("rrf_mu"),
        F.count(F.lit(1)).cast("long").alias("n_lists"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("rrf_mu"), F.asc(id_col)
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            query_id_col, id_col, "rrf_mu", "n_lists",
            F.col("rank").cast("int").alias("rank"),
        )
    )
