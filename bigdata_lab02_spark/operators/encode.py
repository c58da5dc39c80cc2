"""Dictionary encoding & doc-term counting (SURVEY.md §2 P2-P5).

Reference pipeline (``DataProcessing/task1_1*.java``): tokens are filtered
against a 300-word stopword list, distinct terms/docs get dense sequential
ids assigned in sorted order by a single reducer, and the corpus becomes a
COO doc-term count matrix via DistributedCache dictionary lookups.

Spark-first choices:

- **Stopword filter (P2)**: the list is tiny → an ``isin`` literal filter
  (codegen'd, pushed below the shuffle).
- **Dense sequential ids (P3/P4)**: the reference's single-reducer counter
  (``task1_1_1.java:121-135``) is a global-sort semantics. We express it as
  ``row_number()`` over a global ordering. An empty ``partitionBy`` window
  funnels through one task — fine for dictionary-sized data (vocab ~34k),
  and documented as the scalability seam: ``dense_ids(..., scalable=True)``
  uses a range-partitioned two-level rank that keeps id assignment
  distributed for billion-row dictionaries.
- **Counting (P5)**: ``groupBy(doc_id, term_id).count()`` — map-side partial
  aggregation replaces the reference's combiner-less word count; dictionary
  lookups are broadcast hash joins (no shuffle of the big side).

Reference quirk Q1 (stale-key re-emission on failed lookup,
``task1_1.java:155-158``) is a bug, not a semantic — we inner-join instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# ------------------------------------------------------------------ P2


def stopword_filter(tokens: DataFrame, stopwords: list[str], token_col: str = "token") -> DataFrame:
    """Drop stopword tokens via a literal isin filter (P2).

    For the reference's 300-word list this folds into codegen as a hash-set
    probe per row — no join, no shuffle, evaluated at the scan.
    """
    return tokens.where(~F.col(token_col).isin(stopwords))


# ------------------------------------------------------------------ P3/P4


def dense_ids(
    df: DataFrame,
    key_col: str,
    id_col: str,
    start: int = 1,
    scalable: bool = False,
) -> DataFrame:
    """Distinct keys → dense sequential ids 1..N in ascending key order.

    Mirrors the reference's single-reducer counter semantics
    (``task1_1_1.java:133``, ``task1_1_2.java:109-123``): ids are dense,
    start at 1, and follow the sorted key order exactly.

    ``scalable=False`` (default): ``row_number()`` over a global-order
    window — one task sees all N keys. Correct and fast for
    dictionary-sized N (vocabularies, category lists).

    ``scalable=True``: a two-level rank, all DataFrame ops — id assignment
    stays distributed for dictionaries that are themselves big data. Same
    result, no single-task bottleneck, no driver round-trip:

    1. range-partition the distinct keys (partition p holds a contiguous
       sorted key range, so partition id order == key order),
    2. local rank: ``row_number()`` partitioned BY partition id (parallel —
       never the single-partition global window),
    3. per-partition offsets from the (tiny, #partitions-row) count table
       via a triangular self-join prefix sum — declarative, so no global
       window and no collect,
    4. id = offset + local rank, broadcast-joined back.
    """
    distinct = df.select(F.col(key_col)).distinct()
    if not scalable:
        w = Window.orderBy(F.col(key_col))
        return distinct.select(
            key_col, (F.row_number().over(w) + (start - 1)).cast("int").alias(id_col)
        )

    n = df.sparkSession.sparkContext.defaultParallelism
    # localCheckpoint() is load-bearing, not a cache hint: repartitionByRange
    # picks its boundaries by SAMPLING at exchange execution, so two separate
    # evaluations of `parts` (the local-rank branch and the counts branch)
    # can land keys in different partitions — offsets would then disagree
    # with the actual partition sizes and the ids shift (observed on the
    # skewed BBC vocabulary). The eager checkpoint pins ONE materialization
    # that both branches read and TRUNCATES LINEAGE, so the boundary draw
    # can never silently re-run (a lost block fails loudly instead of
    # recomputing with fresh samples), and the blocks are released when the
    # DataFrame is garbage-collected — unlike the previous persist(), which
    # leaked a storage entry per dictionary build.
    parts = (
        distinct.repartitionByRange(n, F.col(key_col))
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()
    )
    local = parts.withColumn(
        "__lr", F.row_number().over(Window.partitionBy("__pid").orderBy(key_col))
    )
    counts = parts.groupBy("__pid").agg(F.count("*").alias("__n"))
    offs = (
        counts.alias("a")
        .join(counts.alias("b"), F.col("b.__pid") < F.col("a.__pid"), "left")
        .groupBy(F.col("a.__pid").alias("__pid"))
        .agg(F.coalesce(F.sum("b.__n"), F.lit(0)).alias("__off"))
    )
    return local.join(F.broadcast(offs), "__pid").select(
        key_col,
        (F.col("__lr") + F.col("__off") + (start - 1)).cast("int").alias(id_col),
    )


def build_term_dict(tokens: DataFrame, token_col: str = "token", scalable: bool = False) -> DataFrame:
    """P3: distinct terms → (term, term_id) with ids 1..N in sorted term
    order (golden: Output1_1_1, 33,988 terms)."""
    return dense_ids(
        tokens.select(F.col(token_col).alias("term")), "term", "term_id", scalable=scalable
    )


def build_doc_dict(corpus: DataFrame, doc_col: str = "doc", scalable: bool = False) -> DataFrame:
    """P4: distinct docs → (doc, doc_id) with ids 1..N in sorted doc-name
    order (golden: Output1_1_2, 2,225 docs)."""
    return dense_ids(
        corpus.select(F.col(doc_col).alias("doc")), "doc", "doc_id", scalable=scalable
    )


# ------------------------------------------------------------------ P5


def doc_term_counts(
    tokens: DataFrame,
    term_dict: DataFrame,
    doc_dict: DataFrame,
    doc_col: str = "doc",
    token_col: str = "token",
) -> DataFrame:
    """P5: encode + count → (doc_id, term_id, count).

    Aggregates BEFORE the dictionary joins (the post-aggregate stream is
    much smaller than the raw token stream) and both dictionaries are
    broadcast — the token stream (the 100 TB side) never shuffles for the
    join; the only exchange is the partial-aggregated groupBy.
    Reference: ``task1_1.java:155-177``.
    """
    counted = tokens.groupBy(doc_col, token_col).agg(F.count("*").alias("count"))
    return encode_counted(counted, term_dict, doc_dict, doc_col, token_col)


def doc_term_counts_strict(
    corpus_whole: DataFrame,
    stopwords: list[str],
    term_dict: DataFrame,
    doc_dict: DataFrame,
    doc_col: str = "doc",
    text_col: str = "text",
) -> DataFrame:
    """P5 in STRICT-REFERENCE mode: replicates quirk Q1 exactly
    (``task1_1.java:155-158``) so golden ``Output1_1`` reproduces
    bit-for-bit. Default mode (``doc_term_counts``) keeps the correct
    semantics; this exists purely for parity (SURVEY quirk policy).

    The reference mapper writes its ``word`` key UNCONDITIONALLY for every
    non-stopword token but only overwrites it when both dictionary lookups
    succeed. The term dict holds every non-empty cleaned non-stopword
    token, so the only failing lookup is a token that cleans to "" — which
    re-emits the PREVIOUS (doc, term) pair. ``word`` is a per-task mapper
    field and each file is one split, so the stale key carries across
    lines within a file, never across files.

    Expressed declaratively: whitespace-split the whole file (pre-clean
    empties dropped — StringTokenizer artifacts, not Q1 triggers), clean,
    drop stopwords but KEEP post-clean empties, then carry the last
    non-empty token forward over a per-doc position window and count. The
    window partitions by doc (the corpus's natural parallelism), so strict
    mode scales with document count like every other per-doc operator.
    """
    from bigdata_lab02_spark.functions.text import normalize_token

    raw = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    cleaned = F.transform(raw, normalize_token)
    kept = F.filter(cleaned, lambda t: ~t.isin(stopwords))
    toks = corpus_whole.select(
        F.col(doc_col), F.posexplode(kept).alias("pos", "token")
    )
    w = (
        Window.partitionBy(doc_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = toks.withColumn(
        "token",
        F.last(F.when(F.col("token") != "", F.col("token")), ignorenulls=True).over(w),
    )
    counted = (
        carried.where(F.col("token").isNotNull())
        .groupBy(doc_col, "token")
        .agg(F.count("*").alias("count"))
    )
    return encode_counted(
        counted, term_dict, doc_dict, doc_col=doc_col, token_col="token"
    )


def encode_counted(
    counted: DataFrame,
    term_dict: DataFrame,
    doc_dict: DataFrame,
    doc_col: str = "doc",
    token_col: str = "token",
) -> DataFrame:
    """Dictionary-encode a pre-aggregated (doc, token, count) stream →
    (doc_id, term_id, count). Shared by ``doc_term_counts`` and the
    pipeline facade so the P5 join logic exists once."""
    return (
        counted.join(
            F.broadcast(term_dict), counted[token_col] == term_dict["term"]
        )
        .join(F.broadcast(doc_dict), counted[doc_col] == doc_dict["doc"])
        .select("doc_id", "term_id", "count")
    )
