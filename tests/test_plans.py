"""Plan-shape regression tests: the properties that keep queries fast at
1000× the data, asserted on the actual physical plans (SURVEY.md §4).

A query silently regressing from broadcast-hash to sort-merge join, or
losing its scan-level filter pushdown, fails HERE — not 10× slower at the
next scale factor.
"""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as e
from bigdata_lab02_spark.plans import assert_pushdown, plan_report

SF = "/root/testdata/sf0.01"


def test_revenue_join_strategy_all_broadcast(spark):
    r = plan_report(e.queries()["revenue_by_nation"](spark, SF))
    # the fact table side must never sort-merge against the dims
    assert r.n_sortmerge_joins == 0
    assert r.n_broadcast_joins >= 3
    # lineitem⋈orders keys + final agg: at most 2 real shuffles
    assert r.n_exchanges <= 2


def test_top_customers_uses_bounded_topk(spark):
    # q_top_customers left the registry in round 5 (consolidated into
    # revenue_by_nation + p7_top_terms coverage) but stays as a bench-
    # comparability function; the plan property still holds.
    r = plan_report(e.q_top_customers(spark, SF))
    assert r.has_take_ordered  # TakeOrderedAndProject, not global sort


def test_p7_top_terms_uses_bounded_topk(spark):
    r = plan_report(e.queries()["p7_top_terms"](spark, SF))
    assert r.has_take_ordered  # TakeOrderedAndProject, not global sort


def test_pricing_summary_filter_pushdown(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.where(F.col("l_shipdate") <= F.lit("2001-09-02")).select(
        "l_returnflag", "l_quantity"
    )
    r = assert_pushdown(q, "l_shipdate")
    # column pruning: the scan reads only the 3 referenced columns
    assert "l_extendedprice" not in (r.read_schemas[0] if r.read_schemas else "")


def test_doc_term_matrix_dict_join_broadcast(spark):
    r = plan_report(e.queries()["p5_doc_term_matrix"](spark, SF))
    assert r.n_sortmerge_joins == 0
    assert r.n_broadcast_joins >= 1


def test_dedup_exact_single_shuffle(spark):
    r = plan_report(e.queries()["dedup_exact"](spark, SF))
    assert r.n_exchanges == 1  # one hash exchange on the digest


def test_embedding_topk_broadcasts_queries(spark):
    r = plan_report(e.q_embedding_topk(spark, SF))  # bench-only since r6
    # corpus side streams; query side broadcast (nested-loop w/ broadcast)
    assert "BroadcastNestedLoopJoin" in r.raw or r.n_broadcast_joins >= 1
    assert r.n_sortmerge_joins == 0


def test_chunk_docs_no_shuffle(spark):
    """Chunking is embarrassingly parallel — any Exchange in the plan means
    it stopped fusing with the scan."""
    r = plan_report(e.queries()["chunk_docs"](spark, SF))
    assert r.n_exchanges == 0


def test_contamination_broadcasts_probe_side(spark):
    """The probe (benchmark) side must broadcast; the corpus never
    shuffles for the shingle join."""
    r = plan_report(e.queries()["contamination"](spark, SF))
    assert r.n_broadcast_joins >= 1
    assert r.n_sortmerge_joins == 0


def test_keep_best_single_shuffle_shared_by_windows(spark):
    """Rank + group_size windows share ONE hash exchange on the group key."""
    r = plan_report(e.queries()["dedup_keep_best"](spark, SF))
    assert r.n_exchanges == 1


def test_ccnet_dedup_subtree_pinned_once(spark):
    """r12 (VERDICT r11 item 3): ccnet_pipeline's LID, LM and recombine
    branches all consume the dedup_lines result — without pinning, the
    compiled plan inlined the three-exchange dedup subtree into every
    consumer (measured: 16 posexplode copies, 30 exchanges, zero
    compile-time ReuseExchange). The localCheckpoint runs dedup ONCE;
    the consuming plan must contain no copy of its distinctive nodes."""
    r = plan_report(e.queries()["ccnet_pipeline"](spark, SF))
    assert r.raw.count("posexplode") == 0, "dedup subtree re-inlined"
    assert r.raw.count("__ndocs") == 0, "dedup count aggregate re-inlined"
    # the remaining work: LID projection + LM shuffles + recombine join
    assert r.n_exchanges <= 8, r.raw


def test_image_dedup_decode_subtree_pinned_once(spark):
    """r13 (VERDICT r12 item 1): the image gates fan the image_dhash
    result out to multiple consumers (pair self-join both sides,
    degree/CC, recombine) — unpinned, the r12 compiled plans inlined
    the decode+hash MapInPandas subtree FIVE times (PLANS.md r12
    receipt). With the localCheckpoint pin the decode executes once;
    the consuming plan must contain ZERO MapInPandas nodes (it reads
    the materialized 8-byte hash table) and no synthetic-image
    generator leaves."""
    for name in ("image_dedup", "image_dedup_clusters"):
        r = plan_report(e.queries()[name](spark, SF))
        assert r.n_map_in_pandas == 0, (name, r.raw)
        assert "Scan ExistingRDD" in r.raw, (name, r.raw)
        # the generator Range leaf must not appear N times either
        assert r.repeated_scans == 0, (name, r.raw)


def test_repeated_scans_counter_detects_reinlining(spark):
    """The plan_report.repeated_scans counter (VERDICT r12 item 2) must
    actually fire on the re-inlining class it exists for: an unpinned
    frame consumed by both sides of a self-join plans its leaf twice."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id")
    twice = docs.alias("a").join(
        docs.alias("b"), F.col("a.doc_id") == F.col("b.doc_id")
    )
    assert plan_report(twice).repeated_scans >= 1
    once = docs.localCheckpoint()
    pinned = once.alias("a").join(
        once.alias("b"), F.col("a.doc_id") == F.col("b.doc_id")
    )
    # pinned leaves are ExistingRDD scans — excluded by design
    assert plan_report(pinned).repeated_scans == 0


def test_composed_pipelines_repeated_scans_bounded(spark):
    """Structural guard over the composed gates: the number of repeated
    source leaves in each compiled plan must not exceed what the gate's
    documented shape expects (0 for the pinned pipelines; the bounded
    domain-cap's kept/dropped/exempt union triplicates its input by
    design, deduped at runtime by AQE reuse and made safe by the
    deterministic salt)."""
    expected = {
        "ccnet_pipeline": 0,
        "image_dedup": 0,
        "image_dedup_clusters": 0,
        "warc_crawl_pipeline": 0,
        "crawl_curation_pipeline": 0,
    }
    for name, cap in expected.items():
        r = plan_report(e.queries()[name](spark, SF))
        assert r.repeated_scans <= cap, (name, r.repeated_scans, r.raw)


def test_warc_crawl_pipeline_single_exchange(spark):
    """r12 (VERDICT r11 item 2): the full WARC→URL→crawl composition
    must keep exactly ONE exchange — the URL tier's norm_url recrawl-
    dedup window. Framing, HTTP split, charset decode, html strip, C4,
    Gopher and LID are all zero-shuffle projections around it; a
    second exchange means a stage stopped fusing."""
    r = plan_report(e.queries()["warc_crawl_pipeline"](spark, SF))
    assert r.n_exchanges == 1, r.raw
    assert r.n_sortmerge_joins == 0


def test_ctfidf_doc_side_join_is_size_gated(spark):
    """VERDICT r9 item 1: the P12/P13 doc-side dimension (one row PER
    DOCUMENT) must NOT carry a hard broadcast hint — when the engine
    deems the doc side too big to broadcast (simulated here by
    autoBroadcastJoinThreshold=-1), the join must plan as a shuffle
    join, not an executor-resident broadcast build. The term-dict
    broadcast (vocabulary-sized, explicitly hinted) survives, which is
    exactly the asymmetry the fix is about."""
    from bigdata_lab02_spark.operators.category import category_tfidf

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name in ("p12_ctfidf", "p13_category_top5"):
            r = plan_report(e.queries()[name](spark, SF))
            # un-hinted doc join degrades to a shuffle join under -1 ...
            assert r.n_sortmerge_joins + r.raw.count("ShuffledHashJoin") >= 1, name
            # ... while the hinted term-dict broadcast is still there
            assert r.n_broadcast_joins >= 1, name
        # the library twin: default must not hint the doc dictionary
        tfidf = spark.createDataFrame(
            [(1, 10, 0.5), (2, 10, 0.25)], "doc_id long, term_id long, tfidf double"
        )
        dd = spark.createDataFrame([(1, "a.x"), (2, "b.y")], "doc_id long, doc string")
        r = plan_report(category_tfidf(tfidf, dd))
        assert r.n_broadcast_joins == 0
        # opt-in still forces the build for known-bounded doc dims
        r = plan_report(category_tfidf(tfidf, dd, broadcast_docs=True))
        assert r.n_broadcast_joins >= 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bm25_persisted_scan_shapes(spark):
    """r13: the persisted-index query must carry the term_bucket
    partition filter (hive pruning reads only the query vocabulary's
    bucket directories) and never sort-merge — idf and the query-term
    table broadcast onto matched postings."""
    r = plan_report(e.queries()["bm25_persisted"](spark, SF))
    assert "term_bucket" in r.raw and "PartitionFilters" in r.raw
    assert r.n_sortmerge_joins == 0


def test_link_pagerank_final_round_rooted_at_checkpoints(spark):
    """r13: the audited pagerank plan is the final round over pinned
    frames (the kmeans driver-loop discipline) — no parquet re-scan,
    no repeated leaves, lineage O(1) across rounds."""
    r = plan_report(e.queries()["link_pagerank"](spark, SF))
    assert r.repeated_scans == 0
    assert "Scan parquet" not in r.raw  # rooted at checkpointed RDDs


def test_mixture_sample_post_checkpoint_shape(spark):
    """r13: the admission output is a local window over the PINNED
    range placement plus one broadcast offset join — no further
    corpus exchange after the checkpoint, no sort-merge."""
    r = plan_report(e.queries()["mixture_sample"](spark, SF))
    assert r.n_sortmerge_joins == 0
    assert r.repeated_scans == 0


def test_pretrain_capstone_ingest_pinned_once(spark):
    """r15: the capstone's exact-dedup survivor tier is pinned before
    the 5-way fan-out (minhash pair sides, classifier train+score,
    mixture, packing) — the WARC decode + URL tier subtree must never
    re-derive per consumer (repeated_scans=0; was 9 unpinned, 2.5x
    A/B in BENCHNOTES)."""
    r = plan_report(e.queries()["pretrain_corpus_pipeline"](spark, SF))
    assert r.repeated_scans == 0
    # r17: the decision-frame pins (near-dup drop ids, quality-keep
    # list) collapse the fan-out — 96 exchanges / 43 SMJs / 6 LeftAnti
    # copies of the anti-join before, 12 / 7 / 2 after. Bound the
    # count so a regression re-inflating the plan is caught.
    assert r.n_exchanges <= 16, (
        f"{r.n_exchanges} exchanges; observed 12 with the pins, 96 before "
        "them — just over the bound is likely planner drift, near 96 a "
        "re-inflated plan\n" + r.raw
    )


def test_hybrid_persisted_both_legs_pruned(spark):
    """r15: the deployed hybrid must keep BOTH index prunings — the
    postings scan carries the term_bucket partition filter AND a
    pushed term IN(...) residual; the IVF list scan carries the
    list_id partition filter."""
    r = plan_report(e.queries()["hybrid_retrieval_persisted"](spark, SF))
    assert "term_bucket" in r.raw and "PartitionFilters" in r.raw
    assert "list_id" in r.raw
    assert any("In(term" in p for p in r.pushed_filters if p)


def test_pretrain_increment_base_artifacts_pinned(spark):
    """r15: the shard job's plan must be shard-rooted — the base
    artifacts (survivor set, corpus, band table inputs, model) are
    pinned, so nothing base-sized re-derives per shard consumer."""
    r = plan_report(e.queries()["pretrain_increment_pipeline"](spark, SF))
    assert r.repeated_scans == 0


def test_pretrain_artifacts_update_rooted_at_layout(spark, tmp_path):
    """r16: the deployed shard absorb must read the base artifacts from
    the LAYOUT (parquet scans of urls/digests/corpus/bands), never
    re-derive them, and the returned decision frame is pinned
    (localCheckpoint) — its plan re-derives nothing (scan-free)."""
    from pyspark.sql import functions as F
    from bigdata_lab02_spark.functions.text import tokens_column
    from bigdata_lab02_spark.operators.pretrain import (
        persist_pretrain_artifacts,
        update_pretrain_artifacts,
    )

    sfx = spark.createDataFrame([("com",)], "suffix string")
    base = spark.createDataFrame(
        [(1, "http://a.com/p1", "alpha beta spark words", "a"),
         (2, "http://a.com/p2", "some other body entirely", "a")],
        "doc_id long, url string, text string, source string",
    )
    path = str(tmp_path / "arts_plan")
    persist_pretrain_artifacts(
        base, sfx,
        F.array_contains(tokens_column(F.col("text")), "spark"), path,
    )
    shard = spark.createDataFrame(
        [(5, "http://a.com/p5", "gamma delta spark fresh", "a")],
        "doc_id long, url string, text string, source string",
    )
    out = update_pretrain_artifacts(shard, sfx, path)
    r = plan_report(out)
    # pinned decisions: the caller's action replays a checkpoint, not
    # the chain — no parquet scan (and so no re-read of the layout the
    # update just mutated) survives in the returned plan
    assert "ExistingRDD" in r.raw or r.n_exchanges == 0
    assert "parquet" not in r.raw.lower()


def test_stream_pretrain_cands_plan_shape(spark):
    """r16: the streaming candidate plan (batch twin — the stream runs
    the same plan per micro-batch) must keep every join equi-keyed (no
    cartesian/nested-loop fan-out against the corpus-sized static
    sides — they are deliberately NOT broadcast, so shuffle/sort joins
    are the expected shape) while the URL tier's PSL/blocklist dims
    stay broadcast."""
    from pyspark.sql import functions as F
    from bigdata_lab02_spark.streaming.docs import (
        pretrain_candidates_stream,
    )

    sfx = spark.createDataFrame([("com",)], "suffix string")
    pages = spark.createDataFrame(
        [(1, "http://a.com/p1", "alpha beta gamma delta", "a")],
        "doc_id long, url string, text string, source string",
    )
    urls = spark.createDataFrame([("http://a.com/p1",)], "norm_url string")
    digests = spark.createDataFrame([("d",)], "digest string")
    bands = spark.createDataFrame(
        [(9, 0, "0|x|y")], "doc_id long, band_id int, band_hash string"
    )
    out = pretrain_candidates_stream(pages, sfx, urls, digests, bands)
    r = plan_report(out)
    assert "CartesianProduct" not in r.raw
    assert "BroadcastNestedLoopJoin" not in r.raw
    assert r.n_broadcast_joins >= 1  # the tier's dims


def test_tfidf_matrix_pins_its_input(spark):
    """r17: tfidf_matrix consumes its COO input three times (the n_docs
    scalar, the TF window side, the IDF aggregate side), so it pins the
    input once — the returned plan must be rooted at the pinned scan
    with no re-derived upstream chain."""
    from bigdata_lab02_spark.operators.matrix import tfidf_matrix

    coo = spark.createDataFrame(
        [(1, 1, 2), (1, 2, 1), (2, 1, 1)],
        "doc_id int, term_id int, count int",
    )
    r = plan_report(tfidf_matrix(coo))
    assert "Scan ExistingRDD" in r.raw  # rooted at the pin
    assert r.repeated_scans == 0


def test_p10_tfidf_exchange_count_bounded(spark):
    """r17 receipt: before the tfidf_matrix pin the p10 gate compiled to
    10 exchanges (the tokenize→aggregate→dictionary chain re-derived per
    consumer); pinned it is 2. Bound it so the re-inlining class cannot
    silently return."""
    r = plan_report(e.q_p10_tfidf(spark, SF))
    assert r.n_exchanges <= 4, (
        f"p10_tfidf exchanges={r.n_exchanges}; the tfidf_matrix input pin "
        "has stopped truncating the plan (was 10 unpinned, 2 pinned)"
    )
