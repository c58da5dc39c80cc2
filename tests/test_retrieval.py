"""BM25 retrieval (operators/retrieval.py): hand-computed micro-unit
scores on a tiny corpus, ranking properties, and contract edges."""

from __future__ import annotations

import math

import pytest

from bigdata_lab02_spark.operators import retrieval as rt
from bigdata_lab02_spark.sources.sinks import journaled

MU = 1_000_000


def _mk(spark, rows, schema="doc_id long, text string"):
    return spark.createDataFrame(rows, schema)


def _bm25_mu(tf, dl, n_docs, sum_dl, df, k1_mu=1_200_000, b_mu=750_000):
    """Pure-python replay of the module's integer contract."""
    avgdl_mu = (MU * sum_dl) // n_docs
    lr_mu = (MU * MU * dl) // avgdl_mu
    norm_mu = MU - b_mu + (b_mu * lr_mu) // MU
    den_mu = MU * tf + (k1_mu * norm_mu) // MU
    tfp_mu = (tf * (k1_mu + MU) * MU) // den_mu
    idf_mu = round(MU * math.log(1 + (n_docs - df + 0.5) / (df + 0.5)))
    return (idf_mu * tfp_mu) // MU


def test_hand_computed_scores(spark):
    # 3 docs: "cat" in doc 1 (tf=2) and doc 2 (tf=1); "dog" only doc 3.
    docs = _mk(
        spark,
        [
            (1, "cat cat fish"),
            (2, "cat bird bird bird"),
            (3, "dog fish"),
        ],
    )
    queries = _mk(spark, [(0, "cat")], "query_id int, text string")
    out = rt.bm25_topk(docs, queries, k=10).collect()
    got = {(r.query_id, r.doc_id): r.score_mu for r in out}
    # corpus stats: N=3, SD = 3+4+2 = 9
    exp1 = _bm25_mu(tf=2, dl=3, n_docs=3, sum_dl=9, df=2)
    exp2 = _bm25_mu(tf=1, dl=4, n_docs=3, sum_dl=9, df=2)
    assert got == {(0, 1): exp1, (0, 2): exp2}
    ranks = {(r.query_id, r.doc_id): r.rank for r in out}
    assert ranks[(0, 1)] == 1 and ranks[(0, 2)] == 2


def test_multi_term_sum_and_n_terms(spark):
    docs = _mk(spark, [(1, "cat dog"), (2, "cat cat cat")])
    queries = _mk(spark, [(7, "cat dog")], "query_id int, text string")
    out = {r.doc_id: r for r in rt.bm25_topk(docs, queries, k=5).collect()}
    assert out[1].n_terms == 2 and out[2].n_terms == 1
    exp_doc1 = _bm25_mu(1, 2, 2, 5, 2) + _bm25_mu(1, 2, 2, 5, 1)
    assert out[1].score_mu == exp_doc1


def test_rare_term_outranks_common_at_equal_tf(spark):
    # "rare" df=1, "common" df=4: same tf/dl -> rare-matching doc wins.
    docs = _mk(
        spark,
        [
            (1, "rare pad pad"),
            (2, "common pad pad"),
            (3, "common x y"),
            (4, "common a b"),
            (5, "common c d"),
        ],
    )
    queries = _mk(
        spark, [(0, "rare"), (1, "common")], "query_id int, text string"
    )
    out = rt.bm25_topk(docs, queries, k=1).collect()
    top = {r.query_id: r for r in out}
    assert top[0].doc_id == 1
    assert top[0].score_mu > top[1].score_mu


def test_absent_term_contributes_nothing(spark):
    docs = _mk(spark, [(1, "cat dog"), (2, "cat")])
    q_one = _mk(spark, [(0, "cat")], "query_id int, text string")
    q_two = _mk(
        spark, [(0, "cat zzzabsent")], "query_id int, text string"
    )
    one = {r.doc_id: r.score_mu for r in rt.bm25_topk(docs, q_one).collect()}
    two = {r.doc_id: r.score_mu for r in rt.bm25_topk(docs, q_two).collect()}
    assert one == two


def test_no_match_returns_no_rows(spark):
    docs = _mk(spark, [(1, "cat dog")])
    queries = _mk(
        spark,
        [(0, "zzz qqq"), (1, "cat")],
        "query_id int, text string",
    )
    out = rt.bm25_topk(docs, queries).collect()
    assert {r.query_id for r in out} == {1}


def test_tiebreak_is_doc_id_ascending(spark):
    # identical docs -> identical scores; rank must follow doc_id.
    docs = _mk(spark, [(9, "cat x"), (4, "cat x"), (7, "cat x")])
    queries = _mk(spark, [(0, "cat")], "query_id int, text string")
    out = sorted(rt.bm25_topk(docs, queries).collect(), key=lambda r: r.rank)
    assert [r.doc_id for r in out] == [4, 7, 9]
    assert len({r.score_mu for r in out}) == 1


def test_k_caps_results(spark):
    docs = _mk(spark, [(i, f"cat w{i}") for i in range(20)])
    queries = _mk(spark, [(0, "cat")], "query_id int, text string")
    assert rt.bm25_topk(docs, queries, k=5).count() == 5


def test_empty_query_vocabulary_raises(spark):
    docs = _mk(spark, [(1, "cat")])
    queries = _mk(spark, [(0, "!!")], "query_id int, text string")
    with pytest.raises(ValueError, match="empty vocabulary"):
        rt.bm25_topk(docs, queries)


def test_bad_params_raise(spark):
    docs = _mk(spark, [(1, "cat")])
    queries = _mk(spark, [(0, "cat")], "query_id int, text string")
    with pytest.raises(ValueError, match="out of range"):
        rt.bm25_topk(docs, queries, b=1.5)


def test_int64_guards_raise_loudly(spark):
    # r14 ADVICE guard: dl / tf values that would overflow the int64
    # micro-unit products must fail the job with a self-describing
    # error, not wrap or throw an opaque ArithmeticException. Feed
    # _bm25_score synthetic frames directly (a real 9.2M-token doc is
    # too slow for a unit test).
    qt = _mk(spark, [(0, "cat")], "query_id int, term string")
    big_dl = _mk(spark, [(1, (1 << 63) // (MU * MU) + 1)],
                 "doc_id long, dl long")
    matched = _mk(spark, [(1, "cat", 3)], "doc_id long, term string, tf long")
    with pytest.raises(Exception, match="int64-safe cap"):
        rt._bm25_score(
            matched, big_dl, 1, MU, qt, 10, 1_200_000, 750_000,
            "doc_id", "query_id",
        ).collect()
    ok_dl = _mk(spark, [(1, 5)], "doc_id long, dl long")
    big_tf = _mk(spark, [(1, "cat", (1 << 62))],
                 "doc_id long, term string, tf long")
    with pytest.raises(Exception, match="int64-safe cap"):
        rt._bm25_score(
            big_tf, ok_dl, 1, MU, qt, 10, 1_200_000, 750_000,
            "doc_id", "query_id",
        ).collect()


def test_doc_lengths_and_query_terms(spark):
    docs = _mk(spark, [(1, "Cat, the DOG!"), (2, "")])
    dl = {r[0]: r.dl for r in rt.doc_lengths(docs).collect()}
    assert dl == {1: 3, 2: 0}
    queries = _mk(
        spark, [(0, "cat CAT cat dog")], "query_id int, text string"
    )
    qt = rt.query_terms(queries).collect()
    assert sorted((r.query_id, r.term) for r in qt) == [(0, "cat"), (0, "dog")]


# --------------------------------------- persisted index (r13)


def test_persisted_equals_inline(spark, tmp_path):
    docs = _mk(
        spark,
        [(i, f"cat w{i % 7} dog" if i % 2 else f"cat w{i % 7}") for i in range(40)],
    )
    queries = _mk(
        spark, [(0, "cat dog"), (1, "w3")], "query_id int, text string"
    )
    path = str(tmp_path / "idx")
    rt.persist_bm25_index(docs, path, n_buckets=8)
    inline = sorted(
        tuple(r) for r in rt.bm25_topk(docs, queries, k=10).collect()
    )
    persisted = sorted(
        tuple(r)
        for r in rt.bm25_topk_persisted(
            spark, path, queries, k=10, n_buckets=8
        ).collect()
    )
    assert inline == persisted and len(inline) > 0


def test_persisted_scan_is_partition_pruned(spark, tmp_path):
    docs = _mk(spark, [(i, f"t{i % 30} filler") for i in range(60)])
    queries = _mk(spark, [(0, "t3")], "query_id int, text string")
    path = str(tmp_path / "idx")
    rt.persist_bm25_index(docs, path, n_buckets=16)
    out = rt.bm25_topk_persisted(spark, path, queries, n_buckets=16)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the postings scan must carry the bucket partition filter so hive
    # pruning reads only the query terms' directories
    assert "PartitionFilters" in plan and "term_bucket" in plan
    b = rt._term_bucket_py("t3", 16)
    assert f"term_bucket#" in plan or str(b) in plan
    assert out.count() > 0


def test_term_bucket_twins_agree(spark):
    from pyspark.sql import functions as F

    terms = [f"tok{i}" for i in range(50)] + ["café", "naïve", ""]
    df = spark.createDataFrame([(t,) for t in terms], "term string")
    got = {
        r.term: r.b
        for r in df.select(
            "term", rt._term_bucket_col(F.col("term"), 64).alias("b")
        ).collect()
    }
    assert got == {t: rt._term_bucket_py(t, 64) for t in terms}


def test_index_journal_and_consistency_probe(spark, tmp_path):
    # r14 ADVICE: a crash between the postings/doclen appends and the
    # stats overwrite must be detectable, not silently skew df vs
    # n_docs forever.
    path = str(tmp_path / "idx")
    docs = _mk(spark, [(1, "cat dog"), (2, "cat")])
    rt.persist_bm25_index(docs, path, n_buckets=4)
    got = rt.check_bm25_index(spark, path, deep=True)
    assert got == {"journal": "committed", "n_docs": 2, "sum_dl": 3}

    rt.update_bm25_index(_mk(spark, [(3, "dog emu")]), path, n_buckets=4)
    got = rt.check_bm25_index(spark, path, deep=True)
    assert got == {"journal": "committed", "n_docs": 3, "sum_dl": 5}

    # simulate the crash window: journal left 'pending'
    crash = journaled(spark, path)
    crash.__enter__()
    with pytest.raises(ValueError, match="crashed mid-flight"):
        rt.check_bm25_index(spark, path)
    crash.__exit__(None, None, None)

    # deep probe catches a stats/doclen skew the journal can't see
    spark.createDataFrame([(99, 5)], "n_docs long, sum_dl long").write.mode(
        "overwrite"
    ).parquet(f"{path}/stats")
    with pytest.raises(ValueError, match="layout corrupted"):
        rt.check_bm25_index(spark, path, deep=True)

    # pre-journal / missing-journal layout reads as "rebuild"
    with pytest.raises(ValueError, match="journal unreadable"):
        rt.check_bm25_index(spark, str(tmp_path / "nope"))


def test_rebuild_over_existing_layout_journals_pending_first(
    spark, tmp_path, monkeypatch
):
    # r15 ADVICE: a REBUILD over an existing committed layout must flip
    # the journal to 'pending' before its first overwrite — otherwise a
    # crash mid-rebuild leaves the PRIOR build's 'committed' journal
    # over a mixed layout and the documented recovery path (rebuild) is
    # itself undetectable when it crashes.
    path = str(tmp_path / "idx")
    docs = _mk(spark, [(1, "cat dog"), (2, "cat")])
    rt.persist_bm25_index(docs, path, n_buckets=4)
    assert rt.check_bm25_index(spark, path)["journal"] == "committed"

    # crash the rebuild right after its first mutating write (postings).
    # Patch the RUNTIME class (pyspark.sql.DataFrame is an ABC in
    # Spark 4; the classic subclass overrides .write).
    df_cls = type(docs)
    real_write = df_cls.write.fget

    class _Boom(Exception):
        pass

    calls = {"n": 0}

    def crashing_write(self):
        calls["n"] += 1
        if calls["n"] >= 2:  # journal write is call 1; postings is 2
            raise _Boom()
        return real_write(self)

    monkeypatch.setattr(df_cls, "write", property(crashing_write))
    with pytest.raises(_Boom):
        rt.persist_bm25_index(_mk(spark, [(9, "emu")]), path, n_buckets=4)
    monkeypatch.undo()

    # the half-rebuilt layout must now read as crashed, not committed
    with pytest.raises(ValueError, match="crashed mid-flight"):
        rt.check_bm25_index(spark, path)


def test_incremental_update_equals_full_rebuild(spark, tmp_path):
    rows = [
        (i, f"cat w{i % 9} dog" if i % 3 else f"cat w{i % 9}")
        for i in range(50)
    ]
    a = _mk(spark, [r for r in rows if r[0] % 2 == 0])
    b = _mk(spark, [r for r in rows if r[0] % 2 == 1])
    full = _mk(spark, rows)
    queries = _mk(
        spark, [(0, "cat dog"), (1, "w4")], "query_id int, text string"
    )
    inc_path, full_path = str(tmp_path / "inc"), str(tmp_path / "full")
    rt.persist_bm25_index(a, inc_path, n_buckets=8)
    rt.update_bm25_index(b, inc_path, n_buckets=8)
    rt.persist_bm25_index(full, full_path, n_buckets=8)
    inc = sorted(
        tuple(r)
        for r in rt.bm25_topk_persisted(
            spark, inc_path, queries, k=20, n_buckets=8
        ).collect()
    )
    reb = sorted(
        tuple(r)
        for r in rt.bm25_topk_persisted(
            spark, full_path, queries, k=20, n_buckets=8
        ).collect()
    )
    assert inc == reb and len(inc) > 0


def test_rrf_fuse_integer_contract(spark):
    # hand-computed: k_rrf=60 -> rank 1 contributes 1e6//61=16393,
    # rank 2 -> 16129, rank 3 -> 15873
    lex = _mk(spark, [(0, 7, 1), (0, 8, 2)],
              "query_id int, doc_id long, rank int")
    sem = _mk(spark, [(0, 8, 1), (0, 9, 2), (0, 7, 3)],
              "query_id int, doc_id long, rank int")
    out = {r.doc_id: (r.rrf_mu, r.n_lists, r.rank)
           for r in rt.rrf_fuse([lex, sem], k=10).collect()}
    assert out[8] == (16129 + 16393, 2, 1)   # lex rank 2 + sem rank 1
    assert out[7] == (16393 + 15873, 2, 2)   # lex rank 1 + sem rank 3
    assert out[9] == (16129, 1, 3)           # semantic-only, rank 2


def test_rrf_fuse_tiebreak_and_k(spark):
    lex = _mk(spark, [(0, 5, 1), (0, 3, 1)],  # impossible dup rank, but
              "query_id int, doc_id long, rank int")  # fusion is robust
    out = rt.rrf_fuse([lex], k=1).collect()
    assert len(out) == 1 and out[0].doc_id == 3  # id tiebreak ascending


def test_rrf_fuse_validation(spark):
    with pytest.raises(ValueError, match="at least one"):
        rt.rrf_fuse([])
    lex = _mk(spark, [(0, 1, 1)], "query_id int, doc_id long, rank int")
    with pytest.raises(ValueError, match="non-negative"):
        rt.rrf_fuse([lex], k_rrf=-1)
