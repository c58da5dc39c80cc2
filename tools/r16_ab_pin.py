#!/usr/bin/env python
"""Interleaved A/B of pin (localCheckpoint) candidates for optimization
round r16, session 2 (guide §1: measure first; §3.3/§5: truncate plans
that re-derive an expensive subtree per consumer).

Arms alternate inside ONE session ([off, on] x reps) through the noop
sink so host drift cancels. Candidates:

  embed_sem   embed_semantic_dedup: pin the featurize output (the
              trigram+md5 kernel is re-derived ~7x: corpus count,
              sample count, kmeans init, kmeans cache fill, pair-join
              a/b sides, keep join).
  hybrid      hybrid_retrieval: pin the corpus featurize before the
              cosine leg.

Usage: r16_ab_pin.py embed_sem hybrid [--reps=N]
"""
from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from bigdata_lab02_spark.session import get_spark  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def arm_embed_sem(spark, sf_dir, pin: bool):
    from bigdata_lab02_spark.operators.embed import (
        embed_featurize,
        embed_semantic_dedup,
    )
    from bigdata_lab02_spark.operators.similarity import (
        semantic_dedup_pipeline,
    )

    docs = entrymod._t(spark, sf_dir, "documents")
    if not pin:
        return embed_semantic_dedup(
            docs, dim=64, threshold=0.5, sample_mod=4, max_iter=2
        )
    vecs = embed_featurize(docs, dim=64).localCheckpoint()
    return semantic_dedup_pipeline(
        vecs.select("doc_id", "embedding"),
        threshold=0.5,
        id_col="doc_id",
        vec_col="embedding",
        sample_mod=4,
        max_iter=2,
        round_dp=6,
    )


def arm_hybrid(spark, sf_dir, pin: bool):
    if not pin:
        return entrymod.q_hybrid_retrieval(spark, sf_dir)
    # pinned variant: same construction but the corpus featurize is
    # checkpointed before the cosine leg
    from bigdata_lab02_spark.operators import retrieval as rt
    from bigdata_lab02_spark.operators.embed import embed_featurize
    from bigdata_lab02_spark.operators.similarity import cosine_topk
    from pyspark.sql import Window

    docs = entrymod._t(spark, sf_dir, "documents")
    queries = spark.createDataFrame(
        entrymod._BM25_QUERY_TEXTS, "query_id int, text string"
    )
    lex = rt.bm25_topk(docs, queries, k=20).select(
        "query_id", "doc_id", "rank"
    )
    fv = embed_featurize(docs, dim=64).localCheckpoint()
    qv = embed_featurize(queries, dim=64, id_col="query_id")
    shift = 1 << 40
    doc_ok = F.when(
        F.col("doc_id") < F.lit(shift), F.col("doc_id")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("hybrid_retrieval: doc_id="),
                F.col("doc_id").cast("string"),
                F.lit(f" >= query-id shift {shift}; raise the shift"),
            )
        ).cast("long")
    )
    sem_raw = cosine_topk(
        fv.select(doc_ok.alias("vec_id"), "embedding"),
        qv.select(
            (F.col("query_id") + shift).cast("long").alias("vec_id"),
            "embedding",
        ),
        k=20,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    sem = sem_raw.withColumn("rank", F.row_number().over(w)).select(
        (F.col("query_id") - shift).cast("int").alias("query_id"),
        F.col("neighbor_id").alias("doc_id"),
        "rank",
    )
    return rt.rrf_fuse([lex, sem], k=10)


ARMS = {"embed_sem": arm_embed_sem, "hybrid": arm_hybrid}


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    reps = 3
    for a in sys.argv[1:]:
        if a.startswith("--reps="):
            reps = int(a.split("=")[1])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="r16_ab_pin")
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").groupBy(
        "l_returnflag"
    ).count().write.format("noop").mode("overwrite").save()
    out: dict[str, dict[str, list[float]]] = {}
    for name in args:
        build = ARMS[name]
        walls: dict[str, list[float]] = {"off": [], "on": []}
        for rep in range(reps):
            # alternate the arm ORDER per rep: on this host the first
            # arm of a pair pays a systematic penalty (measured r16
            # session 2 — a fixed [off, on] order over-credits "on"),
            # so only effects that survive both orders are real
            order = (("off", False), ("on", True))
            if rep % 2:
                order = tuple(reversed(order))
            for arm, pin in order:
                spark.sparkContext.setJobDescription(
                    f"r16_ab_pin:{name}:{arm}"
                )
                t0 = time.time()
                _noop(build(spark, sf_dir, pin))
                walls[arm].append(round(time.time() - t0, 3))
        out[name] = walls
        print(
            f"# {name}: off={walls['off']} on={walls['on']}",
            file=sys.stderr,
        )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
