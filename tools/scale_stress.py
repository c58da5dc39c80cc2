#!/usr/bin/env python
"""Fourth scaling point for the CONDITIONAL-scale operator family.

SCALING.md's three driver scale factors top out at sf0.1; the two
operators whose 100×-data wall growth exceeded 4× there
(`semantic_dedup_pipeline` 4.3×, `dedup_keep_best` 4.5× in round 4)
are exactly the ones whose scale safety is conditional (pair fan-out
bounded by cluster/fingerprint-group size), so fixed-overhead
amortization vs real super-linear growth must be separated BEFORE it
bites. This tool synthesizes a 4× sf0.1 corpus (documents + embeddings;
the other tables are copied through), times the family at sf0.1 and at
4×, and prints the markdown rows appended to SCALING.md.

The synthetic corpus is a deterministic 4-fold replica with per-copy
perturbation — texts get a per-copy suffix token and embeddings a small
per-copy sinusoidal offset — so replicas are NEAR-duplicates (realistic
shingle/cosine neighborhoods) rather than exact clones, and cluster /
fingerprint-group sizes grow the way a bigger crawl's would, not
degenerately. doc_id/vec_id are shifted by copy × 10^7.
"""

from __future__ import annotations

import shutil
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import duckdb  # noqa: E402

from bigdata_lab02_spark.session import get_spark  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402

SRC = "/root/testdata/sf0.1"
MULT = 4
FAMILY = [
    "semantic_dedup_pipeline",
    "dedup_keep_best",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "dsir_importance",
    # r8: the binned interval join — its conditional-scale term is
    # intervals-per-bin fan-out, so the 4x corpus densifies events
    # in the SAME time span (4x points AND 4x intervals per bin)
    "range_join",
    # r8: incremental dedup — conditional on band-bucket collision
    # growth; the saturated 4x corpus is its adversarial case (every
    # new-shard doc collides with ~4x corpus replicas)
    "dedup_incremental",
    # r8: persisted IVF — probe-pruned scan; growth tracks probed-list
    # volume, not corpus size (layout rebuilt per run inside the gate)
    "ivf_topk_persisted",
    # r9: the composed crawl chain is a pure map — its growth should be
    # ~the data growth with zero shuffle amplification
    "crawl_curation_pipeline",
    # r9: BPE — the conditional-scale term is the VOCABULARY (pair-count
    # shuffle per merge); the near-dup replica corpus grows the vocab
    # only by the per-copy suffix tokens, so growth should be far below
    # the data growth
    "bpe_pipeline",
    # r11: the URL tier — one dedup shuffle plus broadcast PSL probes;
    # growth should be ~the data growth (the 4x replica corpus also 4x's
    # the duplicate pressure per norm_url, which the window absorbs)
    "url_filters",
    # r11: the full WARC->URL->crawl composition — per-row framing +
    # charset decode ahead of the pure-map crawl chain; growth should
    # track data with zero shuffle amplification beyond the URL dedup
    "warc_crawl_pipeline",
    # r11: revisit resolution — one record-id equi-join; both sides grow
    # with the data, so growth should be ~the data growth
    "warc_revisits",
    # r11: cross-document line dedup — the near-dup replica corpus is
    # its adversarial case (every replica's lines collide), so growth
    # tracks duplicate-line volume
    "dedup_lines",
    # r11: the composed CCNet chain (line dedup + LM training over the
    # deduped corpus) — word-count-shaped shuffles, growth ~data
    "ccnet_pipeline",
    # r11: per-domain quota — one domain-keyed window; the replica
    # corpus multiplies per-domain membership, the capped output doesn't
    "url_domain_cap",
    # r12: the skew-bounded two-phase quota over the same fixture — its
    # growth must match url_domain_cap's (same semantics, bounded plan)
    "url_domain_cap_bounded",
    # r12: per-language CCNet — the LM shuffles gain the language key,
    # growth should track ccnet_pipeline's
    "ccnet_perlang",
    # r12: CDX index emission — same one shard-key shuffle as the WARC
    # write side; growth ~data
    "warc_cdx",
    # r12: robots politeness — broadcast rule-array dim + per-row HOF
    # over the URL-tier survivors; growth should track url_filters'
    "url_robots",
    # r12: PQ ANN — training/encoding grow with the corpus, the ADC
    # probe with corpus×queries codes; the re-rank stays candidate-sized
    "pq_topk",
    "pq_rerank",
    # r13: the composed IVF×PQ index — training + coarse assignment +
    # encoding grow with the corpus; the probe side is list-pruned, so
    # growth should track pq_topk's (the build stages) with the ADC
    # stage SUB-linear (only probed lists scanned)
    "ivfpq_topk",
    # r13: the residual form — adds the broadcast-dim residual
    # subtraction to train/encode/probe; growth should track ivfpq's
    "ivfpq_residual_topk",
    # r13: trained quality classifier — one training aggregation + a
    # broadcast-scored pass + the lm_perplexity join; word-count-shaped
    # shuffles, growth ~data (the ccnet shape)
    "quality_classifier",
    # r13: the budgeted selection on top — adds one range-repartition
    # for the distributed prefix; growth ~data (the dsir_select shape)
    "quality_select",
    # r13: BM25 retrieval — the doc-length exchange and the matched-
    # postings aggregation grow with the corpus; the scored/ranked side
    # stays |queries| x matched docs; growth ~data
    "bm25_topk",
    # r13: link-graph PageRank — the href explode and the edge groupBy
    # grow with the corpus; the iteration rounds work on the DOMAIN
    # graph (bounded by the fixture's domain alphabet), so growth
    # should be dominated by the extraction+graph-build stages
    "link_pagerank",
    # r13: mixture sampling — one range-repartition + a bounded driver
    # visit; growth ~data (the dsir_select shape, keyed per group)
    "mixture_sample",
    # r14: derived-embedding SemDeDup — featurize is map-shaped (+ one
    # (doc,bucket) exchange); the CONDITIONAL term is the per-cluster
    # pair fan-out over near-dup replicas, the semantic_dedup_pipeline
    # shape with k~sqrt(n) growing with the corpus
    "embed_semantic_dedup",
    # r14: incremental CC — base CC + quotient absorb; on the replica
    # corpus the increment's collision set grows with duplication, the
    # dedup_incremental shape
    "dedup_clusters_incremental",
    # r14: quantile registers — two bucket-keyed windows + a register-
    # table-sized estimate; growth ~data with bounded outputs
    "sketch_quantiles",
    # r14: semantic increment — shard x cluster-mates pair term over the
    # replica corpus (the adversarial case: every shard vector collides
    # with ~mult replicas of its cluster-mates)
    "semantic_dedup_incremental",
    # r14: hybrid retrieval — BM25's matched-postings shape + the
    # featurize exchange + candidate-sized fusion; growth ~data
    "hybrid_retrieval",
    # r15: the capstone — every tier's scale shape in one chain; the
    # URL-tier recrawl dedup bounds the survivor set, so downstream
    # stages see duplication pressure, not row growth
    "pretrain_corpus_pipeline",
    # r15: persisted hybrid — both index builds grow ~data; the query
    # side is pruned-scan + candidate-sized fusion
    "hybrid_retrieval_persisted",
    # r15: the shard increment — the replica corpus saturates every
    # anti-join and candidate tier (the adversarial dedup case)
    "pretrain_increment_pipeline",
    # r15: the vector tier's persisted-layout face — embeddings-table
    # sized (the corpus replica does not grow it), like the other
    # semantic gates it still rides the 4x row for the fixed overhead
    "semantic_index_persisted",
    # r16: the capstone's persisted-artifact layout — the replica
    # corpus saturates the URL/digest anti-joins and the band
    # candidate tier THROUGH the on-disk layout (persist + update both
    # in the wall)
    "pretrain_artifacts_persisted",
    # r16: the two-level register build — wall should track data with
    # the level-1 sub-shard sort dominating; level 2 is register-sized
    "sketch_quantiles_twolevel",
    # r16: the capstone's shard-writer last mile — the replica corpus
    # stresses the whole chain plus the shard write + read-back
    "pretrain_training_shards",
]
# (image_dedup_clusters, audio_dedup, video_dedup and
# media_dedup_pipeline are generated-fixture-sized — corpus-independent,
# so no 4x rows, like the other media-fixture gates)
# Round-6 extension (VERDICT r5 item 6): one more doubling pair on the two
# families with the highest 4× growth, to separate pair-count growth
# (linear in duplicate volume) from super-linear onset before it bites.
# r14 (VERDICT r13 item 7): link_pagerank joins the doubling series —
# its fixture domain alphabet is FIXED (6 nodes), so the series
# isolates the extraction + edge-groupBy stages' data growth from the
# O(iters) bounded-graph iteration rounds: healthy = wall tracks data
# once extraction dominates, iteration term stays flat.
DOUBLING = ["dedup_minhash_lsh", "dedup_clusters", "link_pagerank"]
DOUBLING_MULTS = [8, 16]


def make_scaled(dst: str, mult: int = MULT) -> None:
    con = duckdb.connect()
    copies = ", ".join(f"({i})" for i in range(mult))
    con.execute(
        f"""
        COPY (
          SELECT doc_id + i * 10000000 AS doc_id,
            CASE WHEN i = 0 THEN text
                 ELSE text || ' rev' || i || 'x' || (doc_id % 97) END AS text,
            lang, source, n_chars
          FROM '{SRC}/documents.parquet' CROSS JOIN (VALUES {copies}) t(i)
        ) TO '{dst}/documents.parquet' (FORMAT PARQUET)"""
    )
    # per-copy offset keeps cosines high (near-dup) but not exactly 1,
    # and is NOT a pure rescale (which cosine would ignore)
    con.execute(
        f"""
        COPY (
          WITH ex AS (
            SELECT vec_id, i, generate_subscripts(embedding, 1) AS dim,
                   unnest(embedding) AS val
            FROM '{SRC}/embeddings.parquet' CROSS JOIN (VALUES {copies}) t(i)),
          re AS (
            SELECT vec_id + i * 10000000 AS vec_id,
              list((val + CASE WHEN i = 0 THEN 0.0
                    ELSE 0.02 * sin(vec_id * 1.7 + i * 2.3 + dim) END
                   )::FLOAT ORDER BY dim) AS embedding
            FROM ex GROUP BY 1, i)
          SELECT re.vec_id, re.embedding,
                 (re.vec_id % 10000000) % 8 AS label
          FROM re
        ) TO '{dst}/embeddings.parquet' (FORMAT PARQUET)"""
    )
    # events: densify 4x WITHIN the original time span (r8, for
    # range_join) — replica i shifts ts by i seconds and user_id by
    # 1000·i (1000 ≡ 0 mod 20, so the gate's user_id % 20 interval
    # population scales with the copies too)
    con.execute(
        f"""
        COPY (
          SELECT event_id + i * 10000000 AS event_id,
                 ts + to_seconds(i) AS ts,
                 user_id + i * 1000 AS user_id,
                 event_type, value, props
          FROM '{SRC}/events.parquet' CROSS JOIN (VALUES {copies}) t(i)
        ) TO '{dst}/events.parquet' (FORMAT PARQUET)"""
    )
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem"):
        shutil.copy(f"{SRC}/{t}.parquet", f"{dst}/{t}.parquet")


def main() -> None:
    spark = get_spark(app_name="scale_stress")
    qs = entrymod.queries()
    # warmup
    spark.read.parquet(f"{SRC}/lineitem.parquet").count()

    def timed(name: str, sf_dir: str) -> float:
        t0 = time.time()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    import json

    out = ROOT / "tools" / "scale_stress.json"
    payload: dict = {"mult": MULT}

    def persist() -> None:
        # incremental write (ADVICE r6): a crash/timeout in a later phase
        # must not discard phases already measured
        out.write_text(json.dumps(payload, indent=1))

    d = tempfile.mkdtemp(prefix="sf0.4_")
    walls: dict[str, dict[str, float]] = {n: {} for n in DOUBLING}
    try:
        make_scaled(d)
        rows = []
        for name in FAMILY:
            base = timed(name, SRC)
            big = timed(name, d)
            rows.append((name, round(base, 2), round(big, 2)))
            if name in DOUBLING:
                walls[name]["1"] = round(base, 2)
                walls[name]["4"] = round(big, 2)
            print(f"{name}: sf0.1 {base:.2f}s -> 4x {big:.2f}s "
                  f"({big / base:.1f}x wall at 4x data)")
        payload["rows"] = rows
        persist()

        # dedup_spans hash_mode A/B at 4x saturation (VERDICT r6 item 4):
        # same plan, only the window-key width changes (32-char md5 hex
        # vs 8-byte xxhash64 long) — the delta is pure shuffle-byte cost.
        from bigdata_lab02_spark.operators.dedup import dedup_spans

        spans_walls = {}
        docs = spark.read.parquet(f"{d}/documents.parquet")
        for mode in ("md5", "xxhash64"):
            t0 = time.time()
            dedup_spans(docs, hash_mode=mode).write.format("noop").mode(
                "overwrite"
            ).save()
            spans_walls[mode] = round(time.time() - t0, 2)
            print(f"dedup_spans[{mode}] @4x: {spans_walls[mode]:.2f}s")
        payload["spans_hash_modes_4x"] = spans_walls
        persist()
    finally:
        shutil.rmtree(d, ignore_errors=True)

    # r12 (VERDICT r11 item 1): ADVERSARIAL single-domain quota stress.
    # The domain_cap weak label was about skew, which the near-dup
    # replica corpus does not create (its domains stay balanced) — so
    # this phase synthesizes the operator's own worst case directly:
    # 90% of a 5M-row page set in ONE registered domain. Exact mode
    # funnels the 4.5M hot-domain rows into one sort task (31 of 32
    # cores idle); bounded mode pre-ranks per input partition, so no
    # task ever sorts more than a partition's share.
    from pyspark.sql import functions as F  # noqa: E402

    from bigdata_lab02_spark.operators.url import domain_cap  # noqa: E402

    n_adv = 5_000_000
    pages = spark.range(n_adv, numPartitions=32).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 != 0, F.lit("mega.example"))
        .otherwise(
            F.concat(F.lit("site"), F.col("id") % 1000, F.lit(".example"))
        )
        .alias("registered_domain"),
        F.concat(
            F.lit("h"), F.col("id") % 64, F.lit(".mega.example")
        ).alias("host"),
    )
    adv: dict = {"rows": n_adv, "hot_fraction": 0.9, "cap": 100}
    for label, kw in (("exact", {}), ("bounded", {"bounded": True})):
        t0 = time.time()
        domain_cap(pages, 100, **kw).write.format("noop").mode(
            "overwrite"
        ).save()
        adv[label] = round(time.time() - t0, 2)
        print(f"domain_cap[{label}] @5M 90%-one-domain: {adv[label]:.2f}s")
    payload["domain_cap_adversarial"] = adv
    persist()

    # r13: ADVERSARIAL single-source mixture stress. mixture_sample's
    # admission claims a mega-source never funnels into one sort task
    # (range-repartition on (group, key, id) + group-aware offsets);
    # this phase proves it against the naive per-group-window twin on
    # the same 90%-one-source page set. Both sides tokenize the same
    # text and apply the identical quota contract, so the delta is
    # purely the admission plan.
    from pyspark.sql import Window  # noqa: E402

    from bigdata_lab02_spark.functions.text import tokens_column  # noqa: E402
    from bigdata_lab02_spark.operators.curation import (  # noqa: E402
        mixture_sample,
    )

    # single-token text isolates the ADMISSION plan (both sides pay the
    # same trivial tokenize; the delta is purely where the hot group
    # sorts); 4x the domain_cap row count because the window twin's
    # single-task sort needs volume to dominate
    n_mix = 20_000_000
    docs_adv = spark.range(n_mix, numPartitions=32).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 != 0, F.lit("mega"))
        .otherwise(F.concat(F.lit("s"), F.col("id") % 1000))
        .alias("source"),
        F.lit("tok").alias("text"),
    )
    mweights = {"mega": 9, "s1": 1}
    mbudget = 2_000_000  # binds mid-mega: quota 1.8M of 18M hot tokens
    madv: dict = {
        "rows": n_mix, "hot_fraction": 0.9, "budget": mbudget,
    }
    t0 = time.time()
    kernel_out = mixture_sample(docs_adv, mweights, mbudget)
    kernel_n = kernel_out.count()
    madv["kernel"] = round(time.time() - t0, 2)
    mlabel = f"@{n_mix // 1_000_000}M"
    print(f"mixture_sample[kernel] {mlabel} 90%-one-source: "
          f"{madv['kernel']:.2f}s ({kernel_n} rows)")
    # naive twin: the same contract as ONE window per group — the hot
    # group's rows (90% of n_mix = 18M) sort in a single task
    wsum = sum(mweights.values())
    qdf = spark.createDataFrame(
        [(g, (mbudget * wt) // wsum) for g, wt in sorted(mweights.items())],
        "source string, quota long",
    )
    keyed = docs_adv.join(F.broadcast(qdf), "source").select(
        "doc_id",
        "source",
        F.size(tokens_column(F.col("text"))).alias("n_tokens"),
        "quota",
        F.md5(F.concat_ws("|", F.lit(""), F.col("doc_id"))).alias("k"),
    )
    win = (
        Window.partitionBy("source")
        .orderBy("k", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    naive = keyed.withColumn("cum", F.sum("n_tokens").over(win)).where(
        (F.col("cum") <= F.col("quota"))
        | ((F.col("cum") == F.col("n_tokens")) & (F.col("quota") > 0))
    )
    t0 = time.time()
    naive_n = naive.count()
    madv["naive_window"] = round(time.time() - t0, 2)
    madv["rows_match"] = bool(kernel_n == naive_n)
    print(f"mixture_sample[naive-window] {mlabel} 90%-one-source: "
          f"{madv['naive_window']:.2f}s ({naive_n} rows, "
          f"match={madv['rows_match']})")
    payload["mixture_adversarial"] = madv
    persist()

    payload["doubling"] = {"mults": [4] + DOUBLING_MULTS, "walls": walls}
    persist()
    for m in DOUBLING_MULTS:
        dm = tempfile.mkdtemp(prefix=f"sf0.1x{m}_")
        try:
            make_scaled(dm, mult=m)
            for name in DOUBLING:
                w = timed(name, dm)
                walls[name][str(m)] = round(w, 2)
                print(f"{name}: {m}x {w:.2f}s "
                      f"({w / walls[name]['1']:.1f}x wall at {m}x data)")
            persist()
        finally:
            shutil.rmtree(dm, ignore_errors=True)

    # r9 (VERDICT r8 item 5): persisted-layout growth series. The claim
    # behind dedup_incremental / ivf_topk_persisted is that the corpus-
    # sized cost is paid ONCE at layout-build time, while the per-shard /
    # per-probe cost tracks the shard and its collisions (resp. the
    # probed-list volume), not the corpus. Measured directly: shard and
    # query set FIXED at sf0.1 size, corpus grown 1x/4x/16x (duplicate-
    # saturated), build and probe walls timed separately.
    from pyspark.sql import functions as F  # noqa: E402

    from bigdata_lab02_spark.operators import dedup as dd  # noqa: E402
    from bigdata_lab02_spark.operators import similarity as sim  # noqa: E402

    def noop(df) -> float:
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        return time.time() - t0

    shard = spark.read.parquet(f"{SRC}/documents.parquet").where(
        F.col("doc_id") % 4 == 0
    )
    fixed_queries = spark.read.parquet(f"{SRC}/embeddings.parquet").where(
        F.col("vec_id") < 10
    )
    growth: dict = {"mults": [1, 4, 16], "incremental": {}, "ivf": {}}
    payload["persisted_growth"] = growth
    for m in growth["mults"]:
        dm = tempfile.mkdtemp(prefix=f"grow{m}_")
        try:
            make_scaled(dm, mult=m)
            docs_m = spark.read.parquet(f"{dm}/documents.parquet")
            # replica id shifts are ≡ 0 mod 4, so the corpus filter keeps
            # exactly the replicas of the non-shard quarters — the shard
            # never collides with copies of itself
            corpus = docs_m.where(F.col("doc_id") % 4 != 0)
            t0 = time.time()
            dd.persist_corpus_bands(
                corpus, f"bands_grow_{m}", num_hashes=8, shingle_n=3, bands=4
            )
            build_w = time.time() - t0
            probe_w = noop(
                dd.minhash_dedup_incremental(
                    shard, corpus, spark.table(f"bands_grow_{m}"),
                    num_hashes=8, shingle_n=3, bands=4, threshold=0.5,
                )
            )
            growth["incremental"][str(m)] = {
                "build": round(build_w, 2), "probe": round(probe_w, 2),
            }
            print(f"dedup_incremental @{m}x corpus: build {build_w:.2f}s, "
                  f"fixed-shard probe {probe_w:.2f}s")

            emb_m = spark.read.parquet(f"{dm}/embeddings.parquet")
            # replica vec_ids are >= 10^7, so the centroid set is the
            # same 10 base vectors at every mult
            cents = emb_m.where(
                (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 500)
            ).select(
                (F.col("vec_id") / 50).cast("int").alias("cluster_id"),
                F.col("embedding").alias("centroid"),
            )
            path = f"{dm}/ivf_lists"
            t0 = time.time()
            sim.persist_ivf_lists(emb_m, cents, path)
            build_w = time.time() - t0
            probe_w = noop(
                sim.ivf_topk_persisted(
                    spark, path, fixed_queries, cents, k=5, nprobe=3
                )
            )
            growth["ivf"][str(m)] = {
                "build": round(build_w, 2), "probe": round(probe_w, 2),
            }
            print(f"ivf_topk_persisted @{m}x corpus: build {build_w:.2f}s, "
                  f"fixed-query probe {probe_w:.2f}s")

            # r14 (VERDICT r13 item 7): BM25 term-bucket index — the
            # text twin of the IVF rows: build pays the corpus-sized
            # tokenize+aggregate once; the probe is a partition-pruned
            # scan of the query vocabulary's buckets, so probe growth
            # tracks matched-postings volume, not the corpus.
            from bigdata_lab02_spark.operators import (  # noqa: E402
                retrieval as rt,
            )

            bm_q = spark.createDataFrame(
                entrymod._BM25_QUERY_TEXTS, "query_id int, text string"
            )
            bpath = f"{dm}/bm25_index"
            t0 = time.time()
            rt.persist_bm25_index(docs_m, bpath, n_buckets=64)
            build_w = time.time() - t0
            probe_w = noop(
                rt.bm25_topk_persisted(
                    spark, bpath, bm_q, k=10, n_buckets=64
                )
            )
            growth.setdefault("bm25", {})[str(m)] = {
                "build": round(build_w, 2), "probe": round(probe_w, 2),
            }
            print(f"bm25_persisted @{m}x corpus: build {build_w:.2f}s, "
                  f"fixed-query probe {probe_w:.2f}s")
            persist()
        finally:
            shutil.rmtree(dm, ignore_errors=True)

    # r14 (VERDICT r13 item 7): media_dedup_pipeline doubling. The media
    # fixture is corpus-independent, so the series scales the GENERATOR
    # count instead: n media per modality at 32 / 128 / 512 (1x/4x/16x).
    # Audio ids offset by 10^6 (the gate's +100 would collide past
    # n=100). Healthy = wall tracks n + true-pair volume (the fixture's
    # dup groups are size-4 per seed, so true pairs grow LINEARLY in n —
    # unlike the saturated-corpus doubling above).
    from bigdata_lab02_spark.operators.dedup import (  # noqa: E402
        dedup_clusters,
        simhash_dup_pairs,
    )
    from bigdata_lab02_spark.operators.multimodal import (  # noqa: E402
        audio_fingerprint,
        image_dhash,
        synthetic_dhash_images,
        synthetic_fp_audio,
    )

    med: dict = {}
    payload["media_doubling"] = {"ns": [32, 128, 512], "walls": med}
    for n in [32, 128, 512]:
        t0 = time.time()
        imgs = synthetic_dhash_images(spark, n)
        auds = synthetic_fp_audio(spark, n).select(
            (F.col("media_id") + 10**6).alias("media_id"), "payload"
        )
        media_n = imgs.unionByName(auds)
        magic = F.hex(F.substring(F.col("payload"), 1, 4))
        routed = media_n.withColumn(
            "modality",
            F.when(magic == "89504E47", F.lit("image"))
            .when(magic == "52494646", F.lit("audio"))
            .otherwise(F.lit("unknown")),
        )
        ih = image_dhash(
            routed.where(F.col("modality") == "image")
        ).localCheckpoint()
        ah = audio_fingerprint(
            routed.where(F.col("modality") == "audio")
        ).localCheckpoint()
        hashes_n = ih.select(
            "media_id", F.col("dhash").alias("h64"), "decode_ok"
        ).unionByName(
            ah.select("media_id", F.col("afp").alias("h64"), "decode_ok")
        )
        pairs_n = simhash_dup_pairs(
            ih, id_col="media_id", max_hamming=3, hash_col="dhash"
        ).select("id_a", "id_b").unionByName(
            simhash_dup_pairs(
                ah, id_col="media_id", max_hamming=3, hash_col="afp"
            ).select("id_a", "id_b")
        )
        cc = dedup_clusters(
            hashes_n.select("media_id"), pairs_n, id_col="media_id"
        )
        noop(hashes_n.join(cc, "media_id"))
        med[str(n)] = round(time.time() - t0, 2)
        print(f"media_dedup_pipeline @n={n}/modality: {med[str(n)]:.2f}s")
        persist()

    # r14 (VERDICT r13 item 2): incremental CC — the claim is
    # "increment cost ∝ shard, not corpus": the label table streams
    # against broadcast increment-sized frames, while a full rebuild
    # re-runs alternating-star CC over the whole pair set. Label table
    # grown 1x/4x/16x (star components of 100), increment FIXED at 5k
    # random bridge pairs; both paths timed.
    from bigdata_lab02_spark.operators.dedup import (  # noqa: E402
        connected_components,
        update_components,
    )

    ccg: dict = {}
    payload["cc_increment_growth"] = {"mults": [1, 4, 16], "walls": ccg}
    cc_base = 1_000_000
    for m in [1, 4, 16]:
        n = cc_base * m
        lab = spark.range(n, numPartitions=32).select(
            F.col("id").alias("node"),
            (F.col("id") - (F.col("id") % 100)).alias("component"),
        )
        base_pairs = lab.select(
            F.col("node").alias("id_a"), F.col("component").alias("id_b")
        ).where(F.col("id_a") != F.col("id_b"))
        inc = spark.range(5000, numPartitions=4).select(
            (F.col("id") * 37 % n).alias("id_a"),
            ((F.col("id") * 91 + 13) % n).alias("id_b"),
        )
        t0 = time.time()
        noop(update_components(lab, inc))
        upd_w = time.time() - t0
        t0 = time.time()
        noop(connected_components(base_pairs.unionByName(inc)))
        reb_w = time.time() - t0
        ccg[str(m)] = {"increment": round(upd_w, 2),
                       "rebuild": round(reb_w, 2)}
        print(f"cc_increment @{m}x labels ({n} nodes): "
              f"increment {upd_w:.2f}s vs rebuild {reb_w:.2f}s")
        persist()

    print(f"-> {out} (picked up by tools/scaling_audit.py)")


if __name__ == "__main__":
    main()
