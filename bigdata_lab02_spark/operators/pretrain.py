"""End-to-end pretraining-corpus assembly — the capstone composition.

``pretrain_corpus`` chains the already-gated tiers in the order a real
training shard is built from crawl bytes (the pipeline every LLM-data
paper publishes some slice of — CCNet, Wenzek et al. 2020; C4/Gopher
rules; DCLM, Li et al. 2024; The Pile's mixture weights, Gao et al.
2021):

    decoded pages
      → URL tier        (normalize → registered domain → blocklist →
                         recrawl dedup; operators.url.url_filters —
                         the cheapest, highest-yield filter runs first,
                         before any content byte is touched)
      → exact dedup     (first fetch per content digest)
      → MinHash-LSH     (near-dup pairs at a Jaccard threshold; the
                         LOWER id of each verified pair survives)
      → quality         (DCLM-style hashed-bucket NB classifier,
                         trained on a caller-supplied label column and
                         applied to the dedup survivors — train and
                         score see exactly the corpus the earlier
                         tiers kept, the coupling this composition
                         exists to pin)
      → mixture         (source-weighted admission under a global
                         token budget; curation.mixture_sample)
      → packing         (greedy fixed-budget sequence packing;
                         curation.pack_sequences)

WARC framing/decode stays with the caller (``sources.warc``): this
operator starts at decoded pages because ingest containers differ
(WARC, zip, plain directories) while everything from the URL tier on
is container-independent.

Scale shape, stage by stage: the URL tier is one norm_url exchange +
broadcast dims; exact dedup is one digest exchange; MinHash candidates
are banded (band_id, band_hash) keys — never all-pairs; the NB model
is one aggregation pass collected as B+1 rows of model state and
broadcast back; mixture admission is the range-partitioned distributed
prefix sum (no per-group one-task window); packing windows per source.
Nothing in the chain collects corpus-sized data to the driver, and
every stage's output is a pure deterministic function of its input —
the whole chain replays exactly, which is what the oracle checks.

Reference analog: BigDataLab02's chained lifecycle (task1_1.java:179
feeding task1_5_2.java) — ingest → encode → filter → derive, writ
large across the curation tiers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sources.sinks import journaled, require_committed
from .curation import (
    mixture_sample,
    pack_sequences,
    quality_classifier_score,
    quality_classifier_train,
)
from .dedup import minhash_dedup_incremental, minhash_dedup_pairs
from .url import url_filters


def pretrain_corpus(
    pages: DataFrame,
    suffixes: DataFrame,
    weights: dict[str, int],
    token_budget: int,
    positive: Column,
    blocklist: DataFrame | None = None,
    pack_budget: int = 256,
    url_col: str = "url",
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    passthrough: list[str] | None = None,
    minhash_threshold: float = 0.5,
    num_hashes: int = 8,
    shingle_n: int = 3,
    bands: int = 4,
    n_buckets: int = 512,
    salt: str = "",
    pin: bool = True,
    pin_decisions: bool | None = None,
) -> DataFrame:
    """Assemble a packed training corpus from decoded pages.

    ``pages`` must carry ``id_col``, ``url_col``, ``text_col`` and
    ``group_col`` (plus any ``passthrough`` columns to ride the chain
    into the output). ``positive`` is a boolean Column over the page
    columns labelling the classifier's reference class — evaluated on
    the dedup SURVIVORS, the set the classifier will score.

    Near-dup policy: for every verified MinHash pair (id_a < id_b,
    jaccard >= threshold) the HIGHER id is dropped — the deterministic
    greedy first-fetch-wins rule. It is applied per pair, not per
    connected component (a doc is dropped if ANY lower-id near-dup
    exists, even one that was itself dropped): the one-pass rule that
    needs no iterative closure, restated identically by the oracle.

    Returns one row per packed document: ``(id, group, *passthrough,
    registered_domain, score_mu, n_tokens, cum_tokens, quota,
    pack_id)`` — admission bookkeeping (cum_tokens vs quota) and the
    classifier score ride along so downstream shard writers can audit
    every keep decision without re-running a stage.

    ``pin`` eagerly materializes (localCheckpoint) the exact-dedup
    survivor tier at CONSTRUCTION time — building the frame runs the
    ingest chain; the pinned partitions live until the session drops
    them (single-host lineage-truncation trade, see ADVICE r16).
    ``pin_decisions`` (default: follows ``pin``) additionally pins the
    two small DECISION frames — the near-dup drop ids and the
    quality-keep ``(id, score_mu)`` list — so the pair-verification
    and scoring subtrees run once instead of once per consumer job
    (r17, both-order A/B receipt in BENCHNOTES §r17).
    """
    extra = list(passthrough or [])
    if pin_decisions is None:
        pin_decisions = pin

    # --- URL tier: the only stage allowed to see a raw URL ---------
    tier = url_filters(
        pages,
        suffixes,
        blocklist=blocklist,
        url_col=url_col,
        id_col=id_col,
        passthrough=[group_col, text_col, *extra],
    )
    surv = tier.where("url_keep").select(
        id_col, group_col, text_col, "registered_domain", *extra
    )

    # --- exact dedup: first fetch per content digest ----------------
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(id_col)
    ex = (
        surv.withColumn("__rn", F.row_number().over(w))
        .where("__rn = 1")
        .drop("__rn")
    )
    if pin:
        # The exact-dedup survivor set feeds EVERY later tier (both
        # minhash pair sides, classifier train AND score, mixture,
        # packing, the final joins) — unpinned, the compiled plan
        # re-derives the whole ingest→URL-tier→dedup subtree (with its
        # Arrow decode) once per consumer (the expensive-decode
        # fan-out seam, SCALING.md r13). localCheckpoint materializes
        # it once; a production run writes this tier boundary to
        # parquet instead. A/B receipt in BENCHNOTES (r15).
        ex = ex.localCheckpoint()

    # --- MinHash near-dup: drop the higher id of each verified pair -
    pairs = minhash_dedup_pairs(
        ex.select(id_col, text_col),
        text_col=text_col,
        id_col=id_col,
        num_hashes=num_hashes,
        shingle_n=shingle_n,
        bands=bands,
        threshold=minhash_threshold,
    )
    drops = pairs.select(F.col("id_b").alias(id_col)).distinct()
    if pin_decisions:
        # The drop set is a DECISION frame (ids only, guide-§8 "decide
        # with small rows"): every later derivation of the near-dup
        # survivors re-runs the whole pair-verification subtree
        # (signature agg + band self-join + Jaccard joins) — and those
        # derivations span SEPARATE jobs (the classifier-model pin and
        # mixture_sample's internal prefix-sum pin both run eager jobs
        # at construction), so in-plan exchange reuse cannot cover
        # them. Pinning the tiny id list runs the pair subtree ONCE;
        # the anti-join below becomes pinned-scan work per consumer.
        drops = drops.localCheckpoint()
    nd = ex.join(drops, id_col, "left_anti")

    # --- DCLM-style quality classifier over the survivors -----------
    model = quality_classifier_train(
        nd, positive, text_col=text_col, id_col=id_col, n_buckets=n_buckets
    ).localCheckpoint()
    scored = quality_classifier_score(
        nd, model, text_col=text_col, id_col=id_col, n_buckets=n_buckets
    )
    keep = scored.where("quality_keep").select(id_col, "score_mu")
    if pin_decisions:
        # Same decision-frame rule for the keep list (id, score_mu):
        # the scoring pass (token explode + broadcast-model join +
        # per-doc sum) otherwise re-derives per qk consumer — mixture's
        # construction-time pin job, the packing subtree and the final
        # admitted joins each pay it again.
        keep = keep.localCheckpoint()
    qk = nd.join(keep, id_col)

    # --- mixture under the global token budget ----------------------
    mix = mixture_sample(
        qk,
        weights,
        token_budget,
        group_col=group_col,
        text_col=text_col,
        id_col=id_col,
        salt=salt,
    ).select(id_col, "n_tokens", "cum_tokens", "quota")

    # --- sequence packing over the admitted set ---------------------
    admitted = qk.join(mix, id_col)
    packed = pack_sequences(
        admitted,
        budget=pack_budget,
        group_col=group_col,
        text_col=text_col,
        id_col=id_col,
    ).select(id_col, "pack_id")
    return admitted.join(packed, id_col).select(
        id_col,
        group_col,
        *extra,
        "registered_domain",
        F.col("score_mu").cast("long").alias("score_mu"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
        F.col("quota").cast("long").alias("quota"),
        F.col("pack_id").cast("int").alias("pack_id"),
    )


def pretrain_shard_increment(
    new_pages: DataFrame,
    suffixes: DataFrame,
    indexed_urls: DataFrame,
    indexed_digests: DataFrame,
    corpus: DataFrame,
    corpus_bands: DataFrame,
    model: DataFrame,
    blocklist: DataFrame | None = None,
    url_col: str = "url",
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    passthrough: list[str] | None = None,
    minhash_threshold: float = 0.5,
    num_hashes: int = 8,
    shingle_n: int = 3,
    bands: int = 4,
    n_buckets: int = 512,
) -> DataFrame:
    """The daily-shard face of ``pretrain_corpus`` (r15): absorb a
    crawl shard against the BASE corpus's persisted artifacts without
    recomputing any base-side work — the per-tier increment operators
    (minhash band table, digest index, frozen classifier) composed the
    way the daily job actually runs them.

    Base artifacts (each the output of one base-corpus pass, persisted
    between shards in production):

    - ``indexed_urls``    — one ``norm_url`` column: every URL the
      base crawl already fetched (a shard page re-crawling one is
      dropped before any content work, same as the tier's in-crawl
      recrawl rule);
    - ``indexed_digests`` — one ``digest`` column (md5 of text): every
      content digest the base kept after ITS url tier — a shard page
      duplicating indexed content is an exact dup;
    - ``corpus`` / ``corpus_bands`` — the base exact-dedup survivors
      (kept AND near-dup-dropped: dropped members still suppress later
      near-copies, the semantic-assignment-table rule) and their
      persisted LSH band table (``minhash_band_table``) — the corpus
      side of the candidate join never re-shingles;
    - ``model``           — the base-trained NB quality model,
      FROZEN: a shard never re-trains the classifier (the
      persist_ivf_lists fixed-quantizer contract, classifier form).

    Shard chain: URL tier (within-shard recrawl dedup) → anti-join vs
    ``indexed_urls`` → within-shard exact dedup (first fetch per
    digest) → flags: ``dup_of_index`` (digest already indexed),
    ``near_dup`` (a verified ≥threshold pair with a LOWER shard id OR
    any verified pair into the corpus — old-beats-new by contract),
    ``quality_keep`` (frozen-model score > 0); ``keep`` is their
    conjunction. Flags are returned rather than applied so the shard
    writer can route drops to their tier's audit table.

    Scale shape: the anti-joins are keyed exchanges against index-
    sized tables; the cross-candidate join touches only band-hash
    collisions against the PRE-BANDED corpus; scoring broadcasts the
    B+1-row model. Nothing base-sized is recomputed; cost ∝ shard
    (+ candidate sets).

    Returns one row per within-shard exact-dedup survivor:
    ``(id, group, *passthrough, registered_domain, dup_of_index,
    near_dup, score_mu, quality_keep, keep)``."""
    _, _, out = _shard_chain(
        new_pages,
        suffixes,
        indexed_urls,
        indexed_digests,
        corpus,
        corpus_bands,
        model,
        blocklist=blocklist,
        url_col=url_col,
        text_col=text_col,
        id_col=id_col,
        group_col=group_col,
        extra=list(passthrough or []),
        minhash_threshold=minhash_threshold,
        num_hashes=num_hashes,
        shingle_n=shingle_n,
        bands=bands,
        n_buckets=n_buckets,
    )
    return out


def _shard_chain(
    new_pages: DataFrame,
    suffixes: DataFrame,
    indexed_urls: DataFrame,
    indexed_digests: DataFrame,
    corpus: DataFrame,
    corpus_bands: DataFrame,
    model: DataFrame,
    blocklist: DataFrame | None,
    url_col: str,
    text_col: str,
    id_col: str,
    group_col: str,
    extra: list[str],
    minhash_threshold: float,
    num_hashes: int,
    shingle_n: int,
    bands: int,
    n_buckets: int,
    pin_surv: bool = False,
):
    """The shard-absorb chain shared by ``pretrain_shard_increment``
    (decisions only) and ``update_pretrain_artifacts`` (decisions PLUS
    the intermediates whose rows grow the persisted layout): returns
    ``(surv, ex, out)`` where ``surv`` still carries ``norm_url`` (the
    shard's newly fetched URLs — including within-shard exact-dup
    copies, whose URLs were fetched too) and ``ex`` carries ``digest``
    + ``dup_of_index`` (the new-digest rows are the ones a merged
    rebuild's exact tier would keep). ``pin_surv`` localCheckpoints
    ``surv`` when a second consumer (the URL append) would otherwise
    re-derive the URL tier."""
    # --- URL tier over the shard, then drop already-fetched URLs ----
    tier = url_filters(
        new_pages,
        suffixes,
        blocklist=blocklist,
        url_col=url_col,
        id_col=id_col,
        passthrough=[group_col, text_col, *extra],
    )
    surv = tier.where("url_keep").join(
        indexed_urls.select("norm_url"), "norm_url", "left_anti"
    ).select(
        id_col, group_col, text_col, "registered_domain", "norm_url", *extra
    )
    if pin_surv:
        surv = surv.localCheckpoint()

    # --- within-shard exact dedup + indexed-digest flag --------------
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(id_col)
    ex = (
        surv.withColumn("__rn", F.row_number().over(w))
        .where("__rn = 1")
        .drop("__rn")
        .withColumn("digest", F.md5(F.col(text_col)))
    )
    ex = ex.join(
        indexed_digests.select(
            "digest", F.lit(True).alias("dup_of_index")
        ),
        "digest",
        "left",
    ).withColumn(
        "dup_of_index", F.coalesce(F.col("dup_of_index"), F.lit(False))
    ).localCheckpoint()

    # --- near-dup: within-shard pairs + shard-vs-corpus candidates ---
    within = minhash_dedup_pairs(
        ex.select(id_col, text_col),
        text_col=text_col,
        id_col=id_col,
        num_hashes=num_hashes,
        shingle_n=shingle_n,
        bands=bands,
        threshold=minhash_threshold,
    ).select(F.col("id_b").alias(id_col))
    cross = minhash_dedup_incremental(
        ex.select(id_col, text_col),
        corpus,
        corpus_bands,
        text_col=text_col,
        id_col=id_col,
        num_hashes=num_hashes,
        shingle_n=shingle_n,
        bands=bands,
        threshold=minhash_threshold,
    ).select(F.col("id_new").alias(id_col))
    near = within.unionByName(cross).distinct().withColumn(
        "near_dup", F.lit(True)
    )

    # --- frozen-model quality scoring --------------------------------
    scored = quality_classifier_score(
        ex, model, text_col=text_col, id_col=id_col, n_buckets=n_buckets
    ).select(id_col, "score_mu", "quality_keep")

    out = (
        ex.join(near, id_col, "left")
        .withColumn("near_dup", F.coalesce(F.col("near_dup"), F.lit(False)))
        .join(scored, id_col)
    ).select(
        id_col,
        group_col,
        *extra,
        "registered_domain",
        "dup_of_index",
        "near_dup",
        F.col("score_mu").cast("long").alias("score_mu"),
        "quality_keep",
        (
            ~F.col("dup_of_index")
            & ~F.col("near_dup")
            & F.col("quality_keep")
        ).alias("keep"),
    )
    return surv, ex, out


def _md5_bucket(col: Column, n_buckets: int) -> Column:
    """Engine-portable hash bucket (the retrieval term_bucket formula):
    first 15 hex chars of md5 → mod n_buckets. DuckDB restates it
    verbatim, so oracles can reproduce the bucket assignment."""
    return (
        F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
        % n_buckets
    ).cast("int")


def persist_pretrain_artifacts(
    base_pages: DataFrame,
    suffixes: DataFrame,
    positive: Column,
    path: str,
    blocklist: DataFrame | None = None,
    url_col: str = "url",
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    passthrough: list[str] | None = None,
    minhash_threshold: float = 0.5,
    num_hashes: int = 8,
    shingle_n: int = 3,
    bands: int = 4,
    n_buckets: int = 512,
    url_buckets: int = 64,
    digest_buckets: int = 64,
) -> None:
    """Build the base corpus's increment artifacts ONCE and persist
    them as the journaled on-disk layout ``update_pretrain_artifacts``
    absorbs daily shards through — the ``persist_bm25_index`` /
    ``persist_semantic_assignments`` convention applied to the
    capstone's artifact set (r16, VERDICT r15 item 1; the reference
    analog is its HDFS interchange files between chained jobs,
    task1_1.java:187-192).

    Layout under ``path``:

    - ``urls/``    — one ``norm_url`` per URL the base crawl fetched
      (the URL tier's survivors), hive-partitioned by
      ``url_bucket = md5(norm_url) mod url_buckets`` — bounded
      directory count, append-friendly, and bucket-wise joinable;
    - ``digests/`` — one ``digest`` (md5 of text) per distinct content
      the base kept past its URL tier, partitioned by
      ``digest_bucket`` the same way;
    - ``corpus/``  — the exact-dedup survivors ``(id, group, text,
      *passthrough)`` (kept AND near-dup-dropped: dropped members
      still suppress later near-copies — the semantic-assignment-table
      rule); the schema is fixed at persist time, so updates must pass
      the same ``passthrough``;
    - ``bands/``   — the corpus's LSH band table, partitioned by
      ``band_id`` so per-band maintenance jobs are directory-pruned
      (the shard candidate join itself keys on ``band_hash``, which
      bakes the band index in);
    - ``model/``   — the NB quality model trained on the near-dup
      survivors, FROZEN for every later shard (the
      persist_ivf_lists fixed-quantizer contract, classifier form);
    - ``stats/``   — ONE row: ``max_id`` (over the base pages — the
      loud old-beats-new guard reads this instead of scanning the
      layout), row counts per artifact, and the FROZEN policy scalars
      (num_hashes/shingle_n/bands/n_buckets/bucket counts/threshold) —
      an update re-reads policy from here, so two shards can never be
      absorbed under silently different banding;
    - ``journal/`` — 'pending' before the first overwrite, 'committed'
      after the stats flip (crash anywhere between is detectable by
      ``check_pretrain_artifacts``).

    ``positive`` labels the classifier's reference class, evaluated on
    the near-dup survivors (exactly what ``pretrain_corpus`` trains
    on); ``passthrough`` columns ride into ``corpus/`` (auditable, and
    available to ``positive``).

    Counts and ``max_id`` in stats come from READ-BACKS of the written
    artifacts (plus the one input-side page aggregate the guard
    needs), never from a second pass over a possibly-non-deterministic
    input."""
    from .dedup import (
        minhash_band_table,
        minhash_dedup_pairs,
        minhash_signatures,
        shingle_stream,
    )

    if num_hashes % bands != 0:
        raise ValueError(f"num_hashes={num_hashes} not divisible by bands={bands}")
    extra = list(passthrough or [])
    spark = base_pages.sparkSession
    with journaled(spark, path):
        # --- URL tier: survivors carry norm_url for the fetched-URL set -
        tier = url_filters(
            base_pages,
            suffixes,
            blocklist=blocklist,
            url_col=url_col,
            id_col=id_col,
            passthrough=[group_col, text_col, *extra],
        )
        surv = tier.where("url_keep").select(
            id_col, group_col, text_col, "norm_url", *extra
        ).localCheckpoint()  # fans out: urls, digests, corpus (3 writes)

        urls = surv.select("norm_url").withColumn(
            "url_bucket", _md5_bucket(F.col("norm_url"), url_buckets)
        )
        urls.write.mode("overwrite").partitionBy("url_bucket").parquet(
            f"{path}/urls"
        )
        digests = (
            surv.select(F.md5(F.col(text_col)).alias("digest"))
            .distinct()
            .withColumn(
                "digest_bucket", _md5_bucket(F.col("digest"), digest_buckets)
            )
        )
        digests.write.mode("overwrite").partitionBy("digest_bucket").parquet(
            f"{path}/digests"
        )

        # --- exact-dedup survivors = the corpus artifact -----------------
        w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(id_col)
        ex = (
            surv.withColumn("__rn", F.row_number().over(w))
            .where("__rn = 1")
            .select(id_col, group_col, text_col, *extra)
        )
        ex.write.mode("overwrite").parquet(f"{path}/corpus")
        # Downstream tiers read the corpus BACK from the layout (the tier
        # boundary a production run would write anyway): bands, pairs and
        # the trained model describe exactly what was written.
        ex_rb = spark.read.schema(ex.schema).parquet(f"{path}/corpus")
        # r17: ONE shingle+md5 pass over the written corpus, pinned, feeds
        # BOTH the band artifact and the near-dup pair verification — the
        # bands and the pairs previously each re-derived it (the pairs call
        # even pinned its own second copy). Signatures from the shared
        # stream are bit-identical (min over the same md5'd shingles), so
        # the bands/ artifact and the drop set are unchanged (oracle-gated
        # at 3 SFs; interleaved sf0.1 A/B receipt in OPTIMIZATION_r17.md).
        shingled = shingle_stream(
            ex_rb.select(id_col, text_col),
            text_col=text_col,
            id_col=id_col,
            shingle_n=shingle_n,
        ).localCheckpoint()
        band_tbl = minhash_band_table(
            minhash_signatures(
                ex_rb.select(id_col, text_col),
                text_col=text_col,
                id_col=id_col,
                num_hashes=num_hashes,
                shingle_n=shingle_n,
                shingled=shingled,
            ),
            id_col=id_col,
            bands=bands,
            rows_per_band=num_hashes // bands,
        )
        band_tbl.write.mode("overwrite").partitionBy("band_id").parquet(
            f"{path}/bands"
        )
        drops = minhash_dedup_pairs(
            ex_rb.select(id_col, text_col),
            text_col=text_col,
            id_col=id_col,
            num_hashes=num_hashes,
            shingle_n=shingle_n,
            bands=bands,
            threshold=minhash_threshold,
            shingled=shingled,
        ).select(F.col("id_b").alias(id_col))
        nd = ex_rb.join(drops, id_col, "left_anti")
        model = quality_classifier_train(
            nd, positive, text_col=text_col, id_col=id_col, n_buckets=n_buckets
        )
        model.write.mode("overwrite").parquet(f"{path}/model")

        # --- one-row stats: counts from read-backs, policy frozen --------
        stats = (
            base_pages.agg(
                F.coalesce(F.max(id_col).cast("long"), F.lit(-1)).alias(
                    "max_id"
                )
            )
            .crossJoin(ex_rb.agg(F.count(F.lit(1)).alias("n_corpus")))
            .crossJoin(
                spark.read.schema(urls.schema)
                .parquet(f"{path}/urls")
                .agg(F.count(F.lit(1)).alias("n_urls"))
            )
            .crossJoin(
                spark.read.schema(digests.schema)
                .parquet(f"{path}/digests")
                .agg(F.count(F.lit(1)).alias("n_digests"))
            )
            .crossJoin(
                spark.read.schema(band_tbl.schema)
                .parquet(f"{path}/bands")
                .agg(F.count(F.lit(1)).alias("n_bands"))
            )
            .select(
                "max_id",
                "n_corpus",
                "n_urls",
                "n_digests",
                "n_bands",
                F.lit(minhash_threshold).cast("double").alias("threshold"),
                F.lit(num_hashes).cast("int").alias("num_hashes"),
                F.lit(shingle_n).cast("int").alias("shingle_n"),
                F.lit(bands).cast("int").alias("bands"),
                F.lit(n_buckets).cast("int").alias("n_buckets"),
                F.lit(url_buckets).cast("int").alias("url_buckets"),
                F.lit(digest_buckets).cast("int").alias("digest_buckets"),
            )
        )
        stats.coalesce(1).write.mode("overwrite").parquet(f"{path}/stats")


def check_pretrain_artifacts(spark, path: str, deep: bool = False) -> dict:
    """Consistency probe for a ``persist_pretrain_artifacts`` layout —
    the ``check_bm25_index`` convention: the journal must read back
    exactly one 'committed' row (a crashed update leaves 'pending' or
    an unreadable journal dir), and the stats table exactly one row.
    ``deep=True`` recounts urls/digests/corpus and compares with the
    stats row — catches corruption the journal can't see. Returns the
    stats row as a dict. Recovery from a failed update is REBUILD:
    re-running an update would double-append its shard."""
    require_committed(
        spark, path, "pretrain artifacts",
        "rebuild (persist_pretrain_artifacts) before absorbing another "
        "shard",
    )
    srows = spark.read.parquet(f"{path}/stats").collect()
    if len(srows) != 1:
        raise ValueError(
            f"pretrain artifacts at {path}: stats table has "
            f"{len(srows)} rows, want 1 — layout corrupted; rebuild"
        )
    st = srows[0].asDict()
    st["journal"] = "committed"
    if deep:
        for name, key in (
            ("urls", "n_urls"),
            ("digests", "n_digests"),
            ("corpus", "n_corpus"),
            ("bands", "n_bands"),
        ):
            try:
                got = spark.read.parquet(f"{path}/{name}").count()
            except Exception:
                # a zero-row partitioned write leaves no data files to
                # infer from — consistent iff stats also says zero
                got = 0
            if got != st[key]:
                raise ValueError(
                    f"pretrain artifacts at {path}: {name}/ has {got} "
                    f"rows but stats says {st[key]} — layout corrupted; "
                    "rebuild"
                )
    return st


def update_pretrain_artifacts(
    new_pages: DataFrame,
    suffixes: DataFrame,
    path: str,
    blocklist: DataFrame | None = None,
    url_col: str = "url",
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    passthrough: list[str] | None = None,
) -> DataFrame:
    """Absorb a crawl shard THROUGH a persisted artifact layout — the
    deployed face of ``pretrain_shard_increment`` (r16, VERDICT r15
    item 1): read the artifacts back from ``path``, run the shard
    chain, return the per-survivor decision flags, and grow the layout
    so the NEXT shard sees this one's URLs, digests, corpus rows and
    band rows. Policy scalars (banding, threshold, model buckets) come
    from the layout's stats row — never from the caller — so every
    shard is absorbed under the exact policy the base was built with;
    the NB model stays FROZEN by contract.

    Loud old-beats-new guard BEFORE any mutating write: shard ids must
    all exceed the layout's ``max_id`` (ids order fetch time — the
    within-shard first-fetch rule and the oracle's restatement both
    assume it), else the update raises with the layout still
    'committed'.

    Appends (each shard-sized — nothing base-sized is recomputed or
    rewritten): ``urls/`` gains the shard's newly fetched norm_urls
    (including within-shard exact-dup copies — their URLs were
    fetched); ``digests/`` and ``corpus/``+``bands/`` gain the rows a
    merged-rebuild's exact tier would keep (``dup_of_index = false``
    survivors, near-dup-dropped included). The journal flips
    pending→committed around the appends + stats overwrite, so
    ``build(A); update(B)`` replays ``build(A ∪ B)``'s artifacts
    table-for-table (equivalence-tested), and a crash in between is
    detected.

    ``passthrough`` must name the SAME columns persist was called with
    (the ``corpus/`` schema is fixed at persist time: id, group, text,
    *passthrough); an update appending different columns would fork
    the layout's schema.

    Returns the shard's decision frame — identical to
    ``pretrain_shard_increment`` over the same artifacts (the gate
    shares its oracle: the layout must be invisible in results)."""
    from .dedup import minhash_band_table, minhash_signatures

    spark = new_pages.sparkSession
    st = check_pretrain_artifacts(spark, path)
    probe = new_pages.agg(
        F.min(id_col).alias("lo"),
        F.max(id_col).cast("long").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    max_id = -1 if st["max_id"] is None else st["max_id"]
    if probe["n"] > 0 and probe["lo"] <= max_id:
        raise ValueError(
            f"pretrain artifacts at {path}: shard {id_col}={probe['lo']} "
            f"<= indexed max_id {max_id} — the old-beats-new contract is "
            "violated (ids order fetch time; an out-of-order shard would "
            "flip first-fetch decisions a rebuild already made); rebuild "
            "with persist_pretrain_artifacts instead"
        )

    # --- read the artifacts back (empty artifacts need explicit
    #     schemas: a partitioned dir written from zero rows has no
    #     data files to infer from) ----------------------------------
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    id_field = new_pages.schema[id_col]
    grp_field = new_pages.schema[group_col]

    def _read(name: str, n: int, schema: StructType) -> DataFrame:
        if n == 0:
            return spark.createDataFrame([], schema)
        return spark.read.parquet(f"{path}/{name}")

    indexed_urls = _read(
        "urls",
        st["n_urls"],
        StructType([StructField("norm_url", StringType())]),
    ).select("norm_url")
    indexed_digests = _read(
        "digests",
        st["n_digests"],
        StructType([StructField("digest", StringType())]),
    ).select("digest")
    extra = list(passthrough or [])
    corpus = _read(
        "corpus",
        st["n_corpus"],
        StructType(
            [
                id_field,
                grp_field,
                StructField(text_col, StringType()),
                *[new_pages.schema[c] for c in extra],
            ]
        ),
    ).select(id_col, text_col)
    corpus_bands = _read(
        "bands",
        st["n_bands"],
        StructType(
            [
                id_field,
                StructField("band_hash", StringType()),
                StructField("band_id", IntegerType()),
            ]
        ),
    ).select(id_col, "band_id", "band_hash")
    model = spark.read.parquet(f"{path}/model")

    surv, ex, out = _shard_chain(
        new_pages,
        suffixes,
        indexed_urls,
        indexed_digests,
        corpus,
        corpus_bands,
        model,
        blocklist=blocklist,
        url_col=url_col,
        text_col=text_col,
        id_col=id_col,
        group_col=group_col,
        extra=extra,
        minhash_threshold=st["threshold"],
        num_hashes=st["num_hashes"],
        shingle_n=st["shingle_n"],
        bands=st["bands"],
        n_buckets=st["n_buckets"],
        pin_surv=True,  # consumed by ex AND the urls append
    )
    # Pin the decisions BEFORE mutating the layout their plan reads
    # (urls/digests/corpus/bands parquet) — `out` is returned to the
    # caller, whose action would otherwise recompute the whole chain
    # against the post-append file index.
    out = out.localCheckpoint(eager=True)

    with journaled(spark, path):
        new_urls = surv.select("norm_url").withColumn(
            "url_bucket", _md5_bucket(F.col("norm_url"), st["url_buckets"])
        )
        new_urls.write.mode("append").partitionBy("url_bucket").parquet(
            f"{path}/urls"
        )
        fresh = ex.where(~F.col("dup_of_index"))  # ex is checkpointed
        fresh.select("digest").withColumn(
            "digest_bucket", _md5_bucket(F.col("digest"), st["digest_buckets"])
        ).write.mode("append").partitionBy("digest_bucket").parquet(
            f"{path}/digests"
        )
        fresh.select(id_col, group_col, text_col, *extra).write.mode(
            "append"
        ).parquet(f"{path}/corpus")
        new_bands = minhash_band_table(
            minhash_signatures(
                fresh.select(id_col, text_col),
                text_col=text_col,
                id_col=id_col,
                num_hashes=st["num_hashes"],
                shingle_n=st["shingle_n"],
            ),
            id_col=id_col,
            bands=st["bands"],
            rows_per_band=st["num_hashes"] // st["bands"],
        ).localCheckpoint()  # consumed twice: the append + the stats count
        new_bands.write.mode("append").partitionBy("band_id").parquet(
            f"{path}/bands"
        )

        # --- stats flip: old counts + shard-sized aggregates (all from
        #     pinned frames), built JVM-side ------------------------------
        new_max = max(probe["hi"], max_id) if probe["n"] > 0 else max_id
        stats = (
            surv.agg(F.count(F.lit(1)).alias("__d_urls"))
            .crossJoin(fresh.agg(F.count(F.lit(1)).alias("__d_corpus")))
            .crossJoin(new_bands.agg(F.count(F.lit(1)).alias("__d_bands")))
            .select(
                F.lit(new_max).cast("long").alias("max_id"),
                (F.lit(st["n_corpus"]) + F.col("__d_corpus"))
                .cast("long")
                .alias("n_corpus"),
                (F.lit(st["n_urls"]) + F.col("__d_urls"))
                .cast("long")
                .alias("n_urls"),
                (F.lit(st["n_digests"]) + F.col("__d_corpus"))
                .cast("long")
                .alias("n_digests"),
                (F.lit(st["n_bands"]) + F.col("__d_bands"))
                .cast("long")
                .alias("n_bands"),
                F.lit(st["threshold"]).cast("double").alias("threshold"),
                F.lit(st["num_hashes"]).cast("int").alias("num_hashes"),
                F.lit(st["shingle_n"]).cast("int").alias("shingle_n"),
                F.lit(st["bands"]).cast("int").alias("bands"),
                F.lit(st["n_buckets"]).cast("int").alias("n_buckets"),
                F.lit(st["url_buckets"]).cast("int").alias("url_buckets"),
                F.lit(st["digest_buckets"])
                .cast("int")
                .alias("digest_buckets"),
            )
        )
        stats.coalesce(1).write.mode("overwrite").parquet(f"{path}/stats")
    return out


def write_training_shards(
    packed: DataFrame,
    path: str,
    packs_per_shard: int = 1024,
    group_col: str = "source",
    id_col: str = "doc_id",
    pack_col: str = "pack_id",
    tokens_col: str = "n_tokens",
) -> None:
    """The capstone's LAST mile (r16): write a ``pretrain_corpus``
    output as on-disk TRAINING SHARDS with a manifest — the artifact a
    training job actually mounts, closing the chain archive bytes →
    curated packs → shards-on-disk.

    Shard assignment is deterministic: ``shard_id = pack_id div
    packs_per_shard`` — contiguous packs stay together (a trainer
    streaming one shard sees whole packs in admission order), the
    directory count is bounded by ``max_pack / packs_per_shard`` per
    group regardless of corpus size, and the same packed frame always
    produces the same shards (no physical-partition dependence).

    Layout under ``path``: ``shards/`` hive-partitioned by
    (group, shard_id) — the rows are REPARTITIONED on that key before
    the write, so every shard is exactly one file written by the task
    that owns its key (no small-file spray, and the one exchange is
    the write's only shuffle); ``manifest/`` with one row per shard
    (n_docs, n_packs, n_tokens, min/max id) computed from a READ-BACK
    of the written shards — the manifest always describes what is on
    disk; ``journal/`` ('pending' before the first overwrite,
    'committed' after the manifest lands — ``check_training_shards``).

    Reference analog: the chained jobs' materialized Output files
    (task1_1.java:187-192) — the tier boundary written for the next
    consumer, here with the shard/manifest contract a 100 TB training
    run needs."""
    if packs_per_shard <= 0:
        raise ValueError(f"packs_per_shard={packs_per_shard} must be positive")
    spark = packed.sparkSession
    with journaled(spark, path):
        rows = packed.withColumn(
            "shard_id",
            F.expr(f"{pack_col} div {packs_per_shard}").cast("int"),
        ).repartition(group_col, "shard_id")
        rows.write.mode("overwrite").partitionBy(
            group_col, "shard_id"
        ).parquet(f"{path}/shards")
        back = spark.read.schema(rows.schema).parquet(f"{path}/shards")
        manifest = back.groupBy(group_col, "shard_id").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct(pack_col).alias("n_packs"),
            F.sum(tokens_col).cast("long").alias("n_tokens"),
            F.min(id_col).cast("long").alias("min_id"),
            F.max(id_col).cast("long").alias("max_id"),
        )
        manifest.write.mode("overwrite").parquet(f"{path}/manifest")


def check_training_shards(spark, path: str, deep: bool = False) -> dict:
    """Consistency probe for a ``write_training_shards`` layout: the
    journal must read exactly one 'committed' row; returns the
    manifest totals ``{"journal", "n_shards", "n_docs", "n_tokens"}``.
    ``deep=True`` recounts the shard files against the manifest totals
    (one columnar pass) — catches a manifest/shards skew the journal
    can't see."""
    require_committed(
        spark, path, "training shards", "rewrite (write_training_shards)"
    )
    tot = (
        spark.read.parquet(f"{path}/manifest")
        .agg(
            F.count(F.lit(1)).alias("n_shards"),
            F.coalesce(F.sum("n_docs"), F.lit(0)).alias("n_docs"),
            F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("n_tokens"),
        )
        .collect()[0]
    )
    if deep:
        got = spark.read.parquet(f"{path}/shards").count()
        if got != tot["n_docs"]:
            raise ValueError(
                f"training shards at {path}: shards/ has {got} rows "
                f"but the manifest sums to {tot['n_docs']} — layout "
                "corrupted; rewrite"
            )
    return {
        "journal": "committed",
        "n_shards": tot["n_shards"],
        "n_docs": int(tot["n_docs"]),
        "n_tokens": int(tot["n_tokens"]),
    }
