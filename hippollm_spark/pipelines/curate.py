"""End-to-end corpus curation: the full training-data preparation
pipeline as one composed DataFrame program.

quality filter → language filter → exact dedup → near-dup
canonicalization → benchmark decontamination → per-language packing
summary. This is the workflow every operator in ``operators.dedup`` /
``operators.sampling`` / ``operators.textstats`` exists to serve; the
composition is itself oracle-checked end-to-end (``corpus_curation`` in
``__spark_entry__``), so a regression in ANY stage — or in how stages
hand off to each other — breaks the hash.

Scale shape: every stage is a narrow map, a hash aggregate, or a
broadcast/semi join over the *shrinking* survivor set; nothing
re-touches dropped rows. The only per-corpus shuffles are the dedup
blocking joins, which key on digests/shingles, never payloads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hippollm_spark import plan
from hippollm_spark.operators.dedup import (
    apply_dedup,
    cross_jaccard_pairs,
    dedup_canonicalize,
    exact_dedup,
    jaccard_dup_pairs,
    minhash_lsh_pairs,
    remove_boilerplate_segments,
)
from hippollm_spark.operators.sampling import pack_sequences
from hippollm_spark.operators.textstats import quality_features, with_quality_language


def curate_corpus(
    docs: DataFrame,
    *,
    min_quality_e8: int = 55_000_000,
    jaccard_threshold: float = 0.5,
    contamination_threshold: float = 0.5,
    bench_mod: int = 20,
    ctx: int = 2048,
    max_shingle_df: int | None = None,
    boilerplate_seg_tokens: int | None = None,
    boilerplate_max_df: int = 2,
    near_dup_method: str = "jaccard",
    embeddings: DataFrame | None = None,
    emb_id_col: str = "vec_id",
    semantic_eps_e12: int | None = None,
    semantic_k: int = 8,
    semantic_iterations: int = 3,
    semantic_assigned: DataFrame | None = None,
) -> DataFrame:
    """Run the curation pipeline; returns the per-language summary
    (lang, n_docs, n_tokens, n_chunks) of the surviving corpus — the
    predicted language is the GATE, the table's lang column is the
    reporting dimension.

    Stages:
    1. quality gate: integer composite score >= ``min_quality_e8``
       (exact cross-engine arithmetic, see textstats.quality_features)
    2. language gate: n-gram language ID != 'und'
    3. held-out split: doc_id % ``bench_mod`` == 0 is the benchmark
       slice; it is *never* part of the training corpus
    4. exact dedup: lowest-id winner per normalized-text digest
    5. near-dup canonicalization: exact Jaccard pairs at
       ``jaccard_threshold`` → min-label propagation → drop non-canonical
    6. decontamination: drop survivors overlapping the benchmark slice
       at ``contamination_threshold``
    7. concat-and-chunk packing per predicted language at ``ctx`` tokens

    ``boilerplate_seg_tokens`` (optional, off by default so the
    end-to-end oracle stays replayable without it) runs corpus-wide
    boilerplate segment removal BEFORE the quality gate — text-mutating,
    so token counts and every downstream hash reflect the cleaned text.

    ``near_dup_method``: 'jaccard' (default) computes EXACT n-gram
    Jaccard pairs — the oracle-replayable test-scale path; 'minhash'
    swaps stage 5's pair generation for MinHash+LSH banding (128/32,
    candidates still verified with exact Jaccard, so false positives
    cannot enter) — the 100 TB path: the only wide exchange is on two
    longs instead of exploded shingle strings. Pair recall is the only
    difference, and planted-dup recall is tested in
    tests/test_dedup.py.

    ``semantic_eps_e12`` (optional) inserts a SEMANTIC dedup stage —
    SemDeDup's keeper-anchored epsilon-prune
    (`operators.similarity.semantic_prune`) — between decontamination
    and packing, the paper's placement (prune semantic near-duplicates
    of the already exact/near-deduped training corpus before the mix
    is constructed). Requires ``embeddings`` (one row per doc,
    ``emb_id_col`` aligned with doc_id). The cluster space is fitted
    over ALL provided embeddings (the corpus-wide semantic model, so a
    precomputed assignment can be injected via ``semantic_assigned``
    and shared with other curation ops — fit once, serve many); the
    keeper pick and the prune run WITHIN the decontaminated survivor
    set only. All arithmetic is the exact fixed-point integer
    discipline of `kmeans_fit`, so the end-to-end oracle replays this
    stage too.

    ``max_shingle_df`` is the stop-shingle skew guard for BOTH
    similarity joins and is MANDATORY at scale: boilerplate n-grams
    shared by a large fraction of the corpus (headers, license tails,
    stopword runs) turn shared-shingle blocking into a near-cross-join —
    measured as a wedged 200k-doc run in a since-deleted scale probe
    until the cap was wired through. Leave None only for small clean corpora
    (the sf oracle checks, where the cap must be off so DuckDB's
    uncapped SQL replays identically).
    """
    if boilerplate_seg_tokens:
        cleaned = remove_boilerplate_segments(
            docs, seg_tokens=boilerplate_seg_tokens, max_df=boilerplate_max_df
        )
        docs = docs.drop("text").join(cleaned, "doc_id")
    # keep/surv are each consumed by several downstream branches (dedup
    # blocking, canonicalization's iterative counts, decontamination) —
    # cache the shrinking survivor sets so the quality/langid prefix
    # runs once, not once per branch. At cluster scale the same
    # role is played by checkpointing the survivor table between stages.
    # with_quality_language fuses the former quality_features ⋈
    # language_id ⋈ docs three-scan/two-self-join prefix into ONE
    # projection over ONE scan (r11, guide §2.4): same expressions,
    # bit-identical gate values, two exchanges and two corpus scans
    # fewer before the first filter.
    # spread=True: the fused per-row chain below is the pipeline's
    # heaviest map and a compacted corpus is ONE scan split — without
    # the spread it runs single-task, and TWICE: the first action
    # (dedup_canonicalize's eager pair checkpoint) races the pair
    # self-join's two concurrent map stages into the not-yet-built
    # 1-partition cache (measured r11: 2 × 1.25 s single-task stages
    # at the head of every curation query; guide §2.5-2.6).
    keep = (
        with_quality_language(docs, spread=True)
        .filter(
            (F.col("quality_score_e8") >= min_quality_e8)
            & (F.col("lang_pred") != "und")
        )
    ).cache()
    # .cache(), not localCheckpoint: inline pipelined materialization and
    # columnar pruned reads for the two filter consumers. Every pin is
    # function-local and released before return (the graph operators'
    # plan.seal discipline) — see the sealed summary at the bottom.
    # NOTE r11: consumers fan out as CONCURRENT broadcast-build jobs
    # that can race an unbuilt cache and compute its partitions more
    # than once (the event log showed the keep/surv subplans executing
    # 2-3× per query). Forcing each pin with a blocking count() was
    # measured and REJECTED: +0.3-0.6 s per query in an interleaved
    # A/B — the extra job-chain gaps cost more than the duplicate
    # concurrent builds, which overlap on idle cores.
    pins = [keep]
    bench = keep.filter(F.col("doc_id") % bench_mod == 0)
    corpus = keep.filter(F.col("doc_id") % bench_mod != 0)

    surv = exact_dedup(corpus).cache()
    pins.append(surv)
    if near_dup_method == "minhash":
        pairs = minhash_lsh_pairs(surv, threshold=jaccard_threshold, n=3)
    elif near_dup_method == "jaccard":
        pairs = jaccard_dup_pairs(
            surv, threshold=jaccard_threshold, n=3, max_shingle_df=max_shingle_df
        )
    else:
        raise ValueError(f"unknown near_dup_method {near_dup_method!r}")
    surv = apply_dedup(surv, dedup_canonicalize(pairs)).cache()
    pins.append(surv)

    cont = cross_jaccard_pairs(
        surv, bench, threshold=contamination_threshold, n=3,
        max_shingle_df=max_shingle_df,
    )
    # cached even on the no-semantic path: pack_sequences' range
    # repartition SAMPLES its input (one extra full execution of the
    # anti-join chain) before the exchange runs — with the cache the
    # sampler materializes the blocks and the exchange reads them
    # (sequential, so no forcing count is needed here; the semantic
    # branch adds one below for its concurrent consumers).
    clean = surv.join(
        cont.select(F.col("corpus_id").alias("doc_id")).distinct(),
        "doc_id",
        "left_anti",
    ).cache()
    pins.append(clean)

    if semantic_eps_e12 is not None:
        from hippollm_spark.operators.similarity import kmeans_fit, semantic_prune

        if embeddings is None:
            # `embeddings` is required even when `semantic_assigned`
            # supplies the cluster assignment: semantic_prune re-reads
            # the raw vectors for the keeper epsilon rule, so an
            # assigned-only call would crash downstream.
            raise ValueError(
                "semantic_eps_e12 needs `embeddings` (the raw vectors "
                "are re-read for the epsilon rule even when "
                "`semantic_assigned` provides the assignment)"
            )
        # three consumers downstream (the clean-set restriction of the
        # assignment, the survivor semi-join, the packing input), and
        # they launch as concurrent broadcast-build jobs; `clean` is
        # already cached above. A forcing count() here (and on
        # keep/surv) was measured r11: the extra blocking jobs cost
        # more wall than the concurrent duplicate builds they avoid
        # (+0.3-0.6 s per query, reproduced in an interleaved A/B) —
        # rejected; the cache still stops SEQUENTIAL recompute.
        vecs = embeddings.select(
            F.col(emb_id_col).alias("doc_id"), "embedding"
        )
        assigned = semantic_assigned
        if assigned is None:
            _cents, assigned = kmeans_fit(
                vecs,
                k=semantic_k,
                iterations=semantic_iterations,
                id_col="doc_id",
                method="pandas",
            )
        # restrict to the decontaminated survivors: keepers and the
        # epsilon rule are evaluated within the training corpus only
        assigned_c = assigned.join(
            clean.select(F.col("doc_id").alias("__id__")), "__id__", "semi"
        )
        surv_sem = semantic_prune(
            vecs,
            eps_e12=semantic_eps_e12,
            id_col="doc_id",
            assigned=assigned_c,
        )
        clean = clean.join(
            surv_sem.select(F.col("__id__").alias("doc_id")), "doc_id", "semi"
        )

    # Pack by the corpus's shard column (per-language token streams);
    # the predicted language was the GATE, the table's lang column is
    # the training-mix dimension users report on.
    packed = pack_sequences(
        clean.withColumn("n_tokens", F.col("n_tokens").cast("long")),
        ctx=ctx,
        shard_col="lang",
        token_count_col="n_tokens",
    )
    out = (
        packed.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.countDistinct("chunk_id").alias("n_chunks"),
        )
        .orderBy("lang")
    )
    # Seal the (tiny, per-language) summary eagerly and release every
    # function-local cache pin: without the unpersist the keep/surv/
    # clean pins outlive curate_corpus and accumulate across repeated
    # pipeline invocations in one session (the no-leaked-pins
    # discipline of test_iterative_graph_ops_release_cache_pins).
    return plan.seal(out, pins)


def build_training_mix(
    docs: DataFrame,
    *,
    n_buckets: int = 4,
    epoch_factors: dict[int, float] | None = None,
) -> DataFrame:
    """Quality-curriculum mix construction — the composition a
    pretraining data team actually ships: score every document
    (exact-integer composite), bucket the corpus into quality
    quartiles by percentile thresholds (no global sort), then
    replicate each bucket at its configured epoch factor (top quality
    oversampled, bottom down-sampled) with the deterministic
    hash-selected fractional copies.

    Every stage is an already-oracle-checked operator
    (quality_features → threshold_buckets → upsample), so the whole
    composed program is hash-comparable end-to-end. Zero Python; the
    only shuffles are the percentile pass (one row per bucket
    boundary) — the corpus itself never shuffles, and the replication
    is a map-side explode.

    Default factors (bucket 1 = lowest quality): {1: 0.25, 2: 1.0,
    3: 1.5, 4: 2.0}. Output: (doc_id, lang, quality_score_e8, bucket,
    copy_idx) — one row per emitted training copy.
    """
    from hippollm_spark.operators.sampling import upsample
    from hippollm_spark.operators.stats import threshold_buckets
    from hippollm_spark.operators.textstats import quality_features

    factors = epoch_factors or {1: 0.25, 2: 1.0, 3: 1.5, 4: 2.0}
    scored = quality_features(docs).select("doc_id", "quality_score_e8")
    scored = scored.join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    bucketed = threshold_buckets(
        scored, "quality_score_e8", n_buckets, pin_input=True
    )
    factor_expr = None
    for b, f in sorted(factors.items()):
        cond = F.col("bucket") == b
        factor_expr = (
            F.when(cond, F.lit(float(f)))
            if factor_expr is None
            else factor_expr.when(cond, F.lit(float(f)))
        )
    factor_expr = factor_expr.otherwise(F.lit(1.0))
    mixed = upsample(bucketed, 1.0, factor_col=factor_expr, salt="mix")
    return mixed.select(
        "doc_id", "lang", "quality_score_e8", "bucket", "copy_idx"
    )


def domain_quality_stats(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    domain_col: str = "source",
    min_docs: int = 1,
    min_mean_score: float = 0.0,
    blocklist: list[str] | None = None,
) -> DataFrame:
    """Domain-level curation verdicts (the UT1/RefinedWeb-style
    source filter): per domain — document count, mean quality score,
    mean length, and a `keep` flag that is false when the domain is
    blocklisted, too small, or below the mean-quality floor.

    The mean is an exact BIGINT sum over the e8-scaled per-doc scores
    divided by the count — order-independent and engine-replayable.
    One quality scan + one tiny aggregate; joining the verdicts back
    onto the corpus (`domain_filter`) is a broadcast of #domains rows,
    so the corpus itself never shuffles.
    """
    q = quality_features(docs, id_col=id_col, text_col=text_col)
    doc_domains = docs.select(F.col(id_col), F.col(domain_col).alias("domain"))
    per_doc = q.join(doc_domains, id_col)
    agg = per_doc.groupBy("domain").agg(
        F.count("*").alias("n_docs"),
        F.round(
            (
                F.sum("quality_score_e8").cast("double") / F.count("*")
            )
            / F.lit(1e8),
            6,
        ).alias("mean_score"),
        F.round(
            F.sum(F.col("n_chars").cast("decimal(18,6)")).cast("double")
            / F.count("*"),
            2,
        ).alias("mean_chars"),
    )
    blocked = (
        F.col("domain").isin(list(blocklist)) if blocklist else F.lit(False)
    )
    return agg.select(
        "domain",
        "n_docs",
        "mean_score",
        "mean_chars",
        (
            (~blocked)
            & (F.col("n_docs") >= min_docs)
            & (F.col("mean_score") >= min_mean_score)
        ).alias("keep"),
    )


def domain_filter(
    docs: DataFrame,
    verdicts: DataFrame,
    *,
    domain_col: str = "source",
) -> DataFrame:
    """Drop every document whose domain verdict is keep=false — a
    broadcast semi-join on the tiny domain table; the corpus stays in
    place (no shuffle)."""
    keep = verdicts.filter(F.col("keep")).select(
        F.col("domain").alias(domain_col)
    )
    return docs.join(F.broadcast(keep), domain_col, "left_semi")


def write_training_shards(
    docs: DataFrame,
    path: str,
    *,
    shards_per_lang: int = 4,
    ctx: int = 2048,
    salt: str = "epoch0",
    lang_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """The LAST stage of the curation pipeline: turn the curated corpus
    into training shard files — deterministic salted shuffle order
    (`global_shuffle`), concat-and-chunk packing offsets
    (`pack_sequences` over the shuffled order), and a Hive-partitioned
    write with controlled file counts (`write_partitioned`).

    Within each language partition, rows are sorted by shuffle_key, so
    reading a shard's files in order replays the exact packed token
    stream; a different ``salt`` re-permutes everything for the next
    epoch without touching upstream stages. Returns the per-language
    row/chunk summary dict.
    """
    from hippollm_spark.operators.sampling import global_shuffle, pack_sequences
    from hippollm_spark.operators.layout import write_partitioned
    from hippollm_spark.operators.textstats import token_count

    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(lang_col).alias("lang"),
        F.col(text_col).alias("text"),
    ).withColumn("n_tokens", token_count(F.col("text")))
    shuffled = global_shuffle(base, "doc_id", salt=salt)
    packed = pack_sequences(
        shuffled,
        ctx=ctx,
        shard_col="lang",
        id_col="shuffle_key",  # pack in SHUFFLED order, not id order
        token_count_col="n_tokens",
    )
    write_partitioned(
        packed,
        path,
        ["lang"],
        files_per_partition=shards_per_lang,
        sort_within="shuffle_key",
    )
    out = packed.sparkSession.read.parquet(path)
    summary = {
        r["lang"]: (r["n_docs"], r["n_chunks"])
        for r in out.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            (F.max("chunk_id") + 1).alias("n_chunks"),
        )
        .collect()
    }
    return summary
