"""Text analysis for training-data pipelines: language ID, quality
scoring, token counting, document fingerprinting.

All pure column expressions (whole-stage codegen; zero Python in the hot
path) so they run at scan speed over 100 TB — these are the per-document
map stages of a data-curation pipeline and must not shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hippollm_spark import plan
from hippollm_spark.operators.dedup import normalized_text

# Tiny deterministic stopword lists per language for the n-gram/stopword
# language-ID heuristic. (Heuristic quality is not the point — the
# deterministic, SQL-expressible scoring is.)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with"],
    "es": ["el", "la", "de", "que", "los", "con", "una", "por"],
    "fr": ["le", "la", "les", "des", "est", "dans", "une", "pour"],
    "de": ["der", "die", "das", "und", "ist", "mit", "ein", "nicht"],
}


def token_count(text_col: Column | str) -> Column:
    """Whitespace token count."""
    c = normalized_text(text_col, lowercase=False)
    return F.when(F.length(c) == 0, F.lit(0)).otherwise(F.size(F.split(c, " ")))


def bpe_ish_token_count(text_col: Column | str) -> Column:
    """BPE-ish proxy: count word pieces + digits + punctuation runs via
    a tokenizer-style regex. Deterministic, JVM-side."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = F.regexp_extract_all(c, F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"), 0)
    return F.size(toks)


def stopword_hits(
    text_col: Column | str, words: list[str], *, tokens: bool = False
) -> Column:
    """Number of tokens that appear in ``words`` (count with
    multiplicity, via filter on the token array). With ``tokens=True``
    the input column is an already-tokenized ARRAY<STRING> — callers
    scoring a document several ways (language ID probes 4 stopword
    lists, quality scoring 3 ratios) should tokenize ONCE via
    ``with_tokens`` instead of re-running split+regexp per probe."""
    src = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = src if tokens else F.split(normalized_text(src), " ")
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def detect_language(text_col: Column | str, *, tokens: bool = False) -> Column:
    """Stopword-hit language ID: argmax over LANG_MARKERS hit counts,
    tie-break alphabetically; 'und' (undetermined) when zero hits.

    Argmax = comparator array_sort on (hits desc, lang asc), take the
    head — still a single codegen'd expression per row. Prefer the
    DataFrame wrapper ``language_id`` (or ``tokens=True`` over a
    materialized token array): the text form re-tokenizes once per
    language probe."""
    pairs = F.array(
        *[
            F.struct(
                stopword_hits(text_col, ws, tokens=tokens).alias("hits"),
                F.lit(lang).alias("lang"),
            )
            for lang, ws in sorted(LANG_MARKERS.items())
        ]
    )
    ordered = F.array_sort(
        pairs,
        lambda l, r: F.when(l["hits"] > r["hits"], -1)
        .when(l["hits"] < r["hits"], 1)
        .when(l["lang"] < r["lang"], -1)
        .when(l["lang"] > r["lang"], 1)
        .otherwise(0),
    )
    return F.when(ordered[0]["hits"] <= 0, F.lit("und")).otherwise(ordered[0]["lang"])


def with_tokens(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    spread: bool = False,
) -> DataFrame:
    """(doc_id, __text__, __toks__) — normalized whitespace tokens
    materialized in their own projection so downstream expressions
    reference them as a bound column instead of re-running the
    split+regexp tokenizer per probe (Catalyst keeps the projection
    boundary because the expression is non-cheap and multiply-used —
    same discipline as dedup.with_shingles).

    ``spread=True`` routes the input through ``plan.spread``
    first, for callers whose per-row expression chain downstream of
    the tokenizer is CPU-heavy (n-gram md5 chains, per-row array
    sorts): a compacted single-row-group parquet file is ONE scan
    split regardless of size, so that chain otherwise runs single-core
    (measured r11: text_repetition 1.58 s in one task). The spread is
    plan-stats-gated — inputs with enough native splits (the 100-TB
    case) skip the exchange. Keep the default for multi-pass callers
    that materialize a shared frame instead: for those the exchange
    costs more than the branch work it parallelizes (measured r11 on
    ngram_lm_score: 2.3-3.4 s spread vs 1.0 s share-only)."""
    if spread:
        docs = plan.spread(docs)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("__text__"),
        F.split(normalized_text(text_col), " ").alias("__toks__"),
    )


def language_id(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, lang_pred) — tokenize-once DataFrame form of
    ``detect_language``."""
    t = with_tokens(docs, id_col=id_col, text_col=text_col, spread=True)
    return t.select(
        "doc_id", detect_language(F.col("__toks__"), tokens=True).alias("lang_pred")
    )


def quality_features(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document quality features + composite score (rounded 6dp):

    - n_chars, n_tokens, avg token length
    - punct_ratio: non-alnum-non-space chars / chars
    - stopword_ratio: english stopword tokens / tokens
    - uniq_ratio: distinct tokens / tokens (repetition detector)
    - quality_score: clamped linear combination, in [0, 1]

    Tokenizes once (``with_tokens``); the three token-derived ratios
    all read the same bound array column.
    """
    base = with_tokens(docs, id_col=id_col, text_col=text_col, spread=True)
    c = F.col("__text__")
    toks = F.col("__toks__")
    n_tok = F.size(toks)
    n_chars = F.length(c)
    punct = F.length(F.regexp_replace(c, r"[A-Za-z0-9\s]", ""))
    stop = stopword_hits(toks, LANG_MARKERS["en"], tokens=True)
    uniq = F.size(F.array_distinct(toks))
    out = base.select(
        F.col("doc_id"),
        n_chars.alias("n_chars"),
        n_tok.alias("n_tokens"),
        F.round((n_chars - (n_tok - 1)) / n_tok, 6).alias("avg_token_len"),
        F.round(punct / F.greatest(n_chars, F.lit(1)), 6).alias("punct_ratio"),
        F.round(stop / F.greatest(n_tok, F.lit(1)), 6).alias("stopword_ratio"),
        F.round(uniq / F.greatest(n_tok, F.lit(1)), 6).alias("uniq_ratio"),
    )
    # Composite score in EXACT integer arithmetic (doubles diverge
    # across engines by 1 ulp — FMA, decimal→double casts): each
    # 6dp-rounded ratio is re-scaled to an exact integer (×1e6, off-
    # integer by ~1e-9 so the round is unambiguous), weights are
    # integers, and the output is score × 1e8 as BIGINT.
    e6 = 1_000_000
    punct_e6 = F.round(F.col("punct_ratio") * e6, 0).cast("long")
    stop_e6 = F.round(F.col("stopword_ratio") * e6, 0).cast("long")
    uniq_e6 = F.round(F.col("uniq_ratio") * e6, 0).cast("long")
    a_e6 = F.least(F.col("n_tokens").cast("long") * 10_000, F.lit(e6).cast("long"))
    b_e6 = F.lit(e6) - F.least(punct_e6 * 4, F.lit(e6).cast("long"))
    c_e6 = F.least(stop_e6 * 5, F.lit(e6).cast("long"))
    score_e8 = a_e6 * 25 + b_e6 * 25 + c_e6 * 20 + uniq_e6 * 30
    return out.withColumn("quality_score_e8", score_e8.cast("long"))


def with_quality_language(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    spread: bool = False,
) -> DataFrame:
    """``docs.*`` + (n_tokens, quality_score_e8, lang_pred) computed in
    ONE pass — the fused form of ``quality_features`` ⋈ ``language_id``
    for pipelines that gate on both.

    The unfused form scans the corpus three times (docs, quality, langid)
    and runs two doc_id self-joins whose only purpose is re-attaching
    per-row map results to the row they came from; fusing makes it a
    single projection over a single scan, tokenizing once instead of
    twice, with zero joins (guide §2.4: remove shuffles outright; §1.2:
    fix the distributed algorithm first). The expressions are the exact
    ones of ``quality_features`` / ``detect_language`` — same rounded
    ratios, same e8 integer composite — so results are bit-identical to
    the join form (oracle-checked end-to-end via corpus_curation).

    ``spread=True`` is the ``with_tokens`` dial: the fused tokenizer +
    quality + langid chain is the heaviest per-row map in the curation
    pipeline, and a compacted single-row-group parquet corpus is ONE
    scan split no matter its size — measured r11 as a 1.25 s
    single-task stage (twice, see curate_corpus) at the head of every
    curation query. The spread is plan-stats-gated (`plan.spread`), so
    inputs with enough native splits — the 100-TB case — skip the
    exchange entirely. When the spread DOES fire, the output also takes
    a lazy ``plan.barrier``: a caller's filter on the
    computed columns otherwise gets substituted + pushed below the
    round-robin exchange, re-running the whole chain single-task on the
    scan split (measured r11: a 770 ms 1-task Filter stage). The
    barrier only exists on sub-`maxPartitionBytes×cores` inputs, so
    nothing is ever pinned at scale; its blocks are computed inside the
    first consumer's job (no extra action) and bench.py's per-query
    unpersist hygiene reaps them.
    """
    spread_fired = False
    if spread:
        spread_in = plan.spread(docs)
        spread_fired = spread_in is not docs
        docs = spread_in
    t = docs.select(
        "*", F.split(normalized_text(text_col), " ").alias("__toks__")
    )
    c = F.col(text_col)
    toks = F.col("__toks__")
    n_tok = F.size(toks)
    n_chars = F.length(c)
    punct = F.length(F.regexp_replace(c, r"[A-Za-z0-9\s]", ""))
    stop = stopword_hits(toks, LANG_MARKERS["en"], tokens=True)
    uniq = F.size(F.array_distinct(toks))
    t2 = t.select(
        "*",
        n_tok.alias("__q_n_tok__"),
        F.round(punct / F.greatest(n_chars, F.lit(1)), 6).alias("__q_punct__"),
        F.round(stop / F.greatest(n_tok, F.lit(1)), 6).alias("__q_stop__"),
        F.round(uniq / F.greatest(n_tok, F.lit(1)), 6).alias("__q_uniq__"),
        detect_language(toks, tokens=True).alias("lang_pred"),
    )
    e6 = 1_000_000
    punct_e6 = F.round(F.col("__q_punct__") * e6, 0).cast("long")
    stop_e6 = F.round(F.col("__q_stop__") * e6, 0).cast("long")
    uniq_e6 = F.round(F.col("__q_uniq__") * e6, 0).cast("long")
    a_e6 = F.least(F.col("__q_n_tok__").cast("long") * 10_000, F.lit(e6).cast("long"))
    b_e6 = F.lit(e6) - F.least(punct_e6 * 4, F.lit(e6).cast("long"))
    c_e6 = F.least(stop_e6 * 5, F.lit(e6).cast("long"))
    score_e8 = a_e6 * 25 + b_e6 * 25 + c_e6 * 20 + uniq_e6 * 30
    out = t2.select(
        *docs.columns,
        score_e8.cast("long").alias("quality_score_e8"),
        F.col("__q_n_tok__").alias("n_tokens"),
        "lang_pred",
    )
    if spread_fired:
        out = out.transform(plan.barrier)
    return out


def _ngram_join(toks: Column, n: int) -> Column:
    """ARRAY<STRING> of space-joined token n-grams (empty when the
    document has fewer than n tokens)."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _max_run(sorted_col: Column) -> Column:
    """Max frequency of any element of a SORTED array = longest
    equal-run — one aggregate() pass, no nested loops."""
    return F.aggregate(
        sorted_col,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda a, x: F.struct(
            x.alias("prev"),
            F.when(x.eqNullSafe(a["prev"]), a["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                a["best"],
                F.when(x.eqNullSafe(a["prev"]), a["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda a: a["best"],
    )


def _n_distinct(sorted_col: Column) -> Column:
    """Distinct count of a sorted array = number of run starts — same
    single-pass shape as _max_run."""
    return F.aggregate(
        sorted_col,
        F.struct(F.lit(None).cast("string").alias("prev"), F.lit(0).alias("cnt")),
        lambda a, x: F.struct(
            x.alias("prev"),
            (a["cnt"] + F.when(x.eqNullSafe(a["prev"]), 0).otherwise(1)).alias("cnt"),
        ),
        lambda a: a["cnt"],
    )


def repetition_signals(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition quality signals per document (Rae et al.
    2021 §A1.1 repetition filters, re-expressed relationally):

    - ``top2_frac`` / ``top3_frac``: fraction of tokens covered by the
      single most frequent 2-/3-gram (count × n / n_tokens)
    - ``dup5_frac``: fraction of 5-gram occurrences that are repeats
      (1 − distinct/total)

    All ratios rounded to 6dp (integer counts divided in DOUBLE — the
    same bits on any engine). Zero-shuffle narrow map: the n-gram
    frequency maxima are computed per row with higher-order array
    functions (work bounded by document length²), never a groupBy — at
    corpus scale this runs at scan speed, unlike the explode+count
    formulation whose shuffle volume is one row per n-gram occurrence.
    """
    # spread=True: the per-row sorted n-gram arrays below are the
    # heaviest single-pass expression chain in this module (r11
    # measured 1.58 s single-task without it, 1.1 s spread)
    base = with_tokens(docs, id_col=id_col, text_col=text_col, spread=True)
    toks = F.col("__toks__")
    # Materialize each n-gram array (sorted) once in its own projection;
    # the frequency statistics below are single linear passes over the
    # bound sorted column. The naive transform(distinct, g ->
    # size(filter(grams, = g))) form is O(d²) string comparisons per
    # row with the gram-building expression tree duplicated into every
    # lambda — 25× slower at sf0.1.
    withg = base.select(
        F.col("doc_id"),
        F.size(toks).alias("n_tokens"),
        F.array_sort(_ngram_join(toks, 2)).alias("__g2__"),
        F.array_sort(_ngram_join(toks, 3)).alias("__g3__"),
        F.array_sort(_ngram_join(toks, 5)).alias("__g5__"),
    )
    n_tok = F.greatest(F.col("n_tokens"), F.lit(1))
    n5 = F.size(F.col("__g5__"))
    return withg.select(
        F.col("doc_id"),
        F.col("n_tokens"),
        F.round(_max_run(F.col("__g2__")) * 2 / n_tok.cast("double"), 6).alias(
            "top2_frac"
        ),
        F.round(_max_run(F.col("__g3__")) * 3 / n_tok.cast("double"), 6).alias(
            "top3_frac"
        ),
        F.round(
            (n5 - _n_distinct(F.col("__g5__")))
            / F.greatest(n5, F.lit(1)).cast("double"),
            6,
        ).alias("dup5_frac"),
    )


def md5_long(col: Column | str) -> Column:
    """First 60 bits of md5 as a BIGINT — a hash both Spark and DuckDB
    compute identically (xxhash64 exists only in Spark)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def winnowing_fingerprints(
    docs: DataFrame,
    k: int = 8,
    window: int = 4,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Rolling-hash document fingerprints via winnowing (the MOSS
    scheme): hash every character k-gram of the normalized text, slide
    a window of ``window`` consecutive hashes, keep each window's
    minimum, dedupe. Robust to insertions/reordering in a way whole-doc
    hashing is not; shared fingerprints between documents indicate
    copied spans.

    Shape notes (each of these was a measured trap, not a guess):

    - The pure-array form (one transform computing hashes, a second
      taking per-window array_min slices) is O(n²): Catalyst's
      projection collapse inlines the first transform into the second,
      recomputing ALL k-gram md5s per window (hangs at 500 docs).
    - Exploding a precomputed hash *array* is also wrong: Catalyst's
      InferFiltersFromGenerate adds `size(hashes) > 0` and pushes it
      through the exchange down to the scan, so the whole md5 pass runs
      twice — once inside the scan stage, which for a compacted parquet
      file may be a single partition (measured: 14 s single-core at
      sf0.1). Instead explode the cheap *position* sequence and compute
      each k-gram's hash per-row after the explode; the inferred filter
      is then just `size(sequence(..)) > 0`.
    - The (tiny) raw text is repartitioned by doc_id before the
      compute-bound hash stage so it parallelizes regardless of the
      scan's partition count; the window's partitionBy(doc_id) reuses
      that partitioning — same total shuffle count.

    Output: (doc_id, fp BIGINT), one row per selected fingerprint.
    """
    from pyspark.sql import Window

    n_part = docs.sparkSession.sparkContext.defaultParallelism
    staged = docs.select(
        F.col(id_col).alias("doc_id"), normalized_text(text_col).alias("__norm__")
    ).repartition(n_part, "doc_id")
    exploded = staged.select(
        "doc_id",
        F.posexplode(
            F.expr(f"sequence(1, greatest(length(__norm__) - {k - 1}, 1))")
        ).alias("pos", "i"),
        "__norm__",
    ).select(
        "doc_id",
        "pos",
        F.expr(
            f"cast(conv(substring(md5(substr(__norm__, i, {k})), 1, 15), 16, 10)"
            " as bigint)"
        ).alias("h"),
    )
    wmin = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, window - 1)
    wall = Window.partitionBy("doc_id")
    return (
        exploded.select(
            "doc_id",
            "pos",
            F.min("h").over(wmin).alias("fp"),
            F.count("*").over(wall).alias("__n__"),
        )
        .filter(
            (F.col("pos") <= F.col("__n__") - window)
            | ((F.col("__n__") < window) & (F.col("pos") == 0))
        )
        .select("doc_id", "fp")
        .distinct()
    )


def winnow_dup_pairs(
    docs: DataFrame,
    k: int = 8,
    window: int = 4,
    *,
    min_shared: int = 20,
    max_df: int | Column | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Copied-span pair detection over winnowing fingerprints: doc pairs
    sharing >= ``min_shared`` fingerprints.

    ``max_df`` drops fingerprints present in more than that many
    documents (MOSS does the same: an 8-gram shared by half the corpus
    is boilerplate, not evidence of copying). This is also the scale
    guard — a fingerprint in f docs contributes f·(f-1)/2 candidate
    pairs, so one boilerplate fingerprint across 1% of a 100 TB corpus
    is a quadratic blowup. A corpus-derived threshold (e.g.
    ``n_docs div 50``) should be passed as a scalar-subquery Column
    (``docs.agg(...).scalar()``) rather than a pre-computed int: the
    count then runs INSIDE the pair query instead of as a separate
    eager job per call (guide §1.2 — fewer actions).

    Shape note: NOT a fp self-join — a self-join recomputes the whole
    rolling-hash lineage once per side (no exchange reuse under AQE)
    and shuffles the exploded fps twice. Instead group doc-ids per
    fingerprint (one shuffle; the group size IS the doc-frequency, so
    the max_df filter is free) and emit each group's unordered pairs
    with a double explode. Output: (doc_a, doc_b, n_shared).
    """
    fps = winnowing_fingerprints(
        docs, k=k, window=window, id_col=id_col, text_col=text_col
    )
    byfp = fps.groupBy("fp").agg(F.collect_list("doc_id").alias("__ds__"))
    if max_df is not None:
        byfp = byfp.filter(F.size("__ds__") <= max_df)
    return (
        byfp.select(F.explode("__ds__").alias("doc_a"), "__ds__")
        .select("doc_a", F.explode("__ds__").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def fingerprint(text_col: Column | str) -> Column:
    """Stable content fingerprint: md5 of the normalized text.
    (md5 matches across Spark and DuckDB, so it doubles as the dedup
    key and the oracle-checkable fingerprint.)"""
    return F.md5(normalized_text(text_col))


def with_fingerprints(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    return docs.select(
        F.col(id_col).alias("doc_id"), fingerprint(text_col).alias("fingerprint")
    )


# --------------------------------------------------------------------------
# PII scrubbing — standard curation stage before training
# --------------------------------------------------------------------------

# Dialect-portable patterns (Java regex on the Spark side, RE2 in the
# DuckDB oracle): character classes + bounded quantifiers only, no
# lookaround, no backreferences.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "url": (r"https?://[^ ]+", "<URL>"),
    "phone": (r"\+[0-9]{8,15}", "<PHONE>"),
}


def scrub_pii(text_col: Column | str) -> Column:
    """Replace emails, URLs, and international phone numbers with typed
    placeholders — applied in a fixed order (email before url before
    phone) so the output is deterministic. Pure regexp_replace chain:
    scan-speed, codegen, no shuffle."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    for pattern, token in PII_PATTERNS.values():
        c = F.regexp_replace(c, pattern, token)
    return c


def pii_counts(text_col: Column | str) -> list[Column]:
    """One count column per PII class (named n_email / n_url / n_phone),
    computed on the raw text before scrubbing."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return [
        F.size(F.regexp_extract_all(c, F.lit(pattern), 0)).alias(f"n_{name}")
        for name, (pattern, _token) in PII_PATTERNS.items()
    ]


def quality_gate(
    docs: DataFrame,
    *,
    min_quality_e8: int = 55_000_000,
    text_col: str = "text",
    require_lang: bool = True,
    max_top2_frac: float | None = None,
    max_dup5_frac: float | None = None,
) -> DataFrame:
    """Stateless quality (+ language) gate: one projection chain and a
    filter — no joins, no aggregations — so the SAME operator is legal
    in batch and Structured Streaming plans (the DataFrame-returning
    ``quality_features``/``language_id`` forms join on doc_id, which a
    stream cannot do without watermark gymnastics). Keeps every input
    column; the score formula is bit-identical to ``quality_features``.

    ``max_top2_frac`` / ``max_dup5_frac`` (optional) add the Gopher
    repetition filters — per-row array expressions, so they stay
    stream-legal; thresholds compare the same 6dp-rounded values as
    ``repetition_signals``.
    """
    staged = docs.withColumn(
        "__toks__", F.split(normalized_text(text_col), " ")
    )
    c = F.col(text_col)
    toks = F.col("__toks__")
    n_tok = F.size(toks)
    n_chars = F.length(c)
    punct = F.length(F.regexp_replace(c, r"[A-Za-z0-9\s]", ""))
    stop = stopword_hits(toks, LANG_MARKERS["en"], tokens=True)
    uniq = F.size(F.array_distinct(toks))
    e6 = 1_000_000
    punct_e6 = F.round(
        F.round(punct / F.greatest(n_chars, F.lit(1)), 6) * e6, 0
    ).cast("long")
    stop_e6 = F.round(
        F.round(stop / F.greatest(n_tok, F.lit(1)), 6) * e6, 0
    ).cast("long")
    uniq_e6 = F.round(
        F.round(uniq / F.greatest(n_tok, F.lit(1)), 6) * e6, 0
    ).cast("long")
    a_e6 = F.least(n_tok.cast("long") * 10_000, F.lit(e6).cast("long"))
    b_e6 = F.lit(e6) - F.least(punct_e6 * 4, F.lit(e6).cast("long"))
    c_e6 = F.least(stop_e6 * 5, F.lit(e6).cast("long"))
    score = (a_e6 * 25 + b_e6 * 25 + c_e6 * 20 + uniq_e6 * 30).cast("long")
    out = staged.filter(score >= min_quality_e8)
    if require_lang:
        out = out.filter(detect_language(toks, tokens=True) != "und")
    if max_top2_frac is not None:
        g2 = F.array_sort(_ngram_join(toks, 2))
        top2 = F.round(_max_run(g2) * 2 / F.greatest(n_tok, F.lit(1)).cast("double"), 6)
        out = out.filter(top2 <= max_top2_frac)
    if max_dup5_frac is not None:
        g5 = F.array_sort(_ngram_join(toks, 5))
        n5 = F.size(g5)
        dup5 = F.round(
            (n5 - _n_distinct(g5)) / F.greatest(n5, F.lit(1)).cast("double"), 6
        )
        out = out.filter(dup5 <= max_dup5_frac)
    return out.drop("__toks__")


# --------------------------------------------------------------------------
# Keyword / collocation extraction and classifier inference
# --------------------------------------------------------------------------


def tfidf_keywords(
    docs: DataFrame,
    k: int = 5,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k TF-IDF keywords per document.

    score = tf × ln(1 + N/df), idf rounded to 6dp before the multiply
    and the product rounded to 6dp after it, so DuckDB reproduces the
    exact bits (same discipline as the BM25 oracle). Ties broken by
    term ascending; output (doc_id, term, tf, df, score_tfidf, rank).

    Scale shape: the explode shuffles (doc_id, term) pairs once for the
    tf aggregate; the document-frequency table is one row per distinct
    term (vocabulary-sized, orders of magnitude smaller than the
    corpus) and joins back by broadcast; the per-document top-k window
    re-shuffles only (doc_id, term, tf, df) quads — the tf aggregate
    partitions on (doc_id, term), the window on doc_id alone, so the
    extra exchange is narrow and unavoidable without bucketing the
    corpus by doc_id up front (which `HippoStore.save_bucketed` does
    for the persisted-table path).
    """
    from pyspark.sql import Window

    t = with_tokens(docs, id_col=id_col, text_col=text_col)
    terms = t.select("doc_id", F.explode("__toks__").alias("term")).filter(
        F.col("term") != ""
    )
    # The term-frequency table feeds BOTH the scored join and the
    # document-frequency aggregate; without a materialization boundary
    # each branch re-runs the scan+tokenize+explode+aggregate from the
    # leaf (plan inspection r11: 4 parquet scans of the corpus, zero
    # ReusedExchange). Lazy localCheckpoint computes the posting table
    # once per execution — at 100 TB that is ONE corpus tokenization
    # instead of two (guide §2.4: remove repeated scans; §5: the
    # materialized table is the (doc, term, tf) postings, far smaller
    # than the text it came from).
    tf = (
        terms.groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .transform(plan.barrier)
    )
    # corpus size as a scalar subquery: the count runs inside the
    # scoring query instead of as a separate eager docs.count() job per
    # call (guide §1.2 — fewer actions); double cast = float(n) exactly.
    n_docs = docs.agg(F.count("*").cast("double").alias("__n__")).scalar()
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.join(F.broadcast(df), "term").select(
        "doc_id",
        "term",
        "tf",
        "df",
        F.round(
            F.col("tf")
            * F.round(F.log(F.lit(1.0) + n_docs / F.col("df")), 6),
            6,
        ).alias("score_tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def pmi_collocations(
    docs: DataFrame,
    k: int = 20,
    *,
    min_count: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k adjacent-bigram collocations by pointwise mutual
    information: PMI = ln(c_xy · T² / (B · c_x · c_y)) with T = total
    tokens, B = total bigrams — every argument of the ln is an exact
    integer product, so the 6dp-rounded PMI matches across engines.

    Bigrams under ``min_count`` occurrences are dropped (PMI is noise
    on rare pairs — standard Church & Hanks practice, and the scale
    guard: the surviving bigram table is vocabulary²-bounded but
    min_count-pruned). Counts aggregate map-side; the unigram table is
    broadcast back twice (once per side of the bigram). Final top-k is
    a TakeOrderedAndProject, never a full sort.

    Output: (w1, w2, n_pair, n_w1, n_w2, pmi).
    """
    # t feeds three passes (unigram counts, bigram counts, the T/B
    # totals collect): checkpoint the tokenized frame so the corpus is
    # scanned+tokenized once per execution, not three times (r11,
    # guide §2.4 — plan inspection showed one parquet scan per branch,
    # zero ReusedExchange).
    t = with_tokens(docs, id_col=id_col, text_col=text_col).transform(plan.barrier)
    toks = F.col("__toks__")
    uni = (
        t.select(F.explode(toks).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("n_w"))
    )
    pairs = (
        t.select(
            F.explode(
                F.when(
                    F.size(toks) >= 2,
                    F.transform(
                        F.sequence(F.lit(0), F.size(toks) - 2),
                        lambda i: F.struct(
                            F.element_at(toks, i + 1).alias("w1"),
                            F.element_at(toks, i + 2).alias("w2"),
                        ),
                    ),
                ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("n_pair"))
        .filter(F.col("n_pair") >= min_count)
    )
    # T and B count ALL token / bigram occurrences (including pruned
    # bigrams) — as scalar subqueries over the checkpointed t, so they
    # run inside the scoring query (MergeScalarSubqueries folds the two
    # into one aggregate) instead of as a separate eager collect() job
    # per call (guide §1.2 — fewer actions). Same long sums, same
    # long→double cast, so the 6dp PMI is value-identical.
    sizes = t.select(F.size(toks).alias("n"))
    T = sizes.agg(F.sum("n").cast("double").alias("__t__")).scalar()
    B = sizes.agg(
        F.sum(F.greatest(F.col("n") - 1, F.lit(0))).cast("double").alias("__b__")
    ).scalar()
    u1 = uni.select(F.col("w").alias("w1"), F.col("n_w").alias("n_w1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("n_w").alias("n_w2"))
    scored = (
        pairs.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .select(
            "w1",
            "w2",
            "n_pair",
            "n_w1",
            "n_w2",
            F.round(
                F.log(
                    (F.col("n_pair") * T * T)
                    / (B * F.col("n_w1") * F.col("n_w2"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), "w1", "w2").limit(k)


# fastText-style hashed linear classifier inference. The "model" is a
# weight per hash bucket; here the default weights are derived
# deterministically from the bucket id (a stand-in for a trained
# vector — the serving shape, which is what the engine owns, is
# identical). A real model would broadcast its weight table and
# array-index into it; either way inference is a per-row expression —
# NO shuffle, NO Python — i.e. classifier scoring at scan speed.
N_CLASSIFIER_BUCKETS = 1 << 16


def _bucket_weight_e6(bucket: Column) -> Column:
    """Deterministic pseudo-weight in [-1, 1] (×1e6, integer): derived
    from md5 of the bucket id so both engines agree bit-for-bit."""
    h = F.conv(F.substring(F.md5(bucket.cast("string")), 1, 15), 16, 10).cast(
        "long"
    )
    return h % 2_000_001 - 1_000_000


def linear_classifier_score(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = N_CLASSIFIER_BUCKETS,
) -> DataFrame:
    """Per-document logistic score over hashed bag-of-words features:
    z = mean over tokens of w[h(token) mod n_buckets], score =
    1/(1+e^-z). The token→weight map, the mean, and the sigmoid are a
    single codegen'd expression chain (aggregate over transform) — the
    100 TB shape is scan-bound with zero exchanges.

    The weight sum is assembled in exact integer µ-units; the only
    double steps are one division (exact-integer operands → identical
    bits on any engine) and the exp. z and the sigmoid are FLOORED at
    6dp rather than rounded: round(q, 6) of two identical doubles can
    still disagree across engines at .xxxxxx5 boundaries (Spark rounds
    the decimal string HALF_UP, DuckDB the binary value — and
    w_sum/n produces exactly such rationals), while floor of an
    identical double is identical everywhere.

    Output: (doc_id, n_tokens, w_sum_e6 BIGINT, z DOUBLE, score DOUBLE).
    """
    # spread=True: one md5 per token per row — the heaviest per-row
    # chain after the n-gram hashers (r11, guide §2.2)
    t = with_tokens(docs, id_col=id_col, text_col=text_col, spread=True)
    toks = F.col("__toks__")
    w_sum = F.aggregate(
        F.transform(
            toks,
            lambda tok: _bucket_weight_e6(
                F.pmod(
                    F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long"),
                    F.lit(n_buckets),
                )
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_tok = F.greatest(F.size(toks), F.lit(1))
    z = F.floor(w_sum / n_tok.cast("double")) / 1_000_000.0
    sigmoid = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return t.select(
        F.col("doc_id"),
        F.size(toks).alias("n_tokens"),
        w_sum.alias("w_sum_e6"),
        z.alias("z"),
        (F.floor(sigmoid * 1_000_000.0) / 1_000_000.0).alias("score"),
    )


def ngram_lm_score(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Perplexity-proxy quality scoring with a self-trained bigram LM —
    the relational form of CCNet-style perplexity filtering (Wenzek et
    al. 2020): documents whose token transitions are improbable under
    the corpus's own bigram statistics (gibberish, boilerplate soup,
    wrong-language shards) score high and get filtered.

    Model: add-one-smoothed bigram LM, P(y|x) = (c_xy + 1)/(c_x + V),
    V = unigram vocabulary size. Score = mean over a doc's bigrams of
    −ln P — lower is more fluent. Docs with no bigrams score NULL.

    Two passes over the corpus, both shuffle-narrow: (1) aggregate
    global bigram/unigram counts — vocabulary-sized tables; (2)
    explode each doc's bigrams and join the count tables back, then
    aggregate per doc. The count joins are vocabulary-keyed (broadcast
    when small; at 100 TB the bigram table is a standard shuffle join
    keyed on narrow string pairs — NOT collected anywhere).

    Numeric discipline: each −ln P term is computed from exact integer
    counts and rounded to 6dp, the per-doc total sums rounded terms as
    exact DECIMAL, and the mean divides by the exact bigram count —
    the BM25/JS-divergence summation rule.

    Output: (doc_id, n_bigrams, nll_e6-mean as nll DOUBLE 6dp).
    """
    # t feeds four passes (bigram counts, unigram counts, the vocab
    # count, the per-doc scoring explode): checkpoint the tokenized
    # frame so the corpus is scanned+tokenized once per execution —
    # plan inspection r11 showed SIX parquet scans of the corpus and
    # zero ReusedExchange without the boundary (guide §2.4).
    t = with_tokens(docs, id_col=id_col, text_col=text_col).transform(plan.barrier)
    toks = F.col("__toks__")
    doc_bigrams = t.select(
        "doc_id",
        F.explode(
            F.when(
                F.size(toks) >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size(toks) - 2),
                    lambda i: F.struct(
                        F.element_at(toks, i + 1).alias("w1"),
                        F.element_at(toks, i + 2).alias("w2"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2").transform(plan.barrier)
    bg_counts = doc_bigrams.groupBy("w1", "w2").agg(F.count("*").alias("c_xy"))
    uni = (
        t.select(F.explode(toks).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("c_x"))
    )
    # |V| as a scalar subquery: the vocabulary count runs inside the
    # scoring query instead of as a separate eager uni.count() job per
    # call (guide §1.2 — fewer actions); same long + long, same cast.
    vocab = uni.agg(F.count("*").alias("__v__")).scalar()
    u1 = uni.select(F.col("w").alias("w1"), "c_x")
    scored = (
        doc_bigrams.join(bg_counts, ["w1", "w2"])
        .join(u1, "w1")
        .select(
            "doc_id",
            F.round(
                -F.log(
                    (F.col("c_xy") + 1)
                    / (F.col("c_x") + vocab).cast("double")
                ),
                6,
            ).alias("__t__"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            # floor at 6dp, not round: the mean's quotient can land on
            # a .xxxxxx5 boundary where Spark's and DuckDB's round()
            # disagree; floor of identical doubles never does
            (
                F.floor(
                    F.sum(F.col("__t__").cast("decimal(38,10)")).cast("double")
                    / F.count("*")
                    * 1_000_000
                )
                / 1_000_000
            ).alias("nll"),
        )
    )


def chi2_keywords(
    docs: DataFrame,
    label_col: str,
    k: int = 10,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 2,
) -> DataFrame:
    """Top-k label-distinctive terms by the χ² test of independence
    between term presence and label (the classic supervised feature
    selection — Yang & Pedersen 1997): for each (term, label), the 2×2
    table (docs in label with/without term × other labels with/without)
    gives χ² = N(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)).

    All counts are exact integers: one (term,label) document-frequency
    aggregate over DISTINCT tokens per doc (presence, not tf), a
    labels-sized broadcast of per-label doc counts, then the χ² ratio
    in doubles rounded 6dp and a per-label top-k window. Vocabulary
    pruning via `min_df` keeps the scored table term-sized; the
    corpus shuffles once on (term, label).

    Output: (label, term, n_with, df_term, chi2, rank), rank by
    (chi2 desc, term asc) — deterministic and engine-replayable (the
    χ² value is a single division of exact integer products).
    """
    from pyspark.sql import Window

    t = with_tokens(docs, id_col=id_col, text_col=text_col)
    labels = docs.select(
        F.col(id_col).alias("doc_id"), F.col(label_col).alias("label")
    )
    # presence: one row per (doc, distinct term)
    pres = (
        t.select("doc_id", F.explode(F.array_distinct("__toks__")).alias("term"))
        .filter(F.col("term") != "")
        .join(labels, "doc_id")
    )
    tl = pres.groupBy("term", "label").agg(F.count("*").alias("a_"))
    term_df = tl.groupBy("term").agg(F.sum("a_").alias("df_term")).filter(
        F.col("df_term") >= min_df
    )
    label_n = labels.groupBy("label").agg(F.count("*").alias("n_label"))
    # N as a scalar subquery: the doc count runs inside the χ² query
    # instead of as a separate eager labels.count() job per call
    # (guide §1.2 — fewer actions); same long arithmetic, same casts.
    n_total = labels.agg(F.count("*").alias("__n__")).scalar()
    cells = (
        tl.join(F.broadcast(term_df), "term")
        .join(F.broadcast(label_n), "label")
    )
    a = F.col("a_").cast("double")                      # label & term
    b = (F.col("n_label") - F.col("a_")).cast("double")  # label, no term
    c = (F.col("df_term") - F.col("a_")).cast("double")  # other, term
    d = (
        n_total - F.col("n_label") - F.col("df_term") + F.col("a_")
    ).cast("double")                                    # other, no term
    num = (a * d - b * c)
    denom = (a + b) * (c + d) * (a + c) * (b + d)
    chi2 = F.when(denom > 0, n_total.cast("double") * num * num / denom)
    scored = cells.select(
        "label",
        "term",
        F.col("a_").alias("n_with"),
        "df_term",
        F.round(chi2, 6).alias("chi2"),
    )
    w = Window.partitionBy("label").orderBy(F.desc("chi2"), F.asc("term"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def readability_scores(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 6,
) -> DataFrame:
    """Flesch reading-ease and Flesch-Kincaid grade level from three
    deterministic integer counts — words (whitespace tokens),
    sentences (runs of [.!?], clamped ≥ 1), and syllables (runs of
    vowels incl. y, the standard regex heuristic):

        ease  = 206.835 − 1.015·(W/S) − 84.6·(Y/W)
        grade = 0.39·(W/S) + 11.8·(Y/W) − 15.59

    Pure codegen'd regexp_count expressions — scan-speed, no UDF, no
    shuffle; the formula is two divisions of exact integers, so both
    engines compute bit-identical doubles. A readability floor is a
    standard curation gate alongside `quality_features` (documents
    full of run-on pseudo-sentences or consonant noise score far off
    the 60-80 "plain English" band).
    """
    t = F.col(text_col)
    low = F.lower(t)
    words = F.greatest(
        F.regexp_count(low, F.lit(r"[^\s]+")), F.lit(1)
    )
    sentences = F.greatest(
        F.regexp_count(t, F.lit(r"[.!?]+")), F.lit(1)
    )
    syllables = F.regexp_count(low, F.lit(r"[aeiouy]+"))
    wps = words.cast("double") / sentences.cast("double")
    spw = syllables.cast("double") / words.cast("double")
    return docs.select(
        F.col(id_col),
        words.alias("n_words"),
        sentences.alias("n_sentences"),
        syllables.alias("n_syllables"),
        F.round(
            F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, round_to
        ).alias("flesch_ease"),
        F.round(
            F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), round_to
        ).alias("fk_grade"),
    )


def ppmi_pairs(
    docs: DataFrame,
    vocab_size: int = 200,
    window: int = 2,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 6,
) -> DataFrame:
    """Count-based distributional semantics WITHOUT a model: positive
    PMI over symmetric ±``window`` co-occurrences of the top
    ``vocab_size`` terms — the classic PPMI matrix whose rows are
    usable word vectors (Levy & Goldberg 2014 showed SGNS implicitly
    factorizes it). `ppmi_vectors` assembles dense rows; feed those to
    `similarity.pca_fit` for the SVD-style compression.

    Shape: tokenize once → (doc, pos, term) → map-side offset
    explode (each token emits its ±window context POSITIONS) →
    ONE equi-join back on (doc, pos) — fanout is 2·window per token,
    never a doc-length self-join — → exact integer pair counts.
    PPMI = max(0, ln(n_ab·T / (n_a·n_b))) over exact integer counts
    (margins from the PAIR table, so the identity Σ_b n_ab = n_a holds
    by construction), rounded at 6dp; vocabulary selection is
    deterministic (count desc, term asc).

    Output: (term_a, term_b, n_ab, ppmi) for co-occurring vocab pairs.
    """
    # toks feeds the vocabulary aggregate AND both sides of the
    # (doc, pos) context join; vt additionally feeds the join twice.
    # Checkpoint both shared frames so the corpus is scanned+tokenized
    # once per execution — plan inspection r11 showed 32 parquet scans
    # of the corpus (one per branch of the offset-explode join tree)
    # and zero ReusedExchange without the boundaries (guide §2.4). The
    # materialized frames are the positional postings and their
    # vocab-filtered subset, both far smaller than the text.
    t = with_tokens(docs, id_col=id_col, text_col=text_col)
    toks = (
        t.select(
            F.col("doc_id"),
            F.posexplode(F.col("__toks__")).alias("pos", "term"),
        )
        .filter(F.col("term") != "")
        .transform(plan.barrier)
    )
    vocab = (
        toks.groupBy("term")
        .agg(F.count("*").alias("__cnt__"))
        .orderBy(F.desc("__cnt__"), F.asc("term"))
        .limit(vocab_size)
        .select("term")
    )
    vt = toks.join(F.broadcast(vocab), "term").transform(plan.barrier)
    offsets = [o for o in range(-window, window + 1) if o != 0]
    ctx = vt.select(
        "doc_id",
        F.col("term").alias("term_a"),
        F.explode(
            F.array(*[F.col("pos") + F.lit(o) for o in offsets])
        ).alias("pos"),
    )
    pairs = (
        ctx.join(
            vt.select("doc_id", "pos", F.col("term").alias("term_b")),
            ["doc_id", "pos"],
        )
        .groupBy("term_a", "term_b")
        .agg(F.count("*").alias("n_ab"))
    )
    marg_a = pairs.groupBy("term_a").agg(F.sum("n_ab").alias("__na__"))
    marg_b = pairs.groupBy("term_b").agg(F.sum("n_ab").alias("__nb__"))
    total = pairs.agg(F.sum("n_ab").alias("__t__"))
    scored = (
        pairs.join(F.broadcast(marg_a), "term_a")
        .join(F.broadcast(marg_b), "term_b")
        .crossJoin(F.broadcast(total))
    )
    pmi = F.log(
        F.col("n_ab").cast("double")
        * F.col("__t__").cast("double")
        / (F.col("__na__").cast("double") * F.col("__nb__").cast("double"))
    )
    return scored.select(
        "term_a",
        "term_b",
        "n_ab",
        F.round(F.greatest(pmi, F.lit(0.0)), round_to).alias("ppmi"),
    )


def ppmi_vectors(
    pairs: DataFrame,
    *,
    out_col: str = "embedding",
) -> DataFrame:
    """Assemble dense PPMI row vectors from `ppmi_pairs` output: the
    context vocabulary (distinct term_b, sorted) defines the
    dimensions; each term_a's row is the vocab-length array with its
    PPMI weights (0 where the pair never co-occurred). Pure JVM
    (map_from_entries + a sequence transform) — no UDF; rows are
    vocab-sized, so this stays small even when the corpus is not.
    """
    dims = [
        r["term_b"]
        for r in pairs.select("term_b").distinct().orderBy("term_b").collect()
    ]
    idx = F.create_map(
        *[x for i, d in enumerate(dims) for x in (F.lit(d), F.lit(i))]
    )
    entries = pairs.select(
        "term_a", idx[F.col("term_b")].alias("__i__"), "ppmi"
    )
    grouped = entries.groupBy("term_a").agg(
        F.map_from_entries(
            F.collect_list(F.struct("__i__", "ppmi"))
        ).alias("__m__")
    )
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(len(dims) - 1)),
        lambda i: F.coalesce(F.col("__m__")[i], F.lit(0.0)),
    )
    return grouped.select(
        F.col("term_a").alias("term"), vec.alias(out_col)
    )
