"""The annotation write-path as staged Spark jobs (reference C1-C5,
annotator.py:116-243).

The reference processes one document in a nested Python loop with one
synchronous model call per fact — no batching, no parallelism
(annotator.py:185-218). Here every model interaction is an Arrow-batched
``mapInPandas`` stage over a DataFrame, and the per-fact candidate
lookups become set-oriented joins:

  docs
   └─ contextualize          (LLM, one call per doc        — C1 prelude)
   └─ split into chunks      (splitter from functions.text — T1-T3)
   └─ extract facts          (LLM + bullet parse, exploded — C2)
   └─ reformulate            (LLM per fact                 — C5)
   └─ dedup                  (kNN join → NLI gate → LLM confirm — C3)
   └─ extract+resolve entities (LLM, kNN join, NLI rank, LLM gate — C4)
   └─ append with dense ids  (M1/M2 via operators.relational)

Sequentiality caveat (SURVEY.md §7a): the reference dedups fact N
against facts 1..N-1 *including ones added moments earlier in the same
doc*. Batch mode approximates this by gating each fact against (a) all
existing store facts and (b) all *earlier-ordinal* facts of the same
batch — identical results unless a fact matches an earlier fact that
was itself dropped as redundant (a chain), which the scripted-model
tests pin down. Exact serial parity is available by feeding documents
one at a time. The batch ordinal ``__ord__`` is the struct (doc_id,
chunk_idx, fact_ordinal): structs compare field by field, so it orders
facts like the reference's serial loop and costs no ranking job.

Backends (LLM / NLI) are plain picklable objects shipped to executors
(deterministic ScriptedLLM / ScriptedNLI in tests — FIXTURES.md §5).
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hippollm_spark import plan
from hippollm_spark.functions.text import (
    first_sentence,
    parse_bullet_points,
    split_naive,
    split_paragraphs,
    split_recursive,
)
from hippollm_spark.pipelines import prompts
from hippollm_spark.pipelines.backends import GRAMMAR_YN
from hippollm_spark.store import HippoStore


def get_splitter(strategy: str):
    """T6 — splitter factory covering all four reference strategies
    (splitters.py:122-135). ``semantic`` returns `split_semantic`,
    whose second argument is an executor-local text→vector callable
    (`AnnotateConfig.semantic_embed_fn` in the pipeline)."""
    from hippollm_spark.functions.text import split_semantic

    return {
        "naive": split_naive,
        "paragraph": split_paragraphs,
        "recursive": split_recursive,
        "semantic": split_semantic,
    }[strategy]


@dataclass
class AnnotateConfig:
    splitter: str = "recursive"
    chunk_size: int = 1000
    ctx_size: int = 5000     # reference annotator.py:227
    k_dedup: int = 5         # reference C3 candidate count
    k_link: int = 10         # reference annotator.py:158
    embed_dim: int = 384
    # splitter="semantic" only: picklable text -> list[float] callable
    # shipped to executors (the reference loads a SentenceTransformer
    # inside its SemanticChunker, splitters.py:99-119; here any
    # deterministic embedder works — tests use the hash embedder)
    semantic_embed_fn: object | None = None
    # Spread rows across this many partitions immediately before each
    # LLM mapInPandas stage. AQE sizes shuffle partitions by BYTES, and
    # chunk/fact rows are tiny — left alone it coalesces them onto a
    # handful of cores while each row costs an LLM call (the measured
    # 6x ingest_m1 effect, but per-row cost here is 1000x larger).
    # None = leave partitioning to the upstream plan (test-scale default).
    inference_partitions: int | None = None


# --------------------------------------------------------------------------
# Stage 1 — contextualize (C1 prelude: LLM on the first ctx_size chars)
# --------------------------------------------------------------------------

def contextualize(docs: DataFrame, llm, ctx_size: int = 5000) -> DataFrame:
    """(doc_id, title, url, context) — one LLM call per document on its
    head excerpt (reference annotator.py:227-231 takes the first
    sentence of the answer as context)."""

    def _run(batches):
        for pdf in batches:
            ctx = [
                llm.invoke(
                    prompts.CONTEXTUALIZATION.format(
                        title=t or "", text=(c or "")[:ctx_size]
                    )
                )
                for t, c in zip(pdf["title"], pdf["content"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "title": pdf["title"],
                    "url": pdf["url"],
                    "context": ctx,
                }
            )

    out = docs.select("doc_id", "title", "url", "content").mapInPandas(
        _run, "doc_id long, title string, url string, context string"
    )
    return out.withColumn("context", first_sentence("context"))


# --------------------------------------------------------------------------
# Stage 2+3 — chunk and extract facts (C2 front half)
# --------------------------------------------------------------------------

def extract_facts(
    chunks: DataFrame, contexts: DataFrame, llm, partitions: int | None = None
) -> DataFrame:
    """Explode each chunk into candidate fact strings.
    Output: (doc_id, chunk_idx, pos_start, pos_end, fact_ordinal, fact_text)."""
    joined = chunks.join(contexts.select("doc_id", "context"), "doc_id")
    if partitions:
        joined = joined.repartition(partitions)

    def _run(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                raw = llm.invoke(
                    prompts.ANNOTATION.format(context=r.context or "", chunk=r.text)
                )
                for i, fact in enumerate(parse_bullet_points(raw)):
                    rows.append(
                        (r.doc_id, r.chunk_idx, r.pos_start, r.pos_end, i, fact)
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "chunk_idx", "pos_start", "pos_end",
                    "fact_ordinal", "fact_text",
                ],
            )

    return joined.mapInPandas(
        _run,
        "doc_id long, chunk_idx int, pos_start int, pos_end int, "
        "fact_ordinal int, fact_text string",
    )


def reformulate(
    facts: DataFrame, contexts: DataFrame, llm, partitions: int | None = None
) -> DataFrame:
    """C5 — make each fact self-contained; first line of the answer wins
    (reference annotator.py:116-123)."""
    joined = facts.join(contexts.select("doc_id", "context"), "doc_id")
    if partitions:
        joined = joined.repartition(partitions)

    cols = [f.name for f in facts.schema.fields]

    def _run(batches):
        for pdf in batches:
            out = [
                llm.invoke(
                    prompts.REFORMULATION.format(context=c or "", fact=t)
                ).strip().splitlines()[0]
                if t
                else t
                for c, t in zip(pdf["context"], pdf["fact_text"])
            ]
            res = pdf[cols].copy()
            res["fact_text"] = out
            yield res

    return joined.mapInPandas(_run, facts.schema)


# --------------------------------------------------------------------------
# Stage 4 — dedup against store + earlier batch facts (C3)
# --------------------------------------------------------------------------

def dedup_facts(
    new_facts: DataFrame,
    store: HippoStore,
    llm,
    nli,
    embed,
    k: int = 5,
    index=None,
) -> DataFrame:
    """C3 — mark each candidate fact redundant or fresh.

    Per new fact: the k nearest facts of (existing store ∪ earlier-
    ordinal batch facts) by embedding distance — the reference queries
    its vector store, which at fact N already contains facts 1..N-1 of
    the same run, with k=5 (annotator.py:126-145) — then the NLI
    entailment gate (batched pair scoring) and the LLM confrontation
    (yes/no grammar) on survivors only. Redundant facts merge
    provenance into their match (handled by caller); fresh facts
    survive. ``new_facts`` is (``__ord__`` of any orderable type,
    fact_text, optionally its ``embedding``). Returns new_facts +
    (redundant BOOLEAN, dup_of BIGINT — the matched STORE fact id,
    NULL when the match is an earlier batch fact, dup_of_ord — the
    matched earlier BATCH fact's ``__ord__``, NULL when the match is a
    store fact). The two id namespaces stay in separate columns:
    folding the batch ordinal into dup_of (e.g. +1e9) would make a
    store id ≥ 1e9 ambiguous with a biased ordinal, both in the
    deterministic tie-break and when decoding dup_of.

    Scale shape: candidate generation scores (id, embedding) pairs
    only — texts join AFTER the per-fact top-k cut, so the expensive
    model gate sees exactly O(batch·k) pairs (an unbounded earlier-
    ordinal crossJoin explodes quadratically before the models even
    run) and no fact text ever rides the distance shuffle. NLI calls
    are batched per Arrow batch via ``nli.score_pairs`` when the
    backend provides it (CrossEncoder-style pair-list API).
    ``new_facts`` is read five times: barrier it if it is a model
    stage's output.

    ``index``: an optional ``similarity.VecIndex`` over the STORE's
    fact embeddings (id_col='id'). With it, store candidates come from
    a batched IVF probe — O(batch · |store| · nprobe / nlist) distance
    work with literal list_id pruning — instead of the exact
    batch × store scan; this mirrors the reference's HNSW candidate
    query (storage.py:124-133, annotator.py:126-145). Batch-internal
    earlier-ordinal candidates always use the exact (bounded,
    batch × batch) pairing, so sequential semantics are unchanged.
    Recall-grade: a store neighbour outside the probed lists is
    missed; nprobe = nlist reproduces the exact path bit-for-bit.
    Default (None) keeps the exact scan — the parity baseline.
    """
    from hippollm_spark.functions import vectors as V

    if "embedding" not in new_facts.columns:
        new_facts = new_facts.withColumn("embedding", embed(F.col("fact_text")))
    ord_type = new_facts.schema["__ord__"].dataType
    no_id = F.lit(None).cast("long").alias("cand_id")
    no_ord = F.lit(None).cast(ord_type).alias("cand_ord")

    q = F.broadcast(
        new_facts.select("__ord__", F.col("embedding").alias("__qv__"))
    )
    batch_pool = new_facts.select(
        no_id, F.col("__ord__").alias("cand_ord"), F.col("embedding").alias("__cv__")
    )
    store_pool = store.facts.select(
        F.col("id").alias("cand_id"), no_ord, F.col("embedding").alias("__cv__")
    )

    def _score(pool):
        return pool.crossJoin(q).select(
            "__ord__",
            "cand_id",
            "cand_ord",
            F.round(-V.l2_distance(F.col("__cv__"), F.col("__qv__")), 6).alias(
                "__score__"
            ),
        )

    # batch candidates only pair with LATER ordinals (sequential
    # semantics); store candidates pair with every new fact
    scored_batch = _score(batch_pool).filter(F.col("cand_ord") < F.col("__ord__"))
    if index is not None:
        probe = index.topk(
            new_facts.select(
                F.col("__ord__").alias("query_id"),
                F.col("embedding").alias("query_vec"),
            ),
            k=k,
            metric="l2",
        )
        scored_store = probe.select(
            F.col("query_id").alias("__ord__"),
            F.col("vec_id").alias("cand_id"),
            no_ord,
            F.col("score").alias("__score__"),
        )
    else:
        scored_store = _score(store_pool)
    # Deterministic tie-break on 6dp-rounded score ties: store
    # candidates (cand_id set) before batch candidates, then by
    # id/ordinal — one column per namespace, never a folded BIGINT
    # (store ids are unbounded; see docstring).
    w = Window.partitionBy("__ord__").orderBy(
        F.desc("__score__"),
        F.asc(F.col("cand_id").isNull()),
        F.asc("cand_id"),
        F.asc("cand_ord"),
    )
    topk = (
        scored_batch.unionByName(scored_store)
        .withColumn("__rk__", F.row_number().over(w))
        .filter(F.col("__rk__") <= k)
        .drop("__rk__", "__score__")
    )

    # texts join only the O(batch·k) surviving pairs
    bt = new_facts.select(
        F.col("__ord__").alias("cand_ord"), F.col("fact_text").alias("__bt__")
    )
    st = store.facts.select(
        F.col("id").alias("cand_id"), F.col("text").alias("__st__")
    )
    pairs = (
        topk.join(bt, "cand_ord", "left")
        .join(st, "cand_id", "left")
        .withColumn("cand_text", F.coalesce("__st__", "__bt__"))
        .drop("__st__", "__bt__")
    )

    fact_texts = new_facts.select("__ord__", "fact_text")
    scored = pairs.join(fact_texts, "__ord__")
    keys = ["__ord__", "cand_id", "cand_ord"]
    out_schema = scored.select(*keys, F.lit(None).cast("boolean").alias("redundant")).schema

    def _gate(batches):
        for pdf in batches:
            prem = list(pdf["cand_text"])
            hyp = list(pdf["fact_text"])
            if hasattr(nli, "score_pairs"):
                ent = [s is not None for s in nli.score_pairs(list(zip(prem, hyp)))]
            else:
                ent = [nli.detect_entailment(p, h) for p, h in zip(prem, hyp)]
            verdicts = []
            for ok, p, h in zip(ent, prem, hyp):
                if ok:
                    ans = llm.invoke(
                        prompts.CONFRONTATION.format(fact_a=p, fact_b=h),
                        grammar=GRAMMAR_YN,
                        max_tokens=3,
                    )
                    ok = ans.strip().lower().startswith("y")
                verdicts.append(ok)
            res = pdf[keys].copy()
            res["redundant"] = verdicts
            yield res

    verdicts = scored.mapInPandas(_gate, out_schema)
    # min over (is_batch, id, ordinal) struct = lexicographic: any
    # store match wins over any batch match, then lowest id/ordinal —
    # the same precedence as the top-k tie-break, without a folded
    # namespace.
    best = F.min(
        F.struct(
            F.col("cand_id").isNull().alias("is_batch"), "cand_id", "cand_ord"
        )
    ).alias("__best__")
    dup = (
        verdicts.filter("redundant")
        .groupBy("__ord__")
        .agg(best)
        .select(
            "__ord__",
            F.col("__best__.cand_id").alias("dup_of"),
            F.col("__best__.cand_ord").alias("dup_of_ord"),
        )
    )
    return new_facts.join(dup, "__ord__", "left").withColumn(
        "redundant", F.col("dup_of").isNotNull() | F.col("dup_of_ord").isNotNull()
    )


# --------------------------------------------------------------------------
# Stage 5 — entity extraction + resolution (C4)
# --------------------------------------------------------------------------

def extract_entities(facts: DataFrame, llm) -> DataFrame:
    """(__ord__, entity_mention STRING) — LLM bullet list per fact,
    first block only (reference annotator.py:148-153). ``__ord__``
    keeps the input's type."""

    def _run(batches):
        for pdf in batches:
            rows = []
            # NB: itertuples renames underscore-prefixed columns — zip instead
            for ordi, text in zip(pdf["__ord__"], pdf["fact_text"]):
                raw = llm.invoke(prompts.ENTITY_EXTRACTION.format(fact=text))
                for m in parse_bullet_points(raw, only_first_bullets=True):
                    rows.append((ordi, m))
            yield pd.DataFrame(rows, columns=["__ord__", "entity_mention"])

    facts = facts.select("__ord__", "fact_text")
    return facts.mapInPandas(
        _run, facts.withColumnRenamed("fact_text", "entity_mention").schema
    )


def resolve_entities(
    mentions: DataFrame,
    store: HippoStore,
    llm,
    nli,
    embed,
    k: int = 10,
    index=None,
) -> DataFrame:
    """C4 — map each mention to a canonical stored entity or keep it as
    a new entity (reference annotator.py:156-182).

    Order of checks per mention (reference semantics):
    1. exact name match in the store wins immediately
       (annotator.py:172-174 prepends it),
    2. else kNN k=10 over entity embeddings → NLI entailment rank →
       LLM equivalence gate, first Yes wins,
    3. else the mention becomes a new entity.
    Output: (entity_mention, resolved STRING, is_new BOOLEAN).

    ``index``: optional ``similarity.VecIndex`` over the store's
    ENTITY embeddings (id_col='name') — kNN candidates then come from
    the batched IVF probe instead of the exact mention × entities
    scan, mirroring the reference's HNSW entity query
    (annotator.py:158, k=10). Recall-grade (see ``dedup_facts``);
    nprobe = nlist reproduces the exact candidates.
    """
    uniq = mentions.select("entity_mention").distinct()
    names = store.entities.select(F.col("name").alias("entity_mention"))
    exact = uniq.join(names, "entity_mention", "semi").select(
        "entity_mention",
        F.col("entity_mention").alias("resolved"),
        F.lit(False).alias("is_new"),
    )
    unresolved = uniq.join(names, "entity_mention", "anti")

    from hippollm_spark.operators.similarity import topk_per_query

    q = unresolved.withColumn("embedding", embed(F.col("entity_mention")))
    queries = q.select(
        F.col("entity_mention").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    if index is not None:
        ranked = index.topk(queries, k=k, metric="l2")
    else:
        ranked = topk_per_query(
            store.entities.select("name", "embedding"),
            queries,
            k=k,
            id_col="name",
            metric="l2",
        )
    cand = ranked.select(
        F.col("query_id").alias("entity_mention"),
        F.col("vec_id").alias("candidate"),
        "rank",
    )

    def _gate(batches):
        for pdf in batches:
            rows = []
            for mention, grp in pdf.groupby("entity_mention", sort=False):
                grp = grp.sort_values("rank")
                ranked = nli.entailment_classify(
                    mention, grp["candidate"].tolist()
                )
                chosen = None
                for cand_name, _score in ranked:
                    ans = llm.invoke(
                        prompts.ENTITY_EQUIVALENCE.format(
                            entity_a=cand_name, entity_b=mention
                        ),
                        grammar=GRAMMAR_YN,
                        max_tokens=3,
                    )
                    if ans.strip().lower().startswith("y"):
                        chosen = cand_name
                        break
                rows.append(
                    (mention, chosen if chosen else mention, chosen is None)
                )
            yield pd.DataFrame(rows, columns=["entity_mention", "resolved", "is_new"])

    gated = cand.mapInPandas(
        _gate, "entity_mention string, resolved string, is_new boolean"
    )
    # a mention with no kNN candidate (an empty store) is a new entity
    linked = unresolved.join(gated, "entity_mention", "left").select(
        "entity_mention",
        F.coalesce("resolved", "entity_mention").alias("resolved"),
        F.coalesce("is_new", F.lit(True)).alias("is_new"),
    )
    return exact.unionByName(linked)


# --------------------------------------------------------------------------
# The full pipeline (C1)
# --------------------------------------------------------------------------

def annotate_documents(
    store: HippoStore,
    docs: DataFrame,
    llm,
    nli,
    embed,
    cfg: AnnotateConfig | None = None,
    log=None,
) -> HippoStore:
    """Run the staged annotation pipeline and return the updated store.

    Each model stage (contextualize, extract, reformulate, the fact
    embedding, the dedup gate, entity extraction, the resolve gate)
    runs once over the whole batch of documents, with its calls
    Arrow-batched on executors; a batch still takes several Spark jobs,
    one per barrier and exchange stage. Pass an
    ``lineage.ActionLog`` as ``log`` for the O1 structured action trail
    (stage boundaries + config; reference log_helpers.py:12-52 logs
    every model call — per-call records live executor-side, so the
    driver-side trail records stages).

    C3/C4 candidate generation probes the store's own IVF handles
    (built via ``store.build_vector_indexes()``) instead of exact
    batch × store scans — the scale path for a store that no longer
    fits a per-batch full scan; the reference's candidates are always
    index-served (storage.py:124-133), so an indexed store needs no
    flag. Exact scans remain the fallback for index-less stores.
    Staleness is impossible by construction: the store invalidates its
    index handles whenever ``entities``/``facts`` are reassigned
    (property setters in store.py), so an append since the last
    ``build_vector_indexes()`` means the fallback sees ``None`` and
    takes the exact scan — never a snapshot that is silently missing
    the new rows. Rebuild to re-enable the probed path
    (``annotate_stream``'s ``use_ann_index`` rebuilds per epoch).
    """
    cfg = cfg or AnnotateConfig()
    fact_index, entity_index = store.fact_index, store.entity_index
    if log is not None:
        from dataclasses import asdict

        log.log("annotate_start", cfg=asdict(cfg))
    ctxs = plan.barrier(contextualize(docs, llm, cfg.ctx_size))
    splitter = get_splitter(cfg.splitter)
    if cfg.splitter == "paragraph":
        chunks = splitter(docs)
    elif cfg.splitter == "semantic":
        if cfg.semantic_embed_fn is None:
            raise ValueError(
                "splitter='semantic' needs AnnotateConfig.semantic_embed_fn "
                "(a picklable text -> list[float] callable)"
            )
        chunks = splitter(docs, cfg.semantic_embed_fn)
    else:
        chunks = splitter(docs, cfg.chunk_size)

    raw_facts = extract_facts(chunks, ctxs, llm, cfg.inference_partitions)
    # The LLM chain and the fact embedding run once, here: dedup and
    # the later stages read the facts many times. ``__ord__`` = doc,
    # chunk, bullet order: the reference's loop (annotator.py:185-218).
    reformed = plan.barrier(
        reformulate(raw_facts, ctxs, llm, cfg.inference_partitions)
        .withColumn("embedding", embed(F.col("fact_text")))
        .withColumn("__ord__", F.struct("doc_id", "chunk_idx", "fact_ordinal")),
        eager=True,
    )
    # checkpoints, not caches: blocks are GC-managed, never left pinned
    gated = plan.barrier(
        dedup_facts(reformed, store, llm, nli, embed, cfg.k_dedup, index=fact_index)
    )
    fresh = gated.filter(~F.col("redundant"))

    mentions = plan.barrier(extract_entities(fresh, llm), eager=True)
    resolved = plan.barrier(
        resolve_entities(mentions, store, llm, nli, embed, cfg.k_link, index=entity_index)
    )

    new_entities = resolved.filter("is_new").select(
        F.col("resolved").alias("name"), F.lit("").alias("description")
    )
    store.add_entities(new_entities)

    fact_entities = (
        mentions.join(resolved, "entity_mention")
        .groupBy("__ord__")
        .agg(F.array_distinct(F.collect_list("resolved")).alias("entities"))
    )
    new_facts = (
        fresh.join(fact_entities, "__ord__", "left")
        .join(F.broadcast(ctxs.select("doc_id", "title", "url")), "doc_id")
        .select(
            F.col("fact_text").alias("text"),
            F.coalesce("entities", F.array().cast("array<string>")).alias("entities"),
            F.array(
                F.struct(
                    F.col("title").alias("name"),
                    F.lit("").alias("description"),
                    F.col("url").alias("url"),
                    F.lit(None).cast("timestamp").alias("date"),
                    F.col("pos_start"),
                    F.col("pos_end"),
                )
            ).alias("sources"),
            F.col("embedding"),  # computed once above; add_facts keeps it
            F.col("__ord__"),
        )
        .orderBy("__ord__")
        .drop("__ord__")
    )
    store.add_facts(new_facts)
    if log is not None:
        log.log(
            "annotate_done",
            facts_kept=fresh.count(),
            facts_dropped=gated.filter("redundant").count(),
            new_entities=resolved.filter("is_new").count(),
        )
    return store


def annotate_documents_serial(
    store: HippoStore,
    docs: DataFrame,
    llm,
    nli,
    embed,
    cfg: AnnotateConfig | None = None,
    log=None,
) -> HippoStore:
    """Exact-parity mode (SURVEY.md §7a): documents processed one at a
    time in ascending doc_id order, so every fact is deduplicated
    against ALL facts added before it — including those from earlier
    documents of the same run — exactly like the reference's serial
    loop (annotator.py:185-218). Trades throughput for bit-parity;
    the batch mode is the scale path."""
    ids = [r[0] for r in docs.select("doc_id").orderBy("doc_id").collect()]
    for did in ids:
        one = docs.filter(F.col("doc_id") == did)
        annotate_documents(store, one, llm, nli, embed, cfg, log=log)
        store.entities = plan.barrier(store.entities, eager=True)
        store.facts = plan.barrier(store.facts, eager=True)
    return store
