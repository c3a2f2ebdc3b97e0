"""The three workloads: ``retrieve``, ``ingest`` and ``batch``.

Each is one client in a closed loop: an op is issued only after the
previous op and the action consuming its result have finished. An op
calls the library's public functions, then consumes the result with a
Spark action (``collect`` or an eager checkpoint). ``retrieve`` and
``batch`` cycle through one seeded round of ops; ``ingest`` annotates
the next seeded document batch, in rounds of three. The op types and
their order do not depend on the seed, so runs with different seeds
time the same mix.

Results are recorded during the timed phase and checked against
``oracle`` answers after it, so verification never counts as op time.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable, Iterator
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field
from itertools import count, cycle
from typing import Any

import numpy as np
from pyspark.sql import functions as F

import gen
import oracle
from gen import Dataset


@dataclass
class Op:
    """One client request. ``run(act)`` makes the library call(s) and
    wraps the consuming action in ``act()`` so its time is known."""

    name: str
    params: dict
    run: Callable[[Callable], Any]
    index: int = 0  # ops with one index share one expected answer


@dataclass
class OpRecord:
    op_id: int
    index: int
    name: str
    wall_s: float = 0.0
    action_s: float = 0.0
    rows: int = 0
    value: Any = None
    error: str | None = None
    ok: bool | None = None
    params: dict = field(default_factory=dict)
    recall: float | None = None


def collect(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def release(df) -> None:
    """Free the executor blocks behind an eagerly checkpointed DataFrame,
    which is unusable afterwards. Without this a replaced checkpoint
    stays in executor storage until JVM garbage collection lets Spark's
    cleaner drop it."""
    df._jdf.queryExecution().logical().rdd().unpersist(True)


def _canon(rows) -> list[tuple]:
    """Rows as sorted tuples, with nested sequences as tuples."""
    fix = lambda x: tuple(map(fix, x)) if isinstance(x, (list, tuple, np.ndarray)) else x  # noqa: E731
    return sorted(fix(r) for r in rows)


class Workload:
    name = ""
    default_sf = 0.01
    round_len = 1  # ops per round; runs stop only between rounds

    def __init__(self, spark, ds: Dataset, seed: int) -> None:
        self.spark = spark
        self.ds = ds
        self.seed = seed

    def setup_rep(self) -> None:
        """The repeatable part of set-up (timed several times)."""

    def setup_final(self) -> None:
        """Set-up that runs once, after the repeated part."""

    def ops(self) -> Iterator[Op]:
        """The endless op stream of one client."""
        raise NotImplementedError

    def after_op(self, rec: OpRecord) -> None:
        """Per-op checks that must run before the next op (untimed)."""

    def verify(self, records: list[OpRecord]) -> None:
        """Set ``ok`` on every record that has no verdict yet."""

    def extra(self, records: list[OpRecord]) -> dict[str, float]:
        """Workload-specific per-layer ratios."""
        return {}


class RoundWorkload(Workload):
    """A workload that repeats one seeded round of read-only ops, so
    every op of one position in the round has one expected answer."""

    def __init__(self, spark, ds, seed, params: list[tuple[str, dict]]):
        super().__init__(spark, ds, seed)
        self.params = params
        self.round_len = len(params)

    def ops(self) -> Iterator[Op]:
        return cycle(
            [Op(name, p, self._runner(name, p), i) for i, (name, p) in enumerate(self.params)]
        )

    def _runner(self, name: str, p: dict) -> Callable[[Callable], Any]:
        raise NotImplementedError

    def answers(self):
        """A context manager yielding what ``expected`` consults."""
        raise NotImplementedError

    def expected(self, name: str, p: dict, ctx):
        raise NotImplementedError

    def check(self, rec: OpRecord, want) -> bool:
        return rec.value == want

    def verify(self, records: list[OpRecord]) -> None:
        want = {}
        with self.answers() as ctx:
            for rec in records:
                if rec.ok is not None:
                    continue
                if rec.error is not None:
                    rec.ok = False
                    continue
                if rec.index not in want:
                    name, p = self.params[rec.index]
                    want[rec.index] = self.expected(name, p, ctx)
                rec.ok = self.check(rec, want[rec.index])


# ---------------------------------------------------------------------------
# retrieve
# ---------------------------------------------------------------------------

# IVF with nlist=16, nprobe=4. A query's exact top-k starts with the
# facts that share its pooled vector, which lie within jitter of each
# other and so of one list; a working index finds them. The floor asks
# for RECALL_SHARE of the first min(copies, k): 8 of 10 at the default
# size (30 facts per pooled vector), 3 of 10 at sf0.001 (3 per vector).
# The measured value is the per-layer operators.similarity.probe_recall.
NLIST, NPROBE = 16, 4
RECALL_SHARE = 0.8


class Retrieve(RoundWorkload):
    """The memory-DB read path over a store built in set-up."""

    name = "retrieve"
    ranked_ops = {
        "closest_facts", "closest_entities", "closest_facts_indexed",
        "union_knn", "intersection_knn", "retrieve",
    }

    def __init__(self, spark, ds, seed):
        super().__init__(spark, ds, seed, gen.retrieve_round(ds.pool, len(ds.fact_ids), seed))
        self.store = None

    def setup_rep(self) -> None:
        from hippollm_spark.store import HippoStore

        if self.store is not None:  # drop the previous set-up's copy
            release(self.store.entities)
            release(self.store.facts)
        # open the persisted store and pin it in executor memory
        store = HippoStore.load(self.spark, self.ds.paths["store"], dim=gen.DIM)
        store.entities = store.entities.localCheckpoint(eager=True)
        store.facts = store.facts.localCheckpoint(eager=True)
        self.store = store

    def setup_final(self) -> None:
        self.store.build_vector_indexes(nlist=NLIST, nprobe=NPROBE)

    def _runner(self, name: str, p: dict):
        from hippollm_spark import serving
        from hippollm_spark.pipelines.retrieve import retrieve

        def call(s):
            if name == "get_entity":
                return s.get_entity(p["name"]).select("name", "description", "embedding")
            if name == "get_fact":
                return s.get_fact(p["fact_id"]).select("id", "text", "entities")
            if name == "get_neighbours":
                return s.get_neighbours(p["name"]).select("entity", "fact_ids", "n_facts")
            if name == "explore":
                return s.explore(p["origins"], max_depth=1, max_relations=15).select(
                    "src", "dst", "n_facts", "fact_ids", "depth"
                )
            if name == "closest_facts":
                return s.get_closest_facts(p["q"], p["k"])
            if name == "closest_entities":
                return s.get_closest_entities(p["q"], p["k"])
            if name == "closest_facts_indexed":
                return s.get_closest_facts(p["q"], p["k"], use_index=True)
            if name == "union_knn":
                return s.get_closest_facts_with_entities_union(p["q"], p["entities"], p["k"])
            if name == "intersection_knn":
                return s.get_closest_facts_with_entities_intersection(
                    p["q"], p["entities"], p["k"]
                )
            if name == "search_graph":
                # runs its own actions and returns the nodes/links payload
                vecs = {f"q{i}": v for i, v in enumerate(p["qs"])}
                return serving.search_graph(s, vecs.__getitem__, ";".join(vecs), "fact", k=p["k"])
            if name == "retrieve":
                return retrieve(s, p["q"], p["k"], p["entities"], p["mode"])
            raise ValueError(name)

        def run(act):
            out = call(self.store)
            with act():
                if name == "search_graph":
                    return out
                if name not in self.ranked_ops:
                    return collect(out)
                id_col = "name" if name == "closest_entities" else "id"
                if "distance" not in out.columns:  # k > |candidates|: an unranked set
                    return {r[0] for r in out.select(id_col).collect()}
                return [(r[0], r[1]) for r in out.select(id_col, "distance").collect()]

        return run

    @contextmanager
    def answers(self):
        con = oracle.connect(os.path.join(self.ds.root, "duckdb_tmp"))
        try:
            yield oracle.StoreOracle(self.ds, con)
        finally:
            con.close()

    def expected(self, name: str, p: dict, so: oracle.StoreOracle):
        if name == "get_entity":
            return so.entity(p["name"])
        if name == "get_fact":
            return so.fact(p["fact_id"])
        if name == "get_neighbours":
            return so.neighbours(p["name"])
        if name == "explore":
            return so.explore1(p["origins"][0])
        if name in ("closest_facts", "closest_facts_indexed"):
            return so.knn_facts(p["q"], p["k"])
        if name == "closest_entities":
            return so.knn_entities(p["q"], p["k"])
        if name == "union_knn":
            return so.filtered_knn(p["q"], p["entities"], "union", p["k"])
        if name == "intersection_knn":
            return so.filtered_knn(p["q"], p["entities"], "intersection", p["k"])
        if name == "search_graph":
            return so.search_graph_fact(p["qs"], p["k"])
        if name == "retrieve":
            return so.filtered_knn(p["q"], p["entities"], p["mode"], p["k"])
        raise ValueError(name)

    def check(self, rec: OpRecord, want) -> bool:
        name, got = rec.name, rec.value
        if name == "closest_facts_indexed":
            rec.recall = len({i for i, _ in got} & {i for i, _ in want}) / len(want)
            copies = len(self.ds.fact_ids) // len(self.ds.pool)
            floor = RECALL_SHARE * min(copies, len(want)) / len(want)
            print(f"[perfbench] indexed recall@{len(want)} = {rec.recall:.2f} "
                  f"(floor {floor:.2f})", file=sys.stderr)
            return rec.recall >= floor
        if isinstance(want, set):
            return got == want
        if name not in self.ranked_ops and name != "search_graph":
            return _canon(got) == _canon(want)
        if name == "search_graph":
            links = {
                (ln["source"], ln["target"]): (ln["value"], tuple(ln["facts"]))
                for ln in got["links"]
            }
            nodes = {n["id"]: n["group"] for n in got["nodes"]}
            return nodes == want["nodes"] and links == want["links"]
        if isinstance(got, set):
            return False
        return oracle.same_ranking(got, want)

    def extra(self, records):
        rs = [r.recall for r in records if r.recall is not None]
        return {"operators.similarity.probe_recall": float(np.mean(rs)) if rs else 0.0}


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------


class Ingest(Workload):
    """The write path: seeded document batches annotated into a store
    that grows during the run. The store has no vector index, so dedup
    and entity linking take the exact-scan path (an index would be
    invalidated by every commit)."""

    name = "ingest"
    docs_per_batch = 10
    round_len = 3  # a run's p50 is the median of at least three batches

    def __init__(self, spark, ds, seed):
        super().__init__(spark, ds, seed)
        self.batches = gen.ingest_batches(
            seed, self.docs_per_batch,
            customers=ds.sizes.customers, suppliers=ds.sizes.suppliers,
        )
        self.first = next(self.batches)  # the facts ingested before the run
        self.stream = self._ops()
        self.pending: dict[int, gen.IngestBatch] = {}  # op batches not yet checked
        self.store = None
        self.kept = 0
        self.submitted = 0

    def setup_rep(self) -> None:
        """A store holding the part entities and the first batch's facts,
        as if ingested earlier, with the embeddings the store's own
        embedding function gives them."""
        from hippollm_spark.schema import ENTITIES_SCHEMA, FACTS_SCHEMA
        from hippollm_spark.store import HippoStore
        from hippollm_spark.testing import hash_embedding, hash_embedding_udf

        if self.store is not None:  # drop the previous set-up's copy
            release(self.store.entities)
            release(self.store.facts)
        first = self.first
        names = sorted({gen.camel(n) for n in gen.PART_NAMES}.union(*first.mentions))
        entities = self.spark.createDataFrame(
            [(n, "seeded", hash_embedding(f"{n} (seeded)", gen.DIM)) for n in names],
            ENTITIES_SCHEMA,
        )
        facts = self.spark.createDataFrame(
            [
                (i, t, sorted(m), [], 1.0, hash_embedding(t, gen.DIM))
                for i, (t, m) in enumerate(zip(first.fresh, first.mentions))
            ],
            FACTS_SCHEMA,
        )
        store = HippoStore(
            self.spark, entities.localCheckpoint(eager=True), facts.localCheckpoint(eager=True),
            embed=hash_embedding_udf(gen.DIM), dim=gen.DIM,
        )
        self.store = store
        self.known = set(names)
        self.n_facts, self.n_ents = len(first.fresh), len(names)

    def setup_final(self) -> None:
        """Ingest one untimed batch, so the timed batches do not pay
        first-call code generation and Python-worker start-up."""
        warm = next(self.stream)
        rec = OpRecord(-1, warm.index, warm.name, params=warm.params)
        warm.run(nullcontext)
        self.after_op(rec)
        if not rec.ok:
            raise RuntimeError("the warm-up batch broke the store invariants")
        self.kept = self.submitted = 0

    def _batch(self, b: gen.IngestBatch, act) -> int:
        from hippollm_spark.pipelines.annotate import AnnotateConfig, annotate_documents
        from hippollm_spark.pipelines.backends import ScriptedNLI
        from hippollm_spark.schema import DOCS_SCHEMA

        s = self.store
        before = (s.entities, s.facts)
        docs = self.spark.createDataFrame(
            [(i, t, u, c, None) for i, t, u, c in b.docs], DOCS_SCHEMA
        )
        nli = ScriptedNLI(table={(t, t): 0.9 for t in b.restated})
        annotate_documents(
            s, docs, gen.ConfirmingLLM(), nli, s.embed,
            AnnotateConfig(chunk_size=1000, embed_dim=gen.DIM),
        )
        with act():  # commit: materialize the appended store
            s.entities = s.entities.localCheckpoint(eager=True)
            s.facts = s.facts.localCheckpoint(eager=True)
        for df in before:
            release(df)
        return len(b.docs)

    def _ops(self) -> Iterator[Op]:
        """One op per batch; op 0 is the warm-up."""
        for k in count():
            b = self.pending[k] = next(self.batches)
            yield Op("annotate_batch", {"batch": k}, lambda act, b=b: self._batch(b, act), k)

    def ops(self) -> Iterator[Op]:
        return self.stream

    def after_op(self, rec: OpRecord) -> None:
        """Store invariants after one batch: the fact count grew by the
        fresh facts, exactly those texts were added, every entity a fact
        names exists, the entity count grew by the new mentions, and no
        embedding is null."""
        b = self.pending.pop(rec.params["batch"])
        if rec.error is not None:
            rec.ok = False
            return
        s = self.store
        new_names = set().union(*b.mentions) - self.known
        facts = s.facts
        n_facts = facts.count()
        n_ents = s.entities.count()
        added = sorted(
            r[0] for r in facts.filter(F.col("id") >= self.n_facts).select("text").collect()
        )
        dangling = s.edges.join(
            s.entities.select(F.col("name").alias("entity")), "entity", "left_anti"
        ).count()
        null_emb = facts.filter(F.col("embedding").isNull()).count() + s.entities.filter(
            F.col("embedding").isNull()
        ).count()
        rec.ok = (
            n_facts == self.n_facts + len(b.fresh)
            and added == sorted(b.fresh)
            and n_ents == self.n_ents + len(new_names)
            and dangling == 0
            and null_emb == 0
        )
        # what the store actually kept, out of every sentence submitted
        self.kept += n_facts - self.n_facts
        self.submitted += len(b.fresh) + len(b.restated)
        self.n_facts, self.n_ents = n_facts, n_ents
        self.known |= new_names

    def extra(self, records):
        ratio = self.kept / self.submitted if self.submitted else 0.0
        return {"pipelines.annotate.facts_kept_ratio": ratio}


# ---------------------------------------------------------------------------
# batch
# ---------------------------------------------------------------------------


class Batch(RoundWorkload):
    """Offline analytics over the store's hypergraph and the corpus."""

    name = "batch"
    default_sf = 0.002

    def __init__(self, spark, ds, seed):
        super().__init__(spark, ds, seed, gen.batch_round(seed))

    def setup_rep(self) -> None:
        from hippollm_spark.store import HippoStore

        read = lambda t: self.spark.read.parquet(self.ds.paths[t])  # noqa: E731
        self.store = HippoStore.load(self.spark, self.ds.paths["store"], dim=gen.DIM)
        self.docs = read("documents")
        self.emb = read("embeddings")
        report = self.store.check_integrity()
        if report.get("ok") != 1:
            raise RuntimeError(f"generated store fails its integrity check: {report}")

    def _runner(self, name: str, p: dict):
        from hippollm_spark.operators import dedup, graph
        from hippollm_spark.pipelines.curate import curate_corpus

        def run(act):
            if name == "pagerank":
                # the co-occurrence projection, symmetrized, then PPR
                pairs = graph.cooccurrence(self.store.edges).select("entity_a", "entity_b")
                sym = pairs.select(F.col("entity_a").alias("src"), F.col("entity_b").alias("dst")).union(
                    pairs.select(F.col("entity_b").alias("src"), F.col("entity_a").alias("dst"))
                )
                df = graph.pagerank(sym, iterations=6, seeds=p["seeds"])
            elif name == "explore2":
                df = graph.explore(
                    self.store.edges, [p["origin"]], max_depth=2, max_relations=None
                ).select("src", "dst", "n_facts", "depth")
            elif name == "curate_corpus":
                df = curate_corpus(self.docs)
            elif name == "embedding_dup_pairs":
                df = dedup.embedding_dup_pairs(self.emb, threshold=p["threshold"])
            else:
                raise ValueError(name)
            with act():
                rows = collect(df)
            return oracle.digest(df.columns, rows)

        return run

    @contextmanager
    def answers(self):
        con = oracle.batch_connection(self.ds)
        try:
            yield con
        finally:
            con.close()

    def expected(self, name: str, p: dict, con):
        return oracle.batch_expected(con, name, p)


WORKLOADS = {w.name: w for w in (Retrieve, Ingest, Batch)}
