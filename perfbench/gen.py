"""Seeded input generator for the benchmark.

Everything the library receives is made here from ``(seed, sf)``: the
TPC-H-shaped tables behind the hypergraph store (orders = facts, part
names = entities, lineitem = incidences), the pooled vectors, the
document corpus, the retrieve/batch op parameters and the ingest
documents. The library never sees the seed itself.

Only numpy and pyarrow are used, so the same call gives the same
bytes on any machine; generation takes about a second at sf0.01.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
OBJECTS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_NAMES = [f"{a} {o}" for a in ADJECTIVES for o in OBJECTS]  # 64 entities
LANGS = ["en", "en", "es", "fr", "de", "zh"]
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with"],
    "es": ["el", "la", "de", "que", "los", "con", "una", "por"],
    "fr": ["le", "la", "les", "des", "est", "dans", "une", "pour"],
    "de": ["der", "die", "das", "und", "ist", "mit", "ein", "nicht"],
    "zh": ["the", "and", "of", "to", "in", "is", "that", "with"],
}
REAL_WORDS = [
    "hash", "join", "vector", "table", "scan", "spark", "query", "index",
    "merge", "sort", "batch", "window", "filter", "shuffle", "row", "key",
]
VOCAB = REAL_WORDS + [f"w{i}" for i in range(2000 - len(REAL_WORDS))]
DIM = 64
N_CLUSTERS = 10
# Each fact's embedding is its pooled vector plus this much noise per
# dimension: facts sharing a pooled vector sit about 0.1 apart, so
# exact kNN rankings have distinct distances and the ids are checked,
# not just the distances.
FACT_JITTER = 0.01
SENTENCES_PER_DOC = 4
RESTATE_SHARE = 0.25  # of each ingest document's sentences


@dataclass
class Sizes:
    orders: int
    parts: int
    customers: int
    suppliers: int
    vectors: int
    docs: int

    @classmethod
    def at(cls, sf: float) -> "Sizes":
        return cls(
            orders=max(int(1_500_000 * sf), 100),
            parts=max(int(200_000 * sf), 64),
            customers=max(int(150_000 * sf), 20),
            suppliers=max(int(10_000 * sf), 10),
            vectors=max(int(20_000 * sf), 500),
            docs=max(int(50_000 * sf), 100),
        )


def _write(table: pa.Table, out: str, name: str) -> str:
    path = os.path.join(out, f"{name}.parquet")
    pq.write_table(table, path)
    return path


def _embeddings(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Noise-dominated vectors with a mild cluster bias and planted
    duplicates (id % 50 == 1 copies id-1, id % 50 == 2 nudges id-2), so
    near-duplicate joins have sparse true output and clustering is not
    trivial."""
    label = rng.integers(0, N_CLUSTERS, n)
    centers = rng.uniform(0.0, 0.5, (N_CLUSTERS, DIM))
    vec = centers[label] + rng.uniform(-1.0, 1.0, (n, DIM))
    ids = np.arange(n)
    dup = ids % 50 == 1
    vec[dup] = vec[ids[dup] - 1]
    label[dup] = label[ids[dup] - 1]
    near = (ids % 50 == 2) & (ids >= 2)
    vec[near] = vec[ids[near] - 2]
    vec[near, 0] += 0.01
    label[near] = label[ids[near] - 2]
    return vec.astype(np.float32), label.astype(np.int32)


def _documents(rng: np.random.Generator, n: int) -> tuple[list[str], list[str]]:
    """Hash-vocabulary text with the language's stopwords on every third
    token, planted exact duplicates (id % 50 == 1) and near duplicates
    (id % 50 == 2 is id-2 plus a tail token)."""
    texts: list[str] = []
    langs: list[str] = []
    for i in range(n):
        if i % 50 == 1 and i >= 1:
            texts.append(texts[i - 1])
            langs.append(langs[i - 1])
            continue
        if i % 50 == 2 and i >= 2:
            texts.append(texts[i - 2] + " tailmark")
            langs.append(langs[i - 2])
            continue
        lang = LANGS[rng.integers(len(LANGS))]
        n_tok = int(rng.integers(20, 80))
        words = rng.integers(0, len(VOCAB), n_tok)
        sw = rng.integers(0, 8, n_tok)
        toks = [
            STOPWORDS[lang][sw[j]] if j % 3 == 0 else VOCAB[words[j]]
            for j in range(n_tok)
        ]
        texts.append(" ".join(toks))
        langs.append(lang)
    return texts, langs


@dataclass
class Dataset:
    """Paths and in-memory copies of one generated dataset."""

    root: str
    sizes: Sizes
    fact_ids: np.ndarray            # 1..orders; every order has >= 1 line
    fact_entities: list[list[str]]  # per fact, sorted distinct part names
    mask: np.ndarray                # (n_facts, 64) bool fact-entity incidence
    fact_vecs: np.ndarray           # (n_facts, DIM) float32
    entity_vecs: np.ndarray         # (64, DIM) float32, row i = PART_NAMES[i]
    pool: np.ndarray                # (vectors, DIM) float32
    paths: dict[str, str] = field(default_factory=dict)


def make_dataset(out: str, sf: float, seed: int) -> Dataset:
    """Write the TPC-H-shaped tables and the store tables under ``out``."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    sz = Sizes.at(sf)

    lines_per_order = rng.integers(1, 8, sz.orders)  # mean 4 → 6M·sf lines
    l_order = np.repeat(np.arange(1, sz.orders + 1, dtype=np.int64), lines_per_order)
    n_lines = len(l_order)
    l_part = rng.integers(0, sz.parts, n_lines).astype(np.int64)
    p_name_idx = rng.integers(0, len(PART_NAMES), sz.parts)
    pool, label = _embeddings(rng, sz.vectors)
    texts, langs = _documents(rng, sz.docs)

    paths = {
        "lineitem": _write(pa.table({"l_orderkey": l_order, "l_partkey": l_part}), out, "lineitem"),
        "part": _write(pa.table({
            "p_partkey": np.arange(sz.parts, dtype=np.int64),
            "p_name": pa.array([PART_NAMES[i] for i in p_name_idx]),
        }), out, "part"),
        "embeddings": _write(pa.table({
            "vec_id": np.arange(sz.vectors, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(pool.ravel()), DIM
            ).cast(pa.list_(pa.float32())),
            "label": label,
        }), out, "embeddings"),
        "documents": _write(pa.table({
            "doc_id": np.arange(sz.docs, dtype=np.int64),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(sz.docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }), out, "documents"),
    }

    # Store mapping: one fact per order, its entities = distinct part
    # names of its lines; the fact embedding is pooled vector id % |pool|
    # plus its own small jitter.
    ent_of_line = p_name_idx[l_part]
    order_idx = l_order - 1
    mask = np.zeros((sz.orders, len(PART_NAMES)), dtype=bool)
    mask[order_idx, ent_of_line] = True
    fact_ids = np.arange(1, sz.orders + 1, dtype=np.int64)
    _, cols = np.nonzero(mask)  # row-major: per fact, names in sorted order
    names = np.array(PART_NAMES, dtype=object)
    offsets = np.concatenate([[0], np.cumsum(mask.sum(axis=1))]).astype(np.int32)
    entity_lists = pa.ListArray.from_arrays(offsets, pa.array(names[cols], pa.string()))
    fact_entities = entity_lists.to_pylist()
    fact_vecs = (
        pool[fact_ids % sz.vectors] + rng.normal(0.0, FACT_JITTER, (sz.orders, DIM))
    ).astype(np.float32)
    entity_vecs = rng.uniform(-1.0, 1.0, (len(PART_NAMES), DIM)).astype(np.float32)
    emb_type = pa.list_(pa.float32())
    src_type = pa.list_(pa.struct([
        ("name", pa.string()), ("description", pa.string()), ("url", pa.string()),
        ("date", pa.timestamp("us", tz="UTC")), ("pos_start", pa.int32()),
        ("pos_end", pa.int32()),
    ]))
    store_dir = os.path.join(out, "store")
    os.makedirs(store_dir, exist_ok=True)
    pq.write_table(pa.table({
        "name": PART_NAMES,
        "description": [f"part family {n}" for n in PART_NAMES],
        "embedding": pa.array([list(v) for v in entity_vecs], type=emb_type),
    }), os.path.join(store_dir, "entities.parquet"))
    pq.write_table(pa.table({
        "id": fact_ids,
        "text": np.char.add("order ", fact_ids.astype(str)),
        "entities": entity_lists,
        "sources": pa.ListArray.from_arrays(
            np.zeros(len(fact_ids) + 1, dtype=np.int32), pa.array([], src_type.value_type)
        ),
        "confidence": np.ones(len(fact_ids)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(fact_vecs.ravel()), DIM
        ).cast(emb_type),
    }), os.path.join(store_dir, "facts.parquet"))
    paths["store"] = store_dir
    return Dataset(
        out, sz, fact_ids, fact_entities, mask, fact_vecs, entity_vecs, pool, paths
    )


# --------------------------------------------------------------------------
# Op parameters. Each workload repeats one seeded round of ops; the op
# types and their order are fixed, so runs with different seeds time
# the same mix and only the arguments change.
# --------------------------------------------------------------------------

def query_vector(rng: np.random.Generator, pool: np.ndarray) -> list[float]:
    """A pooled vector plus seeded noise, as float32 values."""
    v = pool[rng.integers(len(pool))] + rng.normal(0.0, 0.05, pool.shape[1])
    return [float(x) for x in v.astype(np.float32)]


def _entity_set(rng: np.random.Generator, n: int) -> list[str]:
    return sorted(PART_NAMES[i] for i in rng.choice(len(PART_NAMES), n, replace=False))


def retrieve_round(pool: np.ndarray, n_facts: int, seed: int) -> list[tuple[str, dict]]:
    """The retrieve workload's op round: 11 read-path calls. The filtered
    kNN calls take 2 to 4 entities, so their candidate sets range from a
    few facts (below k: the unranked branch) to a fifth of the store."""
    rng = np.random.default_rng([seed, 2])
    q = lambda: query_vector(rng, pool)  # noqa: E731
    ent = lambda n: _entity_set(rng, n)  # noqa: E731
    return [
        ("get_entity", {"name": ent(1)[0]}),
        ("get_fact", {"fact_id": int(rng.integers(1, n_facts + 1))}),
        ("get_neighbours", {"name": ent(1)[0]}),
        ("explore", {"origins": ent(1)}),
        ("closest_facts", {"q": q(), "k": 10}),
        ("closest_entities", {"q": q(), "k": 5}),
        ("closest_facts_indexed", {"q": q(), "k": 10}),
        ("union_knn", {"q": q(), "entities": ent(4), "k": 10}),
        ("intersection_knn", {"q": q(), "entities": ent(3), "k": 10}),
        ("search_graph", {"qs": [q(), q()], "k": 5}),
        ("retrieve", {"q": q(), "entities": ent(2), "mode": "union", "k": 10}),
    ]


def batch_round(seed: int) -> list[tuple[str, dict]]:
    """The batch workload's op round: 4 graph / curation / dedup passes."""
    rng = np.random.default_rng([seed, 3])
    return [
        ("pagerank", {"seeds": _entity_set(rng, 2)}),
        ("explore2", {"origin": _entity_set(rng, 1)[0]}),
        ("curate_corpus", {}),
        ("embedding_dup_pairs", {"threshold": 0.35}),
    ]


# --------------------------------------------------------------------------
# Ingest documents
# --------------------------------------------------------------------------

def camel(part_name: str) -> str:
    """'blue rod' -> 'BlueRod': a capitalized entity mention."""
    return "".join(w.capitalize() for w in part_name.split())


@dataclass
class IngestBatch:
    docs: list[tuple[int, str, str, str]]  # (doc_id, title, url, content)
    fresh: list[str]                       # fact texts expected to be kept
    restated: list[str]                    # fact texts expected to be dropped
    mentions: list[set[str]] = field(default_factory=list)  # per fresh fact


def ingest_batches(
    seed: int,
    docs_per_batch: int,
    customers: int = 15_000,
    suppliers: int = 1_000,
) -> Iterator[IngestBatch]:
    """An endless stream of document batches whose sentences name
    customers, parts and suppliers as capitalized words. A fixed share
    of each document's sentences (``RESTATE_SHARE``) repeats a sentence
    of an earlier document, so the dedup stage has true redundancies to
    drop. Batches are made only as they are consumed."""
    rng = np.random.default_rng([seed, 4])
    n_restate = int(round(SENTENCES_PER_DOC * RESTATE_SHARE))
    seen: list[str] = []
    seen_set: set[str] = set()
    doc_id = 0
    while True:
        b = IngestBatch([], [], [])
        for _d in range(docs_per_batch):
            fresh_here: list[str] = []
            for _s in range(SENTENCES_PER_DOC - n_restate):
                while True:
                    c = f"Customer{int(rng.integers(customers)):06d}"
                    p = camel(PART_NAMES[int(rng.integers(len(PART_NAMES)))])
                    s = f"Supplier{int(rng.integers(suppliers)):05d}"
                    text = f"{c} ordered {p} from {s}"
                    if text not in seen_set:
                        break
                seen_set.add(text)
                fresh_here.append(text)
                b.mentions.append({c, p, s})
            # ``seen`` holds earlier documents' sentences only, so a
            # restatement always repeats a fact ingested before it
            restated_here = [
                seen[int(i)] for i in rng.choice(len(seen), min(n_restate, len(seen)), replace=False)
            ] if seen else []
            b.fresh.extend(fresh_here)
            b.restated.extend(restated_here)
            seen.extend(fresh_here)
            content = " ".join(f"{t}." for t in fresh_here + restated_here)
            b.docs.append((doc_id, f"doc{doc_id}", f"gen://doc/{doc_id}", content))
            doc_id += 1
        yield b


class ConfirmingLLM:
    """The scripted model for ingest: ``ExtractiveFakeLLM`` for every
    generation prompt, and a yes/no gate that answers Yes exactly when
    the two statements (or names) are the same text. A ``ScriptedNLI``
    table of the restated facts decides which pairs reach the gate."""

    def __init__(self) -> None:
        from hippollm_spark.pipelines.backends import ExtractiveFakeLLM

        self.inner = ExtractiveFakeLLM()

    def invoke(self, prompt, grammar=None, max_tokens=None, stop=None) -> str:
        from hippollm_spark.pipelines.backends import GRAMMAR_YN

        if grammar == GRAMMAR_YN:
            a = prompt.split("\nA: ", 1)[-1].split("\nB: ", 1)[0]
            b = prompt.split("\nB: ", 1)[-1].split("\n", 1)[0]
            return "Yes" if a.strip() == b.strip() else "No"
        return self.inner.invoke(prompt, grammar, max_tokens, stop)
