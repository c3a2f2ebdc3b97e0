"""Independent answers for every benchmark op.

Nothing here imports the library's operators: exact kNN is numpy over
the generated vectors, lookups and graph answers are DuckDB over the
same parquet files, and the batch ops replay the DuckDB twins that the
contract's ``oracle_sql()`` already keeps for the equivalent queries.
"""

from __future__ import annotations

import hashlib
import itertools
import os
from collections.abc import Sequence
from decimal import Decimal

import duckdb
import numpy as np

from gen import PART_NAMES, Dataset

# ---------------------------------------------------------------------------
# canonical digests
# ---------------------------------------------------------------------------


def _cell(v) -> str:
    if isinstance(v, float):
        return f"{v:.6f}"
    if isinstance(v, Decimal):
        return str(int(v)) if v == v.to_integral_value() else f"{float(v):.6f}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, (np.integer,)):
        return str(int(v))
    return str(v)


def digest(columns: Sequence[str], rows: Sequence[Sequence]) -> tuple[str, int]:
    """Order-insensitive digest of a result: columns sorted by name,
    floats at 6 dp, rows sorted. Returns (sha256 prefix, row count)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(_cell(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16], len(lines)


# ---------------------------------------------------------------------------
# numpy exact kNN with the (distance, id) tie-break
# ---------------------------------------------------------------------------


def l2(mat: np.ndarray, q: Sequence[float]) -> np.ndarray:
    """Euclidean distance with a left-to-right double sum, the same
    association order as the library's SQL fold."""
    d = mat.astype(np.float64) - np.asarray(q, dtype=np.float64)
    return np.sqrt(np.add.accumulate(d * d, axis=1)[:, -1])


def topk(ids: np.ndarray, dist: np.ndarray, k: int) -> list[tuple]:
    order = np.lexsort((ids, dist))[:k]
    return [(ids[i].item(), float(dist[i])) for i in order]


def same_ranking(got: list[tuple], want: list[tuple], tol: float = 1e-9) -> bool:
    """Ranked (id, distance) lists agree: the same ids in the same order,
    ties broken by id as the library documents, and every distance
    within ``tol``."""
    return [i for i, _ in got] == [i for i, _ in want] and all(
        abs(gd - wd) <= tol for (_, gd), (_, wd) in zip(got, want)
    )


# ---------------------------------------------------------------------------
# the store (retrieve workload)
# ---------------------------------------------------------------------------


def connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    """An in-memory DuckDB that spills, if at all, under ``tmp_dir``."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    return con


class StoreOracle:
    """Answers for the read-path ops over one generated store."""

    def __init__(self, ds: Dataset, con: duckdb.DuckDBPyConnection) -> None:
        self.ds = ds
        self.con = con
        store = ds.paths["store"]
        con.execute(
            "CREATE OR REPLACE VIEW facts AS SELECT * FROM "
            f"read_parquet('{os.path.join(store, 'facts.parquet')}')"
        )
        con.execute(
            "CREATE OR REPLACE VIEW entities AS SELECT * FROM "
            f"read_parquet('{os.path.join(store, 'entities.parquet')}')"
        )
        con.execute(
            "CREATE OR REPLACE TABLE edges AS "
            "SELECT id AS fact_id, unnest(entities) AS entity FROM facts"
        )

    def entity(self, name: str) -> list[tuple]:
        return self.con.execute(
            "SELECT name, description, embedding FROM entities WHERE name = ?", [name]
        ).fetchall()

    def fact(self, fact_id: int) -> list[tuple]:
        return self.con.execute(
            "SELECT id, text, entities FROM facts WHERE id = ?", [fact_id]
        ).fetchall()

    def neighbours(self, name: str) -> list[tuple]:
        """(entity, sorted fact_ids, n_facts) per co-member."""
        return self.con.execute(
            """
            WITH mine AS (SELECT fact_id FROM edges WHERE entity = $1)
            SELECT e.entity, list_sort(list(e.fact_id)), count(*)
            FROM edges e JOIN mine USING (fact_id)
            WHERE e.entity <> $1 GROUP BY e.entity
            """,
            [name],
        ).fetchall()

    def explore1(self, origin: str, max_relations: int = 15) -> list[tuple]:
        """Depth-1 links from ``origin``: the ``max_relations`` neighbours
        with most shared facts (ties by name)."""
        rows = sorted(self.neighbours(origin), key=lambda r: (-r[2], r[0]))
        return [(origin, d, n, ids, 1) for d, ids, n in rows[:max_relations]]

    def candidates(self, entities: Sequence[str], mode: str) -> np.ndarray:
        """Fact ids touching any (union) or all (intersection) entities."""
        cols = [PART_NAMES.index(e) for e in entities]
        sub = self.ds.mask[:, cols]
        hit = sub.any(axis=1) if mode == "union" else sub.all(axis=1)
        return self.ds.fact_ids[hit]

    def knn_facts(self, q, k: int, ids: np.ndarray | None = None) -> list[tuple]:
        if ids is None:
            return topk(self.ds.fact_ids, l2(self.ds.fact_vecs, q), k)
        rows = ids - 1  # fact id i lives at row i - 1
        return topk(ids, l2(self.ds.fact_vecs[rows], q), k)

    def knn_entities(self, q, k: int) -> list[tuple]:
        names = np.array(PART_NAMES)
        d = l2(self.ds.entity_vecs, q)
        order = np.lexsort((names, d))[:k]
        return [(str(names[i]), float(d[i])) for i in order]

    def filtered_knn(self, q, entities: Sequence[str], mode: str, k: int):
        """The reference rule: k > |candidates| returns the candidate
        set unranked (a set of ids), otherwise the exact top-k."""
        ids = self.candidates(entities, mode)
        if k > len(ids):
            return {int(i) for i in ids}
        return self.knn_facts(q, k, ids)

    def search_graph_fact(self, qs: Sequence[Sequence[float]], k: int) -> dict:
        """Fact-mode search payload: per sub-query the top-k facts, then
        the co-occurrence pairs of their entities; first group wins."""
        nodes: dict[str, int] = {}
        links: dict[tuple, tuple] = {}
        for group, q in enumerate(qs):
            top = [fid for fid, _ in self.knn_facts(q, k)]
            pairs: dict[tuple, list[int]] = {}
            for fid in top:
                ents = self.ds.fact_entities[fid - 1]
                for a, b in itertools.combinations(sorted(ents), 2):
                    pairs.setdefault((a, b), []).append(fid)
            for n in sorted({e for p in pairs for e in p}):
                nodes.setdefault(n, group)
            for key, fids in pairs.items():
                links.setdefault(key, (len(fids), tuple(sorted(fids))))
        return {"nodes": nodes, "links": links}


# ---------------------------------------------------------------------------
# the batch twins
# ---------------------------------------------------------------------------


def batch_connection(ds: Dataset) -> duckdb.DuckDBPyConnection:
    con = connect(os.path.join(ds.root, "duckdb_tmp"))
    for t in ("lineitem", "part", "documents", "embeddings"):
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{ds.paths[t]}')"
        )
    return con


def batch_twin_sql(name: str, params: dict) -> str:
    """The DuckDB twin of one batch op (the contract's oracle SQL where
    one exists, parameterized by the op's seeded arguments)."""
    import __spark_entry__ as contract

    if name == "pagerank":
        return contract._pagerank_oracle_sql(seeds=params["seeds"])
    if name == "explore2":
        sql = contract.oracle_sql()["g2_explore"]
        return sql.replace(f"'{contract.ENTITY_A}'", "'" + params["origin"] + "'")
    if name == "curate_corpus":
        return contract.oracle_sql()["corpus_curation"]
    if name == "embedding_dup_pairs":
        return contract._emb_dup_oracle_sql(params["threshold"])
    raise ValueError(name)


def batch_expected(con: duckdb.DuckDBPyConnection, name: str, params: dict) -> tuple[str, int]:
    cur = con.execute(batch_twin_sql(name, params))
    cols = [d[0] for d in cur.description]
    return digest(cols, cur.fetchall())
