"""HippoStore — the Spark-native equivalent of the reference's
``EntityStore`` (reference storage.py:74-391).

Single source of truth: two Parquet-backed DataFrames (entities, facts)
with co-located embedding columns; the adjacency is the derived
``edges`` view. This removes the reference's graph-side/vector-side
integrity drift (storage.py:136-169) by construction.

Persistence:
- native: ``save()``/``load()`` → Parquet directory (entities.parquet/,
  facts.parquet/), cluster-writable, partitioned.
- interchange: ``import_reference_json()`` / ``export_reference_json()``
  round-trip the reference's on-disk format (entities.json object keyed
  by name + facts.json array — storage.py:339-382) so an existing
  hippollm database can be migrated in.

Query surface: thin façade over hippollm_spark.operators.* mirroring
the reference method names (get_entity, get_closest_facts, …).
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hippollm_spark import plan
from hippollm_spark.operators import graph, knn, relational
from hippollm_spark.schema import ENTITIES_SCHEMA, FACTS_SCHEMA


class HippoStore:
    def __init__(
        self,
        spark: SparkSession,
        entities: DataFrame | None = None,
        facts: DataFrame | None = None,
        embed=None,
        dim: int = 384,
    ) -> None:
        self.spark = spark
        self._entities = (
            entities
            if entities is not None
            else spark.createDataFrame([], ENTITIES_SCHEMA)
        )
        self._facts = (
            facts if facts is not None else spark.createDataFrame([], FACTS_SCHEMA)
        )
        self.embed = embed  # Column-producing fn (e.g. testing.hash_embedding_udf(dim))
        self.dim = dim
        # optional ANN handles (build_vector_indexes) — the Spark
        # analogue of the reference's per-collection HNSW indexes.
        # INVALIDATED automatically whenever the backing DataFrame is
        # reassigned (the property setters below): an IVF index is a
        # snapshot, and rows appended after the build would be
        # invisible to the probe — silently serving a stale index
        # could miss the true nearest duplicate in the annotate
        # dedup/resolve gates. Rebuild via build_vector_indexes().
        self.entity_index = None
        self.fact_index = None

    @property
    def entities(self) -> DataFrame:
        return self._entities

    @entities.setter
    def entities(self, df: DataFrame) -> None:
        self._entities = df
        self.entity_index = None  # snapshot index no longer covers the new frame

    @property
    def facts(self) -> DataFrame:
        return self._facts

    @facts.setter
    def facts(self, df: DataFrame) -> None:
        self._facts = df
        self.fact_index = None  # snapshot index no longer covers the new frame

    # -- derived state ------------------------------------------------------

    @property
    def edges(self) -> DataFrame:
        return relational.edges_from_facts(self.facts)

    # -- persistence (native parquet) --------------------------------------

    def save(self, path: str) -> None:
        """Overwrite-safe save: a loaded store's DataFrames lazily read
        from the very files an overwrite deletes (read→overwrite of the
        same location corrupts the write), so materialize first with an
        eager barrier. A production deployment would use a
        table format (Delta/Iceberg) or versioned directories instead;
        the semantics here are the same."""
        # materialization (same rows, truncated lineage) keeps any
        # built index valid — restore the handles around the setter's
        # blanket invalidation
        ent_idx, fct_idx = self.entity_index, self.fact_index
        self.entities = plan.barrier(self.entities, eager=True)
        self.facts = plan.barrier(self.facts, eager=True)
        self.entity_index, self.fact_index = ent_idx, fct_idx
        self.entities.write.mode("overwrite").parquet(os.path.join(path, "entities.parquet"))
        self.facts.write.mode("overwrite").parquet(os.path.join(path, "facts.parquet"))

    def save_bucketed(self, table_prefix: str, n_buckets: int = 16) -> None:
        """Cluster-layout save: facts bucketed+sorted by id, entities
        bucketed by name (saveAsTable — bucketing needs the metastore).
        Later equi-joins/aggregations on the bucket keys read
        co-located buckets and skip the shuffle entirely (verified in
        tests: the bucketed facts⋈facts join plan has no Exchange)."""
        (
            self.facts.write.mode("overwrite")
            .bucketBy(n_buckets, "id")
            .sortBy("id")
            .saveAsTable(f"{table_prefix}_facts")
        )
        (
            self.entities.write.mode("overwrite")
            .bucketBy(n_buckets, "name")
            .saveAsTable(f"{table_prefix}_entities")
        )

    @classmethod
    def load_bucketed(cls, spark: SparkSession, table_prefix: str, **kw) -> "HippoStore":
        return cls(
            spark,
            entities=spark.table(f"{table_prefix}_entities"),
            facts=spark.table(f"{table_prefix}_facts"),
            **kw,
        )

    @classmethod
    def load(cls, spark: SparkSession, path: str, **kw) -> "HippoStore":
        return cls(
            spark,
            entities=spark.read.parquet(os.path.join(path, "entities.parquet")),
            facts=spark.read.parquet(os.path.join(path, "facts.parquet")),
            **kw,
        )

    # -- interchange with the reference's JSON format -----------------------

    @classmethod
    def import_reference_json(
        cls, spark: SparkSession, path: str, embed=None, dim: int = 384
    ) -> "HippoStore":
        """Load a reference database directory (entities.json keyed by
        name + facts.json array — reference storage.py:339-360).

        Driver-side parse (these files are small: the whole-DB JSON is
        the reference's own scalability ceiling), distributed storage
        after. Embeddings are NOT in the JSON (the reference keeps them
        in Chroma); they are recomputed via ``embed`` if provided.
        """
        with open(os.path.join(path, "entities.json"), "rb") as f:
            ents = json.load(f)
        with open(os.path.join(path, "facts.json"), "rb") as f:
            facts = json.load(f)

        ent_rows = [
            (name, e.get("description", ""), None) for name, e in ents.items()
        ]
        entities = spark.createDataFrame(ent_rows, ENTITIES_SCHEMA)

        def _src(s) -> tuple | None:
            if s is None:
                return None
            pos = s.get("position") or (None, None)
            return (
                s.get("name"),
                s.get("description"),
                s.get("url"),
                None,  # date: always null in practice (reference storage.py:57)
                pos[0],
                pos[1],
            )

        fact_rows = [
            (
                int(fa.get("id", i)),
                fa["text"],
                list(fa.get("entities", [])),
                [_src(s) for s in fa.get("sources", []) if s is not None],
                float(fa.get("confidence", 1.0)),
                None,
            )
            for i, fa in enumerate(facts)
        ]
        facts_df = spark.createDataFrame(fact_rows, FACTS_SCHEMA)
        store = cls(spark, entities, facts_df, embed=embed, dim=dim)
        if embed is not None:
            store.entities = entities.withColumn(
                "embedding",
                embed(F.concat("name", F.lit(" ("), F.coalesce("description", F.lit("")), F.lit(")"))),
            )
            store.facts = facts_df.withColumn("embedding", embed(F.col("text")))
        return store

    def export_reference_json(self, path: str) -> None:
        """Write the reference's entities.json/facts.json format.
        Collects to the driver — only valid for reference-scale DBs
        (the format itself is single-file JSON)."""
        os.makedirs(path, exist_ok=True)
        adjacency = {
            r["name"]: r["fact_ids"]
            for r in self.edges.groupBy(F.col("entity").alias("name"))
            .agg(F.array_sort(F.collect_list("fact_id")).alias("fact_ids"))
            .collect()
        }
        ents = {
            r["name"]: {
                "name": r["name"],
                "description": r["description"],
                "facts": [int(i) for i in adjacency.get(r["name"], [])],
            }
            for r in self.entities.select("name", "description").collect()
        }
        facts = [
            {
                "text": r["text"],
                "entities": list(r["entities"] or []),
                "sources": [
                    {
                        "name": s["name"],
                        "description": s["description"],
                        "url": s["url"],
                        "date": None,
                        "position": [s["pos_start"], s["pos_end"]],
                    }
                    for s in (r["sources"] or [])
                ],
                "confidence": r["confidence"],
                "id": r["id"],
            }
            for r in self.facts.orderBy("id").collect()
        ]
        with open(os.path.join(path, "entities.json"), "w") as f:
            json.dump(ents, f)
        with open(os.path.join(path, "facts.json"), "w") as f:
            json.dump(facts, f)

    def register_views(self, prefix: str = "") -> None:
        """Expose the store as SQL views (``entities``, ``facts``,
        ``edges``) so the whole Spark SQL surface — joins, windows,
        grouping sets, CTEs — applies directly (SURVEY.md §2.10: the
        reference has no SQL; we inherit it)."""
        self.entities.createOrReplaceTempView(f"{prefix}entities")
        self.facts.createOrReplaceTempView(f"{prefix}facts")
        self.edges.createOrReplaceTempView(f"{prefix}edges")

    def sql(self, query: str):
        self.register_views()
        return self.spark.sql(query)

    # -- reference API façade ------------------------------------------------

    def get_entity(self, name: str):
        return relational.get_entity(self.entities, name)

    def get_fact(self, fact_id: int):
        return relational.get_fact(self.facts, fact_id)

    def add_entities(self, new: DataFrame) -> None:
        self.entities = relational.add_entities(self.entities, new, embed=self.embed)

    def add_facts(self, new: DataFrame) -> None:
        self.facts = relational.add_facts(self.facts, new, embed=self.embed)

    def get_neighbours(self, name: str):
        return graph.neighbours(self.edges, name)

    def explore(self, origins: Sequence[str], max_depth: int = 2, max_relations: int = 15):
        return graph.explore(self.edges, origins, max_depth, max_relations)

    def build_vector_indexes(self, nlist: int = 16, nprobe: int = 4) -> None:
        """Build the optional IVF handles behind ``get_closest_*`` —
        the Spark analogue of the reference keeping an HNSW collection
        per table (storage.py:124-133), so point lookups probe
        nprobe/nlist of the store instead of scanning it. Exact kNN
        stays the default; the probed path is recall-grade with the
        ``nprobe`` dial (nprobe = nlist reproduces the exact ranking,
        distance arithmetic included). Rebuild after bulk appends —
        facts added since the build are invisible to the probe."""
        from hippollm_spark.operators.similarity import VecIndex

        self.entity_index = (
            VecIndex.build(
                self.entities.select("name", "embedding"),
                nlist=nlist, nprobe=nprobe, id_col="name",
            )
            if not self.entities.isEmpty()
            else None
        )
        self.fact_index = (
            VecIndex.build(
                self.facts.select("id", "embedding"),
                nlist=nlist, nprobe=nprobe, id_col="id",
            )
            if not self.facts.isEmpty()
            else None
        )

    def get_closest_entities(
        self, query_vec: Sequence[float], k: int = 5, *, use_index: bool = False
    ):
        if use_index:
            if self.entity_index is None:
                raise ValueError("call build_vector_indexes() first")
            return self.entity_index.closest(self.entities, query_vec, k)
        return knn.knn_entities(self.entities, query_vec, k)

    def get_closest_facts(
        self, query_vec: Sequence[float], k: int = 5, *, use_index: bool = False
    ):
        if use_index:
            if self.fact_index is None:
                raise ValueError("call build_vector_indexes() first")
            return self.fact_index.closest(self.facts, query_vec, k)
        return knn.knn_facts(self.facts, query_vec, k)

    def get_closest_facts_with_entities_union(
        self, query_vec: Sequence[float], entities: Sequence[str], k: int = 5
    ):
        return knn.knn_facts_with_entities_union(
            self.facts, self.edges, query_vec, entities, k
        )

    def get_closest_facts_with_entities_intersection(
        self, query_vec: Sequence[float], entities: Sequence[str], k: int = 5
    ):
        return knn.knn_facts_with_entities_intersection(
            self.facts, self.edges, query_vec, entities, k
        )

    def prune_lone_entities(self) -> None:
        self.entities = relational.prune_lone_entities(self.entities, self.edges)

    def check_integrity(self) -> dict[str, int]:
        return relational.integrity_report(self.entities, self.facts)

    def restore_integrity(self) -> None:
        """P8 analog (reference storage.py:152-169 reconciles the
        Chroma side against the graph side). In the single-table design
        the only divergence possible is a NULL embedding (e.g. rows
        imported without a model) — re-embed exactly those rows."""
        if self.embed is None:
            raise ValueError("restore_integrity needs an embed function")
        ent_fix = F.when(
            F.col("embedding").isNull(),
            self.embed(
                F.concat(
                    "name", F.lit(" ("), F.coalesce("description", F.lit("")), F.lit(")")
                )
            ),
        ).otherwise(F.col("embedding"))
        self.entities = self.entities.withColumn("embedding", ent_fix)
        fact_fix = F.when(
            F.col("embedding").isNull(), self.embed(F.col("text"))
        ).otherwise(F.col("embedding"))
        self.facts = self.facts.withColumn("embedding", fact_fix)
