"""Relational core: point lookups, adjacency set-ops, guards, prunes
(reference P1-P8) and the batch write path (M1-M3).

Everything here is a declarative DataFrame expression — Catalyst picks
broadcast vs shuffle joins, pushes predicates into the parquet scan, and
prunes columns. At 100 TB: the entity-name filters are broadcast-able
literals (partition pruning if the table is bucketed by ``entity``);
the adjacency set-ops shuffle only the `edges` projection (two narrow
columns), never the fact payloads.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hippollm_spark import plan


# --------------------------------------------------------------------------
# Point lookups / guards (P1-P3)
# --------------------------------------------------------------------------

def get_entity(entities: DataFrame, name: str) -> DataFrame:
    """P1 — exact-key lookup by name (reference storage.py:201-205)."""
    return entities.filter(F.col("name") == F.lit(name))


def get_fact(facts: DataFrame, fact_id: int) -> DataFrame:
    """P2 — lookup by dense id (reference storage.py:207-211)."""
    return facts.filter(F.col("id") == F.lit(fact_id))


def new_entities_only(
    new: DataFrame, existing: DataFrame, order_col: str | None = None
) -> DataFrame:
    """P3 — upsert guard: rows of ``new`` whose name is not already
    present (reference storage.py:188-190). One row survives per name
    within the new batch itself, matching the serial insert loop's
    keep-first behaviour.

    Which duplicate survives is RERUN-DETERMINISTIC: pass ``order_col``
    (an explicit sequence column — the faithful "first occurrence"
    when the caller has one); otherwise the tie-break orders on every
    other ORDERABLE column ascending (nulls first), so the survivor
    depends only on row CONTENT, never on file/partition layout. (The
    previous ``monotonically_increasing_id()`` tie-break changed
    winners under repartitioning — same defect class as the ORDER-less
    ``limit()`` the round-7 sweep caught in emb_quantize.)

    Unorderable columns (maps, or structs/arrays containing them) are
    skipped from the content tie-break — Window.orderBy would throw on
    them — so two rows identical on every orderable column but
    differing in a map payload are interchangeable; thread an explicit
    ``order_col`` when that distinction matters (ADVICE r9). If EVERY
    non-name column is unorderable, the tie-break falls back to a
    content hash of the row's canonical JSON form (ADVICE r10) — still
    layout-independent, though hash-order rather than value-order."""
    if order_col is not None:
        order = [F.col(order_col).asc()]
    else:
        def _orderable(dt) -> bool:
            if isinstance(dt, T.MapType):
                return False
            if isinstance(dt, T.ArrayType):
                return _orderable(dt.elementType)
            if isinstance(dt, T.StructType):
                return all(_orderable(f.dataType) for f in dt.fields)
            return True

        order = [
            F.col(f.name).asc_nulls_first()
            for f in new.schema.fields
            if f.name != "name" and _orderable(f.dataType)
        ] or [
            # All-unorderable fallback (ADVICE r10): a constant here
            # would make the survivor depend on partition layout. Hash
            # the row's canonical JSON form instead — content-determined
            # even when no column is directly orderable.
            F.xxhash64(
                F.to_json(F.struct(*[F.col(f.name) for f in new.schema.fields]))
            ).asc()
        ]
    w = Window.partitionBy("name").orderBy(*order)
    deduped = (
        new.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )
    return deduped.join(existing.select("name"), on="name", how="left_anti")


# --------------------------------------------------------------------------
# Adjacency set ops (P4-P5)
# --------------------------------------------------------------------------

def edges_from_facts(facts: DataFrame) -> DataFrame:
    """Derive the normalized adjacency (fact_id, entity) from the
    hyperedge arrays — replaces the reference's denormalized
    ``Entity.facts`` lists (reference storage.py:22,246-247)."""
    return facts.select(
        F.col("id").alias("fact_id"), F.explode("entities").alias("entity")
    )


def fact_ids_by_entities_union(
    edges: DataFrame, entity_names: Sequence[str]
) -> DataFrame:
    """P4 — fact ids touching ANY of the entities (reference
    storage.py:278-289: set-union of adjacency lists)."""
    return (
        edges.filter(F.col("entity").isin(list(entity_names)))
        .select("fact_id")
        .distinct()
    )


def fact_ids_by_entities_intersection(
    edges: DataFrame, entity_names: Sequence[str]
) -> DataFrame:
    """P5 — fact ids touching ALL of the entities: relational division
    (reference storage.py:291-302). One shuffle on fact_id; the entity
    filter is pushed to the scan."""
    names = list(entity_names)
    if not names:
        raise IndexError("intersection of empty entity list")
    return (
        edges.filter(F.col("entity").isin(names))
        .groupBy("fact_id")
        .agg(F.countDistinct("entity").alias("__n__"))
        .filter(F.col("__n__") == F.lit(len(names)))
        .select("fact_id")
    )


# --------------------------------------------------------------------------
# Maintenance (P6-P8)
# --------------------------------------------------------------------------

def lone_entities(entities: DataFrame, edges: DataFrame) -> DataFrame:
    """Entities with no incident fact (reference storage.py:171-181)."""
    return entities.join(
        edges.select(F.col("entity").alias("name")), on="name", how="left_anti"
    )


def prune_lone_entities(entities: DataFrame, edges: DataFrame) -> DataFrame:
    """P6 — drop entities with empty adjacency."""
    return entities.join(
        edges.select(F.col("entity").alias("name")).distinct(), on="name", how="semi"
    )


def integrity_report(entities: DataFrame, facts: DataFrame) -> dict[str, int]:
    """P7 — graph-side vs vector-side count invariants (reference
    storage.py:136-149). In the single-table design the 'vector side'
    is the non-null embedding count."""
    e_total, e_emb = entities.agg(
        F.count("*"), F.count("embedding")
    ).first()
    f_total, f_emb = facts.agg(F.count("*"), F.count("embedding")).first()
    return {
        "entities": e_total,
        "entities_embedded": e_emb,
        "facts": f_total,
        "facts_embedded": f_emb,
        "ok": int(e_total == e_emb and f_total == f_emb),
    }


# --------------------------------------------------------------------------
# Dense-id assignment + append write path (M1-M3)
# --------------------------------------------------------------------------

def with_dense_ids(df: DataFrame, offset: int = 0, id_col: str = "id") -> DataFrame:
    """Assign contiguous ids offset..offset+n-1 without a global sort.

    The reference's fact ids are list positions (storage.py:238). A
    naive ``row_number()`` over an unpartitioned window funnels all rows
    through ONE task — fine at test scale, fatal at 100 TB. Instead:
    per-partition ``row_number`` + driver-side cumulative partition
    offsets (one tiny count-per-partition job), the standard scalable
    zip-with-index. Order = current partition order (stable for a just-
    shuffled/written batch; callers needing a semantic order sort first).

    The eager barrier pins one partitioning across the two
    evaluations (counts job, then id stamping): an upstream shuffle
    under AQE may otherwise runtime-coalesce differently per run and
    the stamped ids would collide or leave gaps.
    """
    df = plan.barrier(df, eager=True)
    part = df.withColumn("__pid__", F.spark_partition_id())
    counts = dict(
        (r["__pid__"], r["cnt"])
        for r in part.groupBy("__pid__").agg(F.count("*").alias("cnt")).collect()
    )
    if not counts:
        # empty input: an empty create_map() is VOID-typed and breaks
        # the lookup expression — just stamp the (absent) rows
        return df.withColumn(id_col, F.lit(offset).cast("long"))
    offsets, acc = {}, offset
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    offmap = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    w = Window.partitionBy("__pid__").orderBy(F.monotonically_increasing_id())
    return (
        part.withColumn("__rn__", F.row_number().over(w) - 1)
        .withColumn(id_col, (offmap[F.col("__pid__")] + F.col("__rn__")).cast("long"))
        .drop("__pid__", "__rn__")
    )


def add_entities(
    entities: DataFrame,
    new: DataFrame,
    embed=None,
    embed_partitions: int | None = None,
    order_col: str | None = None,
) -> DataFrame:
    """M1 batch — guarded insert of new (name, description) rows with
    embeddings of ``"name (description)"`` (reference storage.py:183-199
    embeds the repr string, which is part of the semantics).

    ``embed_partitions``: repartition the fresh rows before the
    embedding stage. The guard's window shuffle is tiny in bytes, so
    AQE coalesces it to very few partitions — correct for the shuffle,
    catastrophic for the downstream per-row model inference, which then
    runs on one core (measured 6× on 15k rows). Byte-based partition
    sizing is blind to compute-heavy columns-to-come; set this to
    ~2× total cores whenever ``embed`` is a real model stage.

    ``order_col`` threads through to the upsert guard: pass the
    batch's sequence column when the ingest order is meaningful (the
    reference's serial loop keeps the FIRST occurrence); without it
    the guard falls back to the content tie-break."""
    fresh = new_entities_only(new, entities, order_col=order_col)
    if embed is not None:
        if embed_partitions:
            fresh = fresh.repartition(embed_partitions)
        repr_col = F.concat(F.col("name"), F.lit(" ("), F.col("description"), F.lit(")"))
        fresh = fresh.withColumn("embedding", embed(repr_col))
    return entities.unionByName(fresh, allowMissingColumns=True)


def add_facts(
    facts: DataFrame,
    new: DataFrame,
    next_id: int | None = None,
    embed=None,
) -> DataFrame:
    """M2 batch — append facts with dense ids continuing from
    max(id)+1 (reference storage.py:227-248). ``embed`` runs only when
    ``new`` carries no ``embedding`` column (the `dedup_facts` rule): a
    pipeline that already embedded the batch passes its vectors in."""
    if next_id is None:
        row = facts.agg(F.max("id")).first()
        next_id = (row[0] + 1) if row and row[0] is not None else 0
    assigned = with_dense_ids(new, offset=next_id)
    if embed is not None and "embedding" not in assigned.columns:
        assigned = assigned.withColumn("embedding", embed(F.col("text")))
    if "confidence" not in assigned.columns:
        assigned = assigned.withColumn("confidence", F.lit(1.0))
    return facts.unionByName(assigned, allowMissingColumns=True)


def add_fact_source(facts: DataFrame, fact_id: int, source_row) -> DataFrame:
    """M3 — append a Source struct to one fact's sources array, no dedup
    (reference storage.py:250-253)."""
    return facts.withColumn(
        "sources",
        F.when(
            F.col("id") == F.lit(fact_id),
            F.array_append(F.coalesce(F.col("sources"), F.array()), source_row),
        ).otherwise(F.col("sources")),
    )
