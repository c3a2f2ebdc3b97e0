"""Incremental annotation: a Structured Streaming wrapper that feeds
micro-batches of arriving documents through the batch annotation
pipeline via ``foreachBatch`` (exactly-once per epoch against the
store's parquet tables).

The reference annotates one document per CLI invocation
(annotate_wikipedia.py); this is its continuous-ingest equivalent —
each micro-batch preserves the batch pipeline's semantics, and
sequential-parity holds *within* a batch the same way it does for the
batch API (see pipelines/annotate.py docstring).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from hippollm_spark import plan
from hippollm_spark.pipelines.annotate import AnnotateConfig, annotate_documents
from hippollm_spark.store import HippoStore

DOCS_DDL = "doc_id long, title string, url string, content string, date timestamp"


def read_doc_stream(spark: SparkSession, path: str, max_files_per_trigger: int = 1):
    return (
        spark.readStream.schema(DOCS_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def annotate_stream(
    docs_stream,
    store: HippoStore,
    llm,
    nli,
    embed,
    cfg: AnnotateConfig | None = None,
    checkpoint: str | None = None,
    store_path: str | None = None,
    use_ann_index: bool = False,
    index_nlist: int = 16,
    index_nprobe: int = 4,
):
    """Start the incremental annotation query. Each micro-batch runs the
    staged pipeline against the current store state; if ``store_path``
    is given the store is persisted after every epoch (restart-safe
    together with ``checkpoint``).

    ``use_ann_index``: rebuild the store's C3/C4 IVF candidate indexes
    (``store.build_vector_indexes``) at the START of every epoch — the
    steady-state ingest shape when the store dwarfs each micro-batch
    (an epoch's candidate work becomes |batch|·|store|·nprobe/nlist
    instead of |batch|·|store|). Coverage matches the reference's
    always-current HNSW: the epoch-start index holds every fact from
    prior epochs, and within-epoch additions are handled by the batch's
    exact earlier-ordinal pairing. ``index_nprobe = index_nlist``
    reproduces the exact path bit-for-bit (the parity dial)."""

    def _process(batch_df, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if use_ann_index:
            store.build_vector_indexes(nlist=index_nlist, nprobe=index_nprobe)
        annotate_documents(store, batch_df, llm, nli, embed, cfg)
        # Materialize new state so the next epoch's lineage doesn't
        # stack unioned plans epoch over epoch.
        store.entities = plan.barrier(store.entities, eager=True)
        store.facts = plan.barrier(store.facts, eager=True)
        if store_path is not None:
            store.save(store_path)

    writer = docs_stream.writeStream.foreachBatch(_process).outputMode("update")
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()
