"""Right-to-be-forgotten composite: remove documents from EVERY place
the pipeline put them.

A published document lives in up to four stores: the curated corpus
(split-partitioned parquet), the MinHash band store (dedup state),
the BM25 inverted index (retrieval), and — for its embedding — the
IVF assignment store. A redaction request (PII discovered after
publication, a takedown, a licensing change) must remove it from all
of them, with each store's own commit/replay contract intact.

Cost shape at 100 TB:

- The three INDEX stores take O(|delete batch|) tombstone writes plus
  one atomic ledger commit each — serving stops immediately via the
  query-path anti-joins; the physical rows leave at each store's next
  ``compact_*``. No index data is rewritten here.
- The CORPUS is the one store that gets rewritten inline, and only
  its AFFECTED split partitions (a membership probe per split, then a
  staging + atomic-swap rewrite of those splits — same flow as
  ``compact_flat_table``). With 2-3 split partitions this is a
  bounded number of partition scans. A deployment taking frequent
  point deletes should publish the corpus through the bucketed
  ``sinks/merge_store`` instead (deletes become O(delta + affected
  buckets) CDC upserts); this plan serves the common
  append-partitioned layout.

Reference analog: the reference can only ever append datapoints
(csv_extractor.py has no delete path at all) — this is the lifecycle
surface a data PLATFORM needs layered over the engine.
"""

from __future__ import annotations

import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapoints_csv_extractor_spark.sinks import store_commit


def forget_documents(
    spark: SparkSession,
    doc_ids,
    corpus_path: str | None = None,
    band_store: str | None = None,
    bm25_index: str | None = None,
    ivf_index: str | None = None,
    sq_index: str | None = None,
    vec_ids=None,
    delete_id: str | None = None,
) -> dict:
    """Remove ``doc_ids`` from every provided store. Pass only the
    stores the deployment actually runs; ``vec_ids`` (defaults to
    ``doc_ids``) addresses the IVF store, whose key is vec_id.

    ``delete_id`` makes the whole request replay-idempotent: each
    index store commits the tombstone batch under this id (an
    already-committed id is a per-store no-op), and the corpus
    rewrite is naturally idempotent (removing absent rows rewrites
    nothing; the SQ8 deletes append folds to a distinct set at read).
    Returns a ledger of what each store did.
    """
    from datapoints_csv_extractor_spark.operators.dedup import (
        delete_from_store,
    )
    from datapoints_csv_extractor_spark.operators.textops import (
        delete_from_bm25_index,
    )

    delete_id = delete_id or uuid.uuid4().hex[:12]
    ids_df = (
        doc_ids
        if isinstance(doc_ids, DataFrame)
        else spark.createDataFrame(
            [(int(i),) for i in doc_ids], "doc_id long"
        )
    ).select("doc_id").distinct().localCheckpoint()

    ledger: dict = {"delete_id": delete_id}
    if corpus_path is not None:
        ledger["corpus_rows_removed"] = _rewrite_corpus_partitions(
            spark, corpus_path, ids_df
        )
    if band_store is not None:
        ledger["band_store_committed"] = delete_from_store(
            spark, band_store, ids_df, delete_id=delete_id
        )
    if bm25_index is not None:
        ledger["bm25_committed"] = delete_from_bm25_index(
            spark, bm25_index, ids_df, delete_id=delete_id
        )
    if ivf_index is not None:
        vdf = (
            vec_ids
            if isinstance(vec_ids, DataFrame)
            else (
                spark.createDataFrame(
                    [(int(i),) for i in vec_ids], "vec_id long"
                )
                if vec_ids is not None
                else ids_df.select(F.col("doc_id").alias("vec_id"))
            )
        )
        ledger["ivf_committed"] = delete_from_store(
            spark, ivf_index, vdf, delete_id=delete_id, id_col="vec_id"
        )
    if sq_index is not None:
        from datapoints_csv_extractor_spark.operators.similarity import (
            delete_from_sq_index,
        )

        sq_ids = (
            [int(r["vec_id"]) for r in vec_ids.collect()]
            if isinstance(vec_ids, DataFrame)
            else (
                [int(i) for i in vec_ids]
                if vec_ids is not None
                else [int(r["doc_id"]) for r in ids_df.collect()]
            )
        )
        delete_from_sq_index(spark, sq_index, sq_ids)
        ledger["sq_deleted"] = len(sq_ids)
    return ledger


def stream_forget(
    spark: SparkSession,
    ids_stream: DataFrame,
    checkpoint_dir: str,
    corpus_path: str | None = None,
    band_store: str | None = None,
    bm25_index: str | None = None,
    ivf_index: str | None = None,
    available_now: bool = True,
    on_batch=None,
):
    """Continuous takedown processing: a stream of (doc_id) rows —
    the redaction queue a compliance pipeline feeds — drives
    ``forget_documents`` per micro-batch.

    Replay safety (foreachBatch is at-least-once): each batch's
    deletes commit under ``delete_id=f"batch_{id}"``, so a
    crash-replayed batch is a per-store no-op on the tombstone
    ledgers, and the corpus rewrite removes nothing the first pass
    didn't. ``on_batch(batch_id, ledger)`` receives each batch's
    removal ledger."""

    def _handle(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        ledger = forget_documents(
            spark,
            batch_df.select("doc_id"),
            corpus_path=corpus_path,
            band_store=band_store,
            bm25_index=bm25_index,
            ivf_index=ivf_index,
            delete_id=f"batch_{batch_id}",
        )
        if on_batch is not None:
            on_batch(batch_id, ledger)

    writer = ids_stream.writeStream.foreachBatch(_handle).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _rewrite_corpus_partitions(
    spark: SparkSession, corpus_path: str, ids_df: DataFrame
) -> int:
    """Rewrite ONLY the split partitions that contain a doc to
    forget: per-partition membership probe (one pruned scan), then a
    staging write + directory swap (``store_commit.replace_dir``) for
    each affected split —
    untouched splits keep their bytes (and mtimes). Returns rows
    removed."""
    root = Path(corpus_path)
    removed = 0
    # Batch-mode corpora lay out split=* at the root; streamed corpora
    # nest it under batch=<id>/ (plans/corpus_ingest.py) — rewrite the
    # leaf split directories in either layout.
    part_dirs = sorted(root.glob("split=*")) or sorted(
        root.glob("batch=*/split=*")
    )
    for part_dir in part_dirs:
        part = spark.read.parquet(str(part_dir))
        hit = part.join(ids_df, "doc_id", "left_semi").count()
        if not hit:
            continue
        survivors = part.join(ids_df, "doc_id", "left_anti")
        base = part_dir.parent
        staging = base / f"_redact_{part_dir.name}_{uuid.uuid4().hex[:8]}"
        survivors.write.mode("overwrite").parquet(str(staging))
        store_commit.replace_dir(staging, part_dir)
        removed += hit
    return removed
