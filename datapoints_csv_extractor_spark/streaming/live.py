"""Live mode as Structured Streaming (SURVEY.md §2.8 ST1-ST7, §7 Phase 3).

Reference behavior (csv_extractor.py:33-50, 265-280): every 8 s, pick
the ≤20 newest settled csv files, run the batch pipeline on them,
post datapoints, create missing series, then delete/archive the files.
No checkpointing — a crash reprocesses or loses work (ST6).

Spark-first re-expression:

- **Discovery** is a checkpointed file-stream source. TEBIS files have
  per-file dynamic headers (no shared read schema), so the stream's
  *content* can't be the parse input; instead the ``text`` source acts
  as an exactly-once file-arrival log (its seen-files journal in the
  checkpoint replaces — and strengthens — the reference's
  "the move/delete IS the commit" protocol; ST6 fixed).
- ``maxFilesPerTrigger=20`` + ``latestFirst=true`` reproduce the
  newest-first ≤20-file cycle (ST2/O2); ``Trigger.ProcessingTime("8
  seconds")`` reproduces the poll cadence (ST1).
- **Processing** happens in ``foreachBatch``: the micro-batch yields
  the new file paths (≤20 — a tiny driver-side collect of *metadata*,
  not data) for ``process_batch``, the batch function historical runs
  use too: it parses those files once, writes the datapoints sink,
  upserts the catalog from the series the write observed (ST5 state =
  the dimension table, not stream state — SURVEY.md §2.8), then
  archives the inputs (S9). ONE parser, ONE batch sequence — no
  batch/streaming semantic drift.
- The 1 s mtime settle guard (ST3, csv_extractor.py:270-276) is
  EXACT in streaming mode: the file-stream source commits a file to
  its seen-files log at listing time, so a not-yet-settled file can't
  be "un-seen" — instead ``foreachBatch`` defers it: each batch stats
  its candidate files driver-side (metadata-only, same cost class as
  the listing itself), processes only those whose mtime is at least
  ``settle_seconds`` old, and parks the rest in a JSON sidecar next to
  the checkpoint. Parked files are retried on the next trigger (and by
  ``flush_pending`` after an availableNow drain); the sidecar persists
  across restarts so deferral never becomes loss (ST6 preserved).

At scale: each micro-batch is the batch plan — scan -> broadcast-join
headers -> posexplode -> filter, shuffle-free; state never grows with
stream length (the checkpoint file log is O(files seen), the catalog
is O(series)).
"""

from __future__ import annotations

import json
import time
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from datapoints_csv_extractor_spark.sinks import store_commit
from datapoints_csv_extractor_spark.sinks.catalog_store import append_missing
from datapoints_csv_extractor_spark.sinks.datapoints import write_datapoints
from datapoints_csv_extractor_spark.sinks.lifecycle import (
    finalize_succeeded,
    quarantine_failed,
    setup_directories,
)
from datapoints_csv_extractor_spark.sources.tebis_csv import read_datapoints

LIVE_MAX_FILES_PER_TRIGGER = 20  # csv_extractor.py:279-280
LIVE_TRIGGER = "8 seconds"  # csv_extractor.py:47
SETTLE_SECONDS = 1.0  # csv_extractor.py:270-276 (writer settle guard)


def _pending_file(checkpoint_dir: str | Path) -> Path:
    return Path(checkpoint_dir) / "pending_unsettled.json"


def _load_pending(checkpoint_dir: str | Path) -> set[str]:
    try:
        return set(json.loads(_pending_file(checkpoint_dir).read_text()))
    except (OSError, ValueError):
        return set()


def split_settled(
    paths: list[Path], settle_seconds: float, now: float | None = None
) -> tuple[list[Path], list[Path]]:
    """Partition paths into (settled, unsettled) by mtime age (ST3).

    A file modified less than ``settle_seconds`` ago may still be
    mid-write; it is deferred, not dropped. Files that vanished
    between listing and stat are skipped (csv_extractor.py:270-273 —
    another extractor claimed them)."""
    now = time.time() if now is None else now
    settled: list[Path] = []
    unsettled: list[Path] = []
    for p in paths:
        try:
            mtime = p.stat().st_mtime
        except OSError:
            continue
        (unsettled if now - mtime < settle_seconds else settled).append(p)
    return settled, unsettled


def _batch_paths(batch_df: DataFrame) -> list[Path]:
    """Distinct source files of a micro-batch (file: URI -> local path)."""
    rows = (
        batch_df.select(
            F.url_decode(
                F.regexp_replace(F.col("file"), r"^file:(//)?", "")
            ).alias("p")
        )
        .distinct()
        .collect()
    )
    return [Path(r.p) for r in rows]


def process_batch(
    spark: SparkSession,
    paths: list[Path],
    sink_dir: str | Path,
    catalog_path: str | Path,
    finished_dir: Path | None = None,
    failed_dir: Path | None = None,
    delete_on_success: bool = False,
    latest_store_path: str | None = None,
) -> dict[str, int]:
    """The one batch function (historical, live trigger, drain flush):
    sink -> catalog -> latest store -> archive, mirroring process_files
    + post_all_data (csv_extractor.py:199-236, 175-196).

    The CSVs are parsed once for the sink and the catalog: the write
    observes the datapoint count and the (external_id, name) pairs it
    wrote (SURVEY.md §2.6). **Catalog rule:** a series is created in
    the first batch where it has a valid value; an all-empty column
    or the empty cell after a trailing ';' creates nothing.
    **Failure policy** (ST7): a read or write failure moves the files
    to ``failed_dir`` and re-raises (the stream retries the batch); a
    catalog or latest-store failure re-raises and leaves them in place.
    """
    if not paths:
        return {"files": 0, "datapoints": 0, "series": 0, "new_series": 0}
    try:
        dp = read_datapoints(spark, paths)
        obs = Observation("ingest_metrics")
        write_datapoints(
            dp.observe(
                obs,
                F.count(F.lit(1)).alias("datapoints"),
                F.collect_set(F.struct("external_id", "name")).alias("series"),
            ),
            str(sink_dir),
        )
        metrics = obs.get
    except Exception:
        if failed_dir is not None:
            quarantine_failed(paths, failed_dir)
        raise
    observed = spark.createDataFrame(
        metrics["series"], "external_id string, name string"
    )
    n_new = append_missing(spark, observed, catalog_path)
    if latest_store_path is not None:
        # Serving index: fold this batch's newest point per series
        # into the bucketed upsert store, so 'latest value' reads are
        # an O(store) point lookup instead of a full-history scan.
        # The batch pre-reduces to one candidate per series (the same
        # max_by shape the store's merge applies), version-ordered by
        # (ts_ms, value) for a deterministic same-timestamp tie, and
        # is checkpointed: the store's census and merge skip the CSVs.
        from datapoints_csv_extractor_spark.sinks.merge_store import (
            upsert_into_store,
        )

        latest = (
            dp.groupBy("external_id")
            .agg(
                F.max("ts_ms").alias("ts_ms"),
                F.max_by(
                    "value", F.struct(F.col("ts_ms"), F.col("value"))
                ).alias("value"),
            )
            .withColumn("deleted", F.lit(False))
            .localCheckpoint()
        )
        upsert_into_store(
            spark, latest, latest_store_path,
            keys=["external_id"], version_cols=["ts_ms", "value"],
        )
    finalize_succeeded(paths, finished_dir, delete=delete_on_success)
    return {
        "files": len(paths),
        "datapoints": int(metrics["datapoints"]),
        "series": len({r.external_id for r in metrics["series"]}),
        "new_series": n_new,
    }


def start_live_ingest(
    spark: SparkSession,
    input_dir: str | Path,
    sink_dir: str | Path,
    catalog_path: str | Path,
    checkpoint_dir: str | Path,
    trigger: str | None = LIVE_TRIGGER,
    available_now: bool = False,
    max_files_per_trigger: int = LIVE_MAX_FILES_PER_TRIGGER,
    delete_on_success: bool = False,
    settle_seconds: float = SETTLE_SECONDS,
    on_batch: Callable[[int, dict[str, int]], None] | None = None,
    latest_store_path: str | None = None,
) -> StreamingQuery:
    """Start the live-mode stream (entry point 2, main.py --live).

    ``available_now=True`` drains the current folder contents then
    stops — the batch-test / catch-up mode; call ``flush_pending``
    afterwards to pick up files the settle guard deferred. ``on_batch``
    is an optional metrics hook (C3's Prometheus push becomes the
    caller's concern).
    """
    finished_dir, failed_dir = setup_directories(input_dir)
    pending = _load_pending(checkpoint_dir)

    files = (
        spark.readStream.format("text")
        .option("pathGlobFilter", "*.csv")
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .option("latestFirst", "true")
        .load(str(input_dir))
        # Only the arrival log matters; content is re-read (correctly
        # latin-1-decoded) by the batch plan inside foreachBatch.
        .select(F.input_file_name().alias("file"))
    )

    def _handle(batch_df: DataFrame, batch_id: int) -> None:
        # ST3: merge this trigger's new files with previously deferred
        # ones; only files whose mtime is >= settle_seconds old are
        # parsed. A just-listed file gets its settle window inline
        # (one bounded sleep, then re-stat): if its mtime is STILL
        # fresh the writer is actively appending, so it defers to a
        # later trigger via the sidecar (persisted BEFORE processing,
        # so a crash re-defers rather than drops).
        candidates = {str(p) for p in _batch_paths(batch_df)} | pending
        settled, unsettled = split_settled(
            [Path(p) for p in sorted(candidates)], settle_seconds
        )
        if unsettled:
            time.sleep(settle_seconds)
            more, unsettled = split_settled(unsettled, settle_seconds)
            settled += more
        pending.clear()
        pending.update(str(p) for p in unsettled)
        store_commit.write_json(_pending_file(checkpoint_dir), sorted(pending))
        stats = process_batch(
            spark,
            settled,
            sink_dir=sink_dir,
            catalog_path=catalog_path,
            finished_dir=finished_dir,
            failed_dir=failed_dir,
            delete_on_success=delete_on_success,
            latest_store_path=latest_store_path,
        )
        stats["deferred_unsettled"] = len(unsettled)
        # A real FILE count for the available_csv_files gauge (this
        # trigger's candidate set: newly listed + previously deferred).
        stats["available_files"] = len(candidates)
        if on_batch is not None:
            on_batch(batch_id, stats)

    writer = (
        files.writeStream.foreachBatch(_handle)
        .option("checkpointLocation", str(checkpoint_dir))
        .queryName("tebis_live_ingest")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger:
        writer = writer.trigger(processingTime=trigger)
    return writer.start()


def flush_pending(
    spark: SparkSession,
    input_dir: str | Path,
    sink_dir: str | Path,
    catalog_path: str | Path,
    checkpoint_dir: str | Path,
    delete_on_success: bool = False,
    settle_seconds: float = SETTLE_SECONDS,
    max_wait: float = 30.0,
) -> dict[str, int]:
    """Process files the settle guard deferred (drain-mode epilogue).

    An availableNow drain can end with files parked in the sidecar
    (they were listed mid-write); the file source won't re-emit them —
    its checkpoint already marks them seen — so a drain caller flushes
    them here once they settle. Waits up to ``max_wait`` seconds for
    stragglers, then processes whatever settled."""
    finished_dir, failed_dir = setup_directories(input_dir)
    deadline = time.time() + max_wait
    stats = {"files": 0, "datapoints": 0, "series": 0, "new_series": 0}
    while True:
        pending = _load_pending(checkpoint_dir)
        if not pending:
            return stats
        settled, unsettled = split_settled(
            [Path(p) for p in sorted(pending)], settle_seconds
        )
        if settled:
            batch = process_batch(
                spark,
                settled,
                sink_dir=sink_dir,
                catalog_path=catalog_path,
                finished_dir=finished_dir,
                failed_dir=failed_dir,
                delete_on_success=delete_on_success,
            )
            for key in stats:
                stats[key] += batch[key]
        store_commit.write_json(
            _pending_file(checkpoint_dir), sorted({str(p) for p in unsettled})
        )
        if not unsettled or time.time() >= deadline:
            return stats
        time.sleep(min(settle_seconds, max(0.0, deadline - time.time())))
