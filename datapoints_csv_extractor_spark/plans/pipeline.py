"""End-to-end pipelines: the reference's two entry points, Spark-first.

- ``run_historical`` = entry point 1 (main.py:80-123 with
  live_mode=False): prune files by filename timestamp and hand them
  all to ``streaming.live.process_batch`` — the batch function of live
  mode too, which states the catalog rule and failure policy — as ONE
  batch. The reference's 20-file flush barrier (C2) and thread fan-out
  (C1) disappear — Spark's task scheduler IS the pipeline.
- ``run_live`` = entry point 2 (main.py --live): delegates to
  streaming.live.start_live_ingest (Structured Streaming, 8 s trigger).

Also hosts ``ingest_metrics`` — the reference's A1-A4 metric
aggregates (SURVEY.md §2.6) as one grouped query over the ingest
output instead of driver-side counters.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from datapoints_csv_extractor_spark.sinks.lifecycle import setup_directories
from datapoints_csv_extractor_spark.sources.files import find_historical_files
from datapoints_csv_extractor_spark.streaming.live import (
    process_batch,
    start_live_ingest,
)


def ingest_metrics(datapoints: DataFrame) -> DataFrame:
    """Per-file ingest metrics (A1 count, A2 distinct series) + totals.

    One grouped aggregation with ROLLUP gives each file's counters AND
    the batch totals (A3/A4 analogs) in a single shuffle; the reference
    accumulates the same numbers in driver-side variables
    (csv_extractor.py:133-134,159-160,194).
    """
    return (
        datapoints.rollup("source_file")
        .agg(
            F.count(F.lit(1)).alias("n_datapoints"),
            F.countDistinct("external_id").alias("n_series"),
        )
        .withColumn("source_file", F.coalesce("source_file", F.lit("ALL")))
    )


def run_historical(
    spark: SparkSession,
    input_dir: str | Path,
    sink_dir: str | Path,
    catalog_path: str | Path,
    time_from: int | None = None,
    time_until: int | None = None,
    delete_on_success: bool = False,
) -> dict[str, int]:
    """Historical batch run; returns the batch stats of ``process_batch``.

    The reference processes files serially in ascending-ts order with a
    flush every 20 (csv_extractor.py:206-236). Order only matters there
    because the catalog dict mutates mid-run; our catalog upsert is a
    set-union over the WHOLE batch (deterministic via min(name) —
    sources/catalog.py), so all files ingest as one unordered
    distributed batch without changing any outcome.
    """
    finished_dir, failed_dir = setup_directories(input_dir)
    paths = find_historical_files(input_dir, time_from, time_until)
    return process_batch(
        spark, paths, sink_dir, catalog_path, finished_dir, failed_dir,
        delete_on_success=delete_on_success,
    )


def run_live(
    spark: SparkSession,
    input_dir: str | Path,
    sink_dir: str | Path,
    catalog_path: str | Path,
    checkpoint_dir: str | Path,
    **kwargs,
) -> StreamingQuery:
    """Live run (entry point 2); see streaming/live.py for semantics."""
    return start_live_ingest(
        spark, input_dir, sink_dir, catalog_path, checkpoint_dir, **kwargs
    )


def run_rollup(
    spark: SparkSession,
    datapoints_dir: str | Path,
    rollup_dir: str | Path,
    checkpoint_dir: str | Path,
    window: str = "1 minute",
    watermark: str = "2 minutes",
    available_now: bool = True,
    trigger: str | None = None,
):
    """Continuous aggregation: maintain a rollup table from the raw
    datapoints sink (the hypertable continuous-aggregate pattern).

    Chains off streaming/live.py's output: the raw table is the
    hand-off point, so ingest and rollup scale, fail, and checkpoint
    independently (one writer, N derived tables). Append mode means
    each window lands in the rollup table exactly once, when the
    watermark closes it — downstream dashboards read plain parquet
    with no dedup logic. Returns the StreamingQuery.
    """
    from datapoints_csv_extractor_spark.streaming.aggregates import (
        stream_datapoints,
        windowed_rollup,
    )

    rolled = windowed_rollup(
        stream_datapoints(spark, str(datapoints_dir)),
        window=window,
        watermark=watermark,
    )
    writer = (
        rolled.writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(rollup_dir))
        .option("checkpointLocation", str(checkpoint_dir))
        .queryName("datapoints_rollup")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger:
        writer = writer.trigger(processingTime=trigger)
    return writer.start()
