"""Persistent time-series catalog (S6 load + S8 create-if-missing).

The reference holds the catalog in a driver dict fetched once
(csv_extractor.py:53-67) and created-into on miss (:107-112,:151-154).
Here the catalog is a small parquet dimension table:

- ``load_catalog`` -> the dimension DataFrame (empty-but-typed when
  the store doesn't exist yet), always broadcastable downstream.
- ``append_missing`` -> the per-batch upsert: distinct observed ids,
  broadcast LEFT ANTI vs the store, append only the new rows. The
  check-then-append critical section is serialized by
  ``store_commit.lock`` (an exclusive lock file), so concurrent writers
  converge to the union instead of double-creating series that race
  the membership probe. A transactional table format's MERGE (Delta/
  Iceberg) is the production-grade replacement at fleet scale; the
  lock file keeps plain parquet correct for a handful of writers.
"""

from __future__ import annotations

import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from datapoints_csv_extractor_spark.sinks import store_commit
from datapoints_csv_extractor_spark.sources.catalog import (
    CATALOG_COLUMNS,
    missing_series,
)

CATALOG_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType()) for c in CATALOG_COLUMNS]
)


def load_catalog(spark: SparkSession, path: str | Path) -> DataFrame:
    """Catalog dimension from the store; typed-empty if absent (S6)."""
    if not Path(path).exists():
        return spark.createDataFrame([], CATALOG_SCHEMA)
    return spark.read.schema(CATALOG_SCHEMA).parquet(str(path))


def load_catalog_with_retry(
    spark: SparkSession,
    path: str | Path,
    max_attempts: int = 10,
    sleep=time.sleep,
) -> DataFrame:
    """S6 retry parity: attempt the catalog load up to ``max_attempts``
    times with LINEAR backoff (sleep 1s, 2s, ... like
    csv_extractor.py:55-65), then raise SystemExit(1) as the reference
    does — a missing catalog store at startup is fatal, a flaky one is
    retried. The load is validated by forcing schema resolution +
    a 1-row probe (parquet footer read), the local analog of the
    reference's remote fetch."""
    last_error: Exception | None = None
    for attempt in range(1, max_attempts + 1):
        try:
            df = load_catalog(spark, path)
            df.limit(1).collect()
            return df
        except SystemExit:
            raise
        except Exception as exc:  # transient store/read failure
            last_error = exc
            if attempt < max_attempts:
                sleep(attempt)
    raise SystemExit(1) from last_error


def append_missing(
    spark: SparkSession, datapoints: DataFrame, path: str | Path
) -> int:
    """Create-if-missing upsert (J1 + S8); returns #series created.

    ``datapoints`` carries ``external_id`` and ``name``; the ingest
    passes the local set of pairs its write job observed, so the only
    files read here are the catalog store's own. The new rows (at most
    one per series of the batch) are collected once: their count is
    the return value and the append writes them as one file.

    The load-probe-append sequence holds ``store_commit.lock`` so two
    writers can't both miss the same series and append it twice —
    interleaved appends converge to the union of their series.
    """
    with store_commit.lock(path):
        catalog = load_catalog(spark, path)
        new_rows = missing_series(datapoints, catalog).collect()
        if new_rows:
            new = spark.createDataFrame(new_rows, CATALOG_SCHEMA).coalesce(1)
            new.write.mode("append").parquet(str(path))
        return len(new_rows)
