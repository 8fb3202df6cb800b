"""Time-series catalog dimension: load + create-if-missing upsert.

The reference fetches the whole catalog once into a dict
(csv_extractor.py:53-67) and, per value column, creates a TimeSeries
with an auto description when the external_id is unknown
(csv_extractor.py:107-112, trigger :151-154), mutating the dict.

Spark-first: the catalog is a small dimension DataFrame; "membership
probe + create" becomes one grouped min(name) + broadcast LEFT ANTI
join (SURVEY.md §2.5 J1). The store-side upsert (`sinks/catalog_store.py:
append_missing`) serializes concurrent writers with an exclusive lock
file; a transactional table format's MERGE remains the fleet-scale
upgrade (SURVEY.md §7 "what's hard" #5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

AUTO_DESCRIPTION = "Auto-generated time series, external ID not found"

CATALOG_COLUMNS = ["external_id", "name", "description"]


def missing_series(datapoints: DataFrame, catalog: DataFrame) -> DataFrame:
    """Series observed in the datapoints but absent from the catalog.

    ``datapoints`` needs only ``external_id`` and ``name``: the ingest
    passes the small set of pairs its write job observed, not the
    parsed batch (streaming/live.py:process_batch).

    ``groupBy(external_id).min(name)`` makes the representative name
    deterministic (the reference takes whichever file it parses first —
    order-dependent; we pin min() and test it). The catalog is the
    small build side -> broadcast anti join, no shuffle of the fact.
    """
    observed = datapoints.groupBy("external_id").agg(F.min("name").alias("name"))
    return (
        observed.join(
            F.broadcast(catalog.select("external_id")), "external_id", "left_anti"
        )
        .withColumn("description", F.lit(AUTO_DESCRIPTION))
        .select(*CATALOG_COLUMNS)
    )

