"""Maintained (incremental) SCD2 dimension store.

The batch operator (operators/relational.py: scd2_history) recomputes
a type-2 history from the full event log; a production dimension is
MAINTAINED — each day's (or micro-batch's) events fold into persisted
state without rescanning history.

Design (exactness under out-of-order arrival):

    persist EVENTS, derive the SCD2 view at read time,
    and compress only behind a watermark.

Naively persisting just the change points is NOT exact: change-point
compression discards the interior events of an attribute run, so a
late event with a different attribute landing inside a stored run
has no witness left to REOPEN the run. fold [a@Jan1, a@Jan10,
b@Jan20] then late b@Jan5 must yield 4 versions (a,b,a,b) — with
change points only, the Jan10 'a' was discarded and the store would
collapse to 2. (Storing each run's last event as a witness is also
inexact: the reopen would land on the witness's timestamp instead of
the true first post-gap event.) So the fold stores the events
themselves, keyed (user_id, ts, event_id) with latest-wins
versioning on the fold sequence; change points, version numbers,
valid_to, and is_current are all derived by per-user windows at read
time, so the view is exact for ANY arrival order — a replayed or
late batch folds into the same final state as the batch recompute
over the full log.

Compression still exists, but as an explicit, watermark-gated
maintenance job (``compact_scd2_store``): events strictly below a
caller-asserted event-time watermark are FINAL, so replacing that
region by its change points preserves every transition — including
across the boundary (the region's trailing run keeps its opening
event, so a first post-watermark event with the same attribute is
correctly absorbed at read time). The watermark is persisted with
the store; after compaction, ``scd2_fold`` enforces it — a batch row
older than the watermark would land in compressed (witness-free)
territory, so it is rejected per ``on_late`` ("error" by default,
"drop" for streaming-style bounded lateness). Before any compaction
there is no watermark and every arrival order is welcome.

Persistence rides the merge store (sinks/merge_store.py), giving
snapshots, time travel, CDF, and vacuum for free, and
O(delta + affected buckets) per fold. Replaying a fold (foreachBatch
is at-least-once) recomputes the identical delta against the
identical snapshot — effectively-once.

Scale: per-fold work is one scan of the batch + the merge store's
bucket-bounded rewrite (no read-modify of other users' state at all —
the fold is a pure keyed upsert). Read-time work is one per-user
window over the stored events; the compaction job bounds that store
to (change points below watermark) + (raw events above it), the same
shape a Delta/Hudi MOR table keeps. Nothing rescans the raw event
log, ever.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from datapoints_csv_extractor_spark.sinks import store_commit
from datapoints_csv_extractor_spark.sinks.merge_store import (
    _read_manifest,
    bucket_expr,
    latest_version,
    read_store,
    upsert_into_store,
)


def _change_points(ev: DataFrame) -> DataFrame:
    """(user_id, ts, event_id, attr) -> the rows opening a new
    attribute run, per user in (ts, event_id) order."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_attr", F.lag("attr").over(w))
        .where(F.col("prev_attr").isNull() | (F.col("attr") != F.col("prev_attr")))
        .drop("prev_attr")
    )


def _watermark_path(store_path: str) -> str:
    return os.path.join(store_path, "_scd2_watermark.json")


def store_watermark(store_path: str):
    """The persisted compaction watermark (ISO string) or None if the
    store has never been compacted (every arrival order is exact)."""
    return store_commit.read_json(
        _watermark_path(store_path), {"watermark": None}
    )["watermark"]


def scd2_fold(
    spark: SparkSession,
    store_path: str,
    events: DataFrame,
    attr: Column,
    fold_seq: int,
    n_buckets: int = 64,
    on_late: str = "error",
) -> list[int]:
    """Fold one batch of events into the persisted SCD2 event store.
    ``events`` carries (user_id, ts, event_id) plus whatever ``attr``
    reads; ``fold_seq`` is the monotone fold number (batch id in
    streaming) used as the latest-wins version. Exact under ANY
    arrival order until the store is compacted; after compaction,
    rows older than the persisted watermark are handled per
    ``on_late`` ("error" raises, "drop" excludes them — the streaming
    bounded-lateness contract). Returns the bucket ids the merge
    store rewrote."""
    batch = events.select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_id",
        attr.alias("attr"),
    )
    wm = store_watermark(store_path)
    if wm is not None:
        late = F.col("ts") < F.lit(wm).cast("timestamp")
        if on_late == "drop":
            batch = batch.where(~late)
        else:
            n_late = batch.where(late).limit(1).count()
            if n_late:
                raise ValueError(
                    f"batch contains events older than the store's "
                    f"compaction watermark {wm}; that region was "
                    f"compressed to change points and can no longer "
                    f"absorb late rows exactly. Pass on_late='drop' "
                    f"to apply bounded-lateness semantics."
                )
    # Batch rows WIN over stored ones for the same (user, ts, event)
    # key — the merge store's latest-wins on fold_seq makes an amended
    # attribute take effect and a pure replay a no-op. Within one
    # batch, duplicate keys resolve by max(attr): arbitrary but
    # DETERMINISTIC (dropDuplicates' pick is partition-order
    # nondeterministic, which would break replay convergence).
    delta = (
        batch.groupBy("user_id", "ts", "event_id")
        .agg(F.max("attr").alias("attr"))
        .withColumn("deleted", F.lit(False))
        .withColumn("fold_seq", F.lit(fold_seq).cast("long"))
    )
    return upsert_into_store(
        spark,
        delta,
        store_path,
        keys=["user_id", "ts", "event_id"],
        version_cols=["fold_seq"],
        n_buckets=n_buckets,
    )


def scd2_read(
    spark: SparkSession, store_path: str, attr_name: str = "attr"
) -> DataFrame:
    """The SCD2 view over the stored events: change points, versions,
    [valid_from, valid_to) intervals, is_current — derived by
    per-user windows, so the view equals the batch scd2_history over
    the union of every folded batch, regardless of the order the
    batches (or the rows within them) arrived."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cp = _change_points(read_store(spark, store_path))
    return cp.select(
        "user_id",
        F.col("attr").alias(attr_name),
        F.row_number().over(w).alias("version"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


def compact_scd2_store(
    spark: SparkSession,
    store_path: str,
    watermark,
    fold_seq: int,
    n_buckets: int = 64,
) -> int:
    """Compress the finalized region: tombstone every stored event
    with ts < ``watermark`` that is not a change point. The caller
    asserts (watermark semantics) that no event older than
    ``watermark`` will ever arrive; the watermark is persisted and
    enforced by subsequent folds. Exact: the surviving rows are a
    subsequence preserving every attribute transition, including the
    boundary into the raw (>= watermark) region, because each run
    keeps its OPENING event. Returns the number of rows tombstoned.

    Scale: one scan + one per-user window over the store (a
    maintenance job, amortized), then a bucket-bounded tombstone
    upsert — never touches the raw event log."""
    wm_lit = F.lit(watermark).cast("timestamp")
    ev = read_store(spark, store_path).select(
        "user_id", "ts", "event_id", "attr"
    )
    keep = _change_points(ev).select("user_id", "ts", "event_id")
    # The tombstone count AND the affected-bucket census ride the
    # checkpoint's own job as observed metrics — one action where
    # there were three (count + checkpoint + the upsert's census;
    # guide §5, the lifecycle's wall is job-count-bound at demo
    # scale). The bucket expression is the store's own (same keys,
    # the MANIFEST's n_buckets), which is the affected_hint contract.
    keys = ["user_id", "ts", "event_id"]
    eff_buckets = _read_manifest(store_path)["n_buckets"] or n_buckets
    bucket = bucket_expr(keys, eff_buckets)
    obs = Observation()
    dead = (
        ev.where(F.col("ts") < wm_lit)
        .join(keep, ["user_id", "ts", "event_id"], "left_anti")
        .withColumn("deleted", F.lit(True))
        .withColumn("fold_seq", F.lit(fold_seq).cast("long"))
        .observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.collect_set(bucket).alias("affected"),
        )
        .localCheckpoint()
    )
    got = obs.get
    n_dead = got["n"]
    if n_dead:
        upsert_into_store(
            spark,
            dead,
            store_path,
            keys=keys,
            version_cols=["fold_seq"],
            n_buckets=n_buckets,
            affected_hint=[int(b) for b in got["affected"]],
        )
    store_commit.write_json(
        _watermark_path(store_path),
        {"watermark": str(watermark), "fold_seq": fold_seq},
    )
    return n_dead


def stream_scd2_fold(
    events_stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    attr: Column,
    on_batch=None,
    available_now: bool = True,
    on_late: str = "error",
):
    """Streaming maintenance of the SCD2 store: each micro-batch folds
    under ``fold_seq=batch_id``, so a replayed batch recomputes the
    identical delta and the store state converges — effectively-once
    on top of foreachBatch's at-least-once."""

    def _handle(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        spark = batch_df.sparkSession
        buckets = scd2_fold(
            spark, store_path, batch_df, attr, batch_id, on_late=on_late
        )
        if on_batch is not None:
            on_batch(batch_id, buckets)

    writer = (
        events_stream.writeStream.foreachBatch(_handle)
        .option("checkpointLocation", str(checkpoint_dir))
        .queryName("scd2_store_fold")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def q_scd2_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing: fold the events table into a fresh scratch SCD2
    store in two halves (by event time), compact the first half's
    region behind a watermark, then read the maintained view back.
    Because the event fold is exact and compaction preserves every
    transition, the read-back equals the batch scd2_history over the
    full log — so this INCREMENTAL operator shares q_scd2_history's
    oracle verbatim.

    The scratch store is a private mkdtemp per call, removed after the
    result is localCheckpoint-materialized (q_dedup_incremental's
    lifecycle discipline)."""
    import shutil
    import tempfile

    from datapoints_csv_extractor_spark.operators.relational import load

    store = tempfile.mkdtemp(prefix="spark_graft_scd2store_")
    try:
        # localCheckpoint: the demo's three consumers (percentile
        # scalar + two folds) otherwise each re-scan and re-cast the
        # events parquet — at demo scale the extra scans are pure
        # stage-count overhead.
        # The percentile cut rides the checkpoint's materialization as
        # an observed metric — one action instead of two (guide §5).
        obs = Observation()
        ev = (
            load(spark, sf_dir, "events")
            .select(
                "user_id",
                F.col("ts").cast("timestamp").alias("ts"),
                "event_id",
                "event_type",
            )
            .observe(
                obs,
                F.expr(
                    "percentile_approx(unix_timestamp(ts), 0.5)"
                ).alias("cut"),
            )
            .localCheckpoint()
        )
        cut = obs.get["cut"]
        first = ev.where(F.unix_timestamp("ts") <= cut)
        second = ev.where(F.unix_timestamp("ts") > cut)
        # 4 buckets: the testdata store is MB-scale, and each fold's
        # cost is stage-count-dominated — fewer bucket dirs cut the
        # demo's wall time (64 -> 16 measured 2x in round 7, -> 8
        # another ~10%, -> 4 a further ~0.8 s in round 8; 4 -> 2
        # measured flat). Production sizing belongs to the caller via
        # n_buckets. The second fold passes on_late="drop": its slice
        # is > watermark by construction, so drop == error behavior
        # here, and it skips the late-probe count action (the error
        # path stays pinned by the store's own pytest).
        scd2_fold(spark, store, first, F.col("event_type"), fold_seq=1,
                  n_buckets=4)
        # The watermark is the CALLER'S assertion, and compaction is
        # exactness-preserving for ANY asserted value (module
        # docstring), so the cut itself serves: every first-half event
        # has unix_timestamp(ts) <= cut (ts < cut+1 s) and every
        # second-half event has ts >= cut+1 s > wm, so fold 2 is never
        # late. This replaces a max(ts) aggregation over the first
        # half — one whole action, and at scale one whole pass over
        # the events slice — with a literal already in hand.
        from datetime import datetime, timezone

        wm = datetime.fromtimestamp(int(cut), tz=timezone.utc).replace(
            tzinfo=None
        )
        compact_scd2_store(spark, store, wm, fold_seq=2, n_buckets=4)
        scd2_fold(spark, store, second, F.col("event_type"), fold_seq=3,
                  n_buckets=4, on_late="drop")
        out = (
            scd2_read(spark, store, "event_type")
            .orderBy("user_id", "version")
            .localCheckpoint()
        )
        return out
    finally:
        shutil.rmtree(store, ignore_errors=True)
