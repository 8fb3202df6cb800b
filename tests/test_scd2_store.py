"""Maintained SCD2 store: the incremental fold must equal the batch
recompute under out-of-order arrival, absorption, replays, and
streaming restarts."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from datapoints_csv_extractor_spark.operators.relational import scd2_history
import pytest

from datapoints_csv_extractor_spark.plans.scd2_store import (
    compact_scd2_store,
    scd2_fold,
    scd2_read,
    store_watermark,
    stream_scd2_fold,
)

d = dt.datetime


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )


def _view(spark, store):
    return {
        (r.user_id, r.version): (r.event_type, r.valid_from, r.valid_to,
                                 r.is_current)
        for r in scd2_read(spark, store, "event_type").collect()
    }


def _batch_truth(spark, all_rows):
    hist = scd2_history(
        _ev(spark, all_rows), F.col("event_type"), "event_type"
    )
    return {
        (r.user_id, r.version): (r.event_type, r.valid_from, r.valid_to,
                                 r.is_current)
        for r in hist.collect()
    }


def test_scd2_fold_absorbs_out_of_order_change(spark, tmp_path):
    store = str(tmp_path / "scd2")
    b1 = [
        (1, d(2024, 1, 1), 1, "a"),
        (1, d(2024, 1, 10), 2, "b"),  # change point a->b
        (1, d(2024, 1, 20), 3, "a"),  # change point b->a
    ]
    scd2_fold(spark, store, _ev(spark, b1), F.col("event_type"), 1)
    # Out-of-order arrival on Jan 5 with attr 'b': it opens b EARLIER,
    # so the stored Jan-10 'b' change point is ABSORBED (b repeats).
    b2 = [(1, d(2024, 1, 5), 9, "b")]
    scd2_fold(spark, store, _ev(spark, b2), F.col("event_type"), 2)
    got = _view(spark, store)
    assert got == _batch_truth(spark, b1 + b2)
    # The absorbed point is really gone: 3 versions, b starts Jan 5.
    assert len(got) == 3
    assert got[(1, 2)][0] == "b" and got[(1, 2)][1] == d(2024, 1, 5)


def test_scd2_fold_late_event_splits_a_run(spark, tmp_path):
    # The change-point-compression trap: a late 'b' landing INSIDE the
    # stored a-run must REOPEN it — the Jan-10 'a' becomes a change
    # point again and the Jan-20 'b' stays a separate version. A store
    # persisting only change points loses both (2 versions, not 4).
    store = str(tmp_path / "scd2")
    b1 = [
        (1, d(2024, 1, 1), 1, "a"),
        (1, d(2024, 1, 10), 2, "a"),  # interior of the a-run
        (1, d(2024, 1, 20), 3, "b"),
    ]
    scd2_fold(spark, store, _ev(spark, b1), F.col("event_type"), 1)
    b2 = [(1, d(2024, 1, 5), 9, "b")]  # late, splits the a-run
    scd2_fold(spark, store, _ev(spark, b2), F.col("event_type"), 2)
    got = _view(spark, store)
    assert got == _batch_truth(spark, b1 + b2)
    assert len(got) == 4  # a@Jan1, b@Jan5, a@Jan10, b@Jan20
    assert got[(1, 3)][0] == "a" and got[(1, 3)][1] == d(2024, 1, 10)


def test_scd2_compaction_hint_matches_the_census_path(spark, tmp_path, monkeypatch):
    """compact_scd2_store hands upsert_into_store the buckets it
    observed with the store's own bucket expression; the store it
    leaves holds the same rows as an upsert that takes its own bucket
    census instead."""
    from datapoints_csv_extractor_spark.plans import scd2_store as S
    from datapoints_csv_extractor_spark.sinks.merge_store import read_store

    rows = [
        (u, d(2024, 1, day), u * 100 + day, "ab"[(day // 3) % 2])
        for u in range(1, 6)
        for day in range(1, 13)
    ]

    def compacted(name):
        store = str(tmp_path / name)
        scd2_fold(spark, store, _ev(spark, rows), F.col("event_type"), 1,
                  n_buckets=8)
        assert compact_scd2_store(spark, store, d(2024, 1, 10), fold_seq=2,
                                  n_buckets=8) > 0
        return sorted(tuple(r) for r in read_store(spark, store).collect())

    hinted = compacted("hinted")
    real_upsert = S.upsert_into_store

    def census_upsert(*args, affected_hint=None, **kwargs):
        return real_upsert(*args, **kwargs)

    monkeypatch.setattr(S, "upsert_into_store", census_upsert)
    assert compacted("census") == hinted


def test_scd2_compaction_is_exact_and_guards_late_rows(spark, tmp_path):
    store = str(tmp_path / "scd2")
    b1 = [
        (1, d(2024, 1, 1), 1, "a"),
        (1, d(2024, 1, 3), 2, "a"),  # interior: compaction drops it
        (1, d(2024, 1, 10), 3, "b"),
        (2, d(2024, 1, 4), 4, "x"),
    ]
    scd2_fold(spark, store, _ev(spark, b1), F.col("event_type"), 1)
    assert store_watermark(store) is None
    n = compact_scd2_store(spark, store, d(2024, 1, 15), fold_seq=2)
    assert n == 1  # only the interior Jan-3 'a'
    assert store_watermark(store) is not None
    # Post-compaction view still equals the batch truth (boundary run
    # kept its opening event).
    assert _view(spark, store) == _batch_truth(spark, b1)
    # A post-watermark fold with SAME attr as the trailing run is
    # absorbed at read time — still exact.
    b2 = [(1, d(2024, 1, 20), 5, "b"), (2, d(2024, 1, 21), 6, "y")]
    scd2_fold(spark, store, _ev(spark, b2), F.col("event_type"), 3)
    assert _view(spark, store) == _batch_truth(spark, b1 + b2)
    # A row older than the watermark is rejected (compressed territory
    # has no witnesses left) ...
    late = [(1, d(2024, 1, 2), 7, "b")]
    with pytest.raises(ValueError, match="watermark"):
        scd2_fold(spark, store, _ev(spark, late), F.col("event_type"), 4)
    # ... or dropped under the bounded-lateness policy, leaving state
    # untouched.
    before = _view(spark, store)
    scd2_fold(spark, store, _ev(spark, late), F.col("event_type"), 4,
              on_late="drop")
    assert _view(spark, store) == before


def test_scd2_fold_replay_is_noop_and_untouched_users_stay(spark, tmp_path):
    store = str(tmp_path / "scd2")
    b1 = [
        (1, d(2024, 1, 1), 1, "a"),
        (2, d(2024, 1, 2), 2, "x"),
        (2, d(2024, 1, 3), 3, "y"),
    ]
    scd2_fold(spark, store, _ev(spark, b1), F.col("event_type"), 1)
    before = _view(spark, store)
    # Replay the same fold (at-least-once delivery): state unchanged.
    scd2_fold(spark, store, _ev(spark, b1), F.col("event_type"), 1)
    assert _view(spark, store) == before
    # A fold touching only user 1 leaves user 2's history intact.
    b2 = [(1, d(2024, 2, 1), 9, "b")]
    scd2_fold(spark, store, _ev(spark, b2), F.col("event_type"), 2)
    got = _view(spark, store)
    assert got == _batch_truth(spark, b1 + b2)
    assert got[(2, 1)] == before[(2, 1)] and got[(2, 2)] == before[(2, 2)]


def test_stream_scd2_fold_across_restarts(spark, tmp_path):
    src = tmp_path / "events"
    src.mkdir()
    store = str(tmp_path / "scd2")
    ckpt = str(tmp_path / "ckpt")
    b1 = [(1, d(2024, 1, 1), 1, "a"), (1, d(2024, 1, 10), 2, "b")]
    _ev(spark, b1).coalesce(1).write.mode("append").parquet(str(src))

    def run():
        stream = spark.readStream.schema(
            "user_id long, ts timestamp, event_id long, event_type string"
        ).parquet(str(src))
        q = stream_scd2_fold(stream, store, ckpt, F.col("event_type"))
        q.awaitTermination(120)

    run()
    assert _view(spark, store) == _batch_truth(spark, b1)
    # Second run processes only the NEW shard (file-source checkpoint).
    b2 = [(1, d(2024, 1, 5), 9, "b")]  # absorbs the Jan-10 change
    _ev(spark, b2).coalesce(1).write.mode("append").parquet(str(src))
    run()
    assert _view(spark, store) == _batch_truth(spark, b1 + b2)
