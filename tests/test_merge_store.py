"""Hash-bucket-partitioned upsert store: MERGE INTO semantics, bucket
locality, delete cleanup, replay idempotence, and the live pipeline's
latest-value store."""
from __future__ import annotations

import datetime as dt
import os
import time

from pyspark.sql import functions as F

from datapoints_csv_extractor_spark.sinks.merge_store import (
    read_store,
    upsert_into_store,
)

SCHEMA = (
    "k string, ts timestamp, seq long, v double, deleted boolean"
)


def _delta(spark, rows):
    return spark.createDataFrame(
        [
            (k, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m), s, v, d)
            for (k, m, s, v, d) in rows
        ],
        SCHEMA,
    )


def _state(spark, path):
    return {
        r["k"]: (r["v"], r["seq"]) for r in read_store(spark, path).collect()
    }


def test_merge_store_upsert_delete_and_replay(spark, tmp_path):
    store = str(tmp_path / "store")
    b1 = _delta(
        spark,
        [("a", 0, 0, 1.0, False), ("b", 0, 1, 2.0, False),
         ("c", 0, 2, 3.0, False)],
    )
    upsert_into_store(
        spark, b1, store, keys=["k"], version_cols=["ts", "seq"]
    )
    assert _state(spark, store) == {
        "a": (1.0, 0), "b": (2.0, 1), "c": (3.0, 2)
    }

    b2 = _delta(
        spark,
        [("a", 5, 3, 10.0, False),   # update
         ("b", 5, 4, 0.0, True),     # delete
         ("d", 5, 5, 40.0, False)],  # insert
    )
    affected = upsert_into_store(
        spark, b2, store, keys=["k"], version_cols=["ts", "seq"]
    )
    expected = {"a": (10.0, 3), "c": (3.0, 2), "d": (40.0, 5)}
    assert _state(spark, store) == expected

    # replay of the same batch: idempotent, same state, same buckets
    assert upsert_into_store(
        spark, b2, store, keys=["k"], version_cols=["ts", "seq"]
    ) == affected
    assert _state(spark, store) == expected


def test_merge_store_touches_only_affected_buckets(spark, tmp_path):
    """A delta must produce NEW generation directories only for the
    buckets its keys hash into — every other bucket's manifest entry
    (and directory) carries over untouched: the O(affected) locality
    claim read straight off the commit."""
    from datapoints_csv_extractor_spark.sinks.merge_store import (
        _read_manifest,
    )

    store = str(tmp_path / "store")
    seed = _delta(
        spark, [(f"k{i}", 0, i, float(i), False) for i in range(40)]
    )
    upsert_into_store(
        spark, seed, store, keys=["k"], version_cols=["ts", "seq"]
    )
    before = _read_manifest(store)["buckets"]
    affected = upsert_into_store(
        spark, _delta(spark, [("k0", 9, 99, 123.0, False)]),
        store, keys=["k"], version_cols=["ts", "seq"],
    )
    assert len(affected) == 1
    after = _read_manifest(store)["buckets"]
    changed = {b for b in before if after.get(b) != before[b]}
    assert changed == {str(affected[0])}
    assert set(after) == set(before)
    assert _state(spark, store)["k0"] == (123.0, 99)


def test_merge_store_deleting_whole_bucket_drops_manifest_entry(spark, tmp_path):
    from datapoints_csv_extractor_spark.sinks.merge_store import (
        _read_manifest,
    )

    store = str(tmp_path / "store")
    upsert_into_store(
        spark,
        _delta(spark, [("solo", 0, 0, 7.0, False)]),
        store, keys=["k"], version_cols=["ts", "seq"],
    )
    assert len(_read_manifest(store)["buckets"]) == 1
    upsert_into_store(
        spark,
        _delta(spark, [("solo", 5, 1, 0.0, True)]),
        store, keys=["k"], version_cols=["ts", "seq"],
    )
    assert _read_manifest(store)["buckets"] == {}
    assert _state(spark, store) == {}


def test_merge_store_time_travel_and_vacuum(spark, tmp_path):
    """Every commit is a readable snapshot until vacuumed; vacuum
    keeps the retained window readable and reclaims the rest."""
    from datapoints_csv_extractor_spark.sinks.merge_store import (
        latest_version,
        vacuum_store,
    )

    store = str(tmp_path / "store")
    upsert_into_store(
        spark, _delta(spark, [("a", 0, 0, 1.0, False)]),
        store, keys=["k"], version_cols=["ts", "seq"],
    )
    upsert_into_store(
        spark, _delta(spark, [("a", 5, 1, 2.0, False)]),
        store, keys=["k"], version_cols=["ts", "seq"],
    )
    upsert_into_store(
        spark, _delta(spark, [("a", 9, 2, 0.0, True)]),
        store, keys=["k"], version_cols=["ts", "seq"],
    )
    assert latest_version(store) == 3
    # time travel: each version shows its snapshot
    assert {
        r["k"]: r["v"] for r in read_store(spark, store, version=1).collect()
    } == {"a": 1.0}
    assert {
        r["k"]: r["v"] for r in read_store(spark, store, version=2).collect()
    } == {"a": 2.0}
    assert read_store(spark, store, version=3).collect() == []
    assert read_store(spark, store).collect() == []

    removed = vacuum_store(store, keep_last=1)
    assert removed >= 1
    # latest still readable; history gone
    assert read_store(spark, store).collect() == []
    import pytest

    with pytest.raises(FileNotFoundError):
        read_store(spark, store, version=1)


def test_merge_store_rejects_an_affected_hint_missing_a_bucket(spark, tmp_path):
    """A hint that misses a bucket the delta stages raises before the
    commit; the store stays at its prior version and rows."""
    import pytest

    from datapoints_csv_extractor_spark.sinks.merge_store import (
        latest_version,
    )

    store = str(tmp_path / "store")
    upsert_into_store(
        spark, _delta(spark, [("seed", 0, 0, 1.0, False)]),
        store, keys=["k"], version_cols=["ts", "seq"], n_buckets=4,
    )
    delta = _delta(
        spark, [(f"k{i}", 1, i + 1, float(i), False) for i in range(8)]
    )
    buckets = upsert_into_store(
        spark, delta, str(tmp_path / "probe"), keys=["k"],
        version_cols=["ts", "seq"], n_buckets=4,
    )
    assert len(buckets) > 1
    with pytest.raises(ValueError, match="affected_hint"):
        upsert_into_store(
            spark, delta, store, keys=["k"], version_cols=["ts", "seq"],
            n_buckets=4, affected_hint=buckets[:1],
        )
    assert latest_version(store) == 1
    assert _state(spark, store) == {"seed": (1.0, 0)}


def test_live_pipeline_maintains_latest_store(spark, tmp_path):
    """With latest_store_path set, each live batch folds its newest
    point per series into the serving store; after two batches the
    store equals the groupBy-max over everything ingested."""
    from datapoints_csv_extractor_spark.streaming.live import process_batch

    incoming = tmp_path / "incoming"
    incoming.mkdir()
    sink = str(tmp_path / "sink")
    catalog = str(tmp_path / "catalog")
    store = str(tmp_path / "latest")

    f1 = incoming / "a_plant_1550000000.csv"
    f1.write_text(
        "TS;s.one : One;s.two : Two\n"
        ";unit;unit\n"
        "1550000000;1,0;2,0\n"
        "1550000060;1,5;\n",
        encoding="iso-8859-1",
    )
    process_batch(
        spark, [f1], sink, catalog, latest_store_path=store
    )
    f2 = incoming / "a_plant_1550000120.csv"
    f2.write_text(
        "TS;s.one : One;s.three : Three\n"
        ";unit;unit\n"
        "1550000120;9,9;7,7\n",
        encoding="iso-8859-1",
    )
    process_batch(
        spark, [f2], sink, catalog, latest_store_path=store
    )

    from datapoints_csv_extractor_spark.sinks.merge_store import read_store

    got = {
        r["external_id"]: (r["ts_ms"], r["value"])
        for r in read_store(spark, store).collect()
    }
    assert got == {
        "s.one": (1550000120000, 9.9),
        "s.two": (1550000000000, 2.0),
        "s.three": (1550000120000, 7.7),
    }


def test_store_changes_between_snapshots(spark, tmp_path):
    """The change feed must classify inserts, updates, and deletes
    between any two retained snapshots, and an idle diff is empty."""
    from datapoints_csv_extractor_spark.sinks.merge_store import (
        store_changes,
    )

    store = str(tmp_path / "store")
    upsert_into_store(
        spark,
        _delta(spark, [("a", 0, 0, 1.0, False), ("b", 0, 1, 2.0, False)]),
        store, keys=["k"], version_cols=["ts", "seq"],
    )
    upsert_into_store(
        spark,
        _delta(spark, [("a", 5, 2, 9.0, False), ("b", 5, 3, 0.0, True),
                       ("c", 5, 4, 30.0, False)]),
        store, keys=["k"], version_cols=["ts", "seq"],
    )
    feed = {
        r["k"]: (r["change"], r["v"])
        for r in store_changes(spark, store, 1, 2, keys=["k"]).collect()
    }
    assert feed == {
        "a": ("update", 9.0),
        "b": ("delete", 2.0),
        "c": ("insert", 30.0),
    }
    # self-diff: nothing changed
    assert store_changes(spark, store, 2, 2, keys=["k"]).collect() == []

    # bootstrap diff: version 0 is the empty store, so from_version=0
    # yields the full current state as inserts — the initial-sync
    # entry point a downstream consumer needs.
    boot = {
        r["k"]: (r["change"], r["v"])
        for r in store_changes(spark, store, 0, 2, keys=["k"]).collect()
    }
    assert boot == {
        "a": ("insert", 9.0),
        "c": ("insert", 30.0),
    }


def test_store_stats_reports_live_layout(spark, tmp_path):
    from datapoints_csv_extractor_spark.sinks.merge_store import (
        _read_manifest,
        store_stats,
    )

    store = str(tmp_path / "store")
    upsert_into_store(
        spark,
        _delta(spark, [(f"k{i}", 0, i, float(i), False) for i in range(30)]),
        store, keys=["k"], version_cols=["ts", "seq"],
    )
    rows = store_stats(spark, store).collect()
    assert sum(r["n_rows"] for r in rows) == 30
    m = _read_manifest(store)
    assert {str(r["bucket"]) for r in rows} == set(m["buckets"])
    assert {r["generation"] for r in rows} == set(m["buckets"].values())


def test_backfill_rewrites_only_selected_partitions(spark, tmp_path):
    """Backfill must (a) replace the affected dt partitions with a
    pure function of the selected source files — healing corruption —
    and (b) leave every other partition byte-untouched."""
    import os

    from datapoints_csv_extractor_spark.sinks.datapoints import (
        backfill_datapoints,
        write_datapoints,
    )
    from datapoints_csv_extractor_spark.sources.tebis_csv import (
        read_datapoints,
    )

    incoming = tmp_path / "in"
    incoming.mkdir()
    sink = str(tmp_path / "sink")
    day = 86_400
    d1, d2 = 1_550_000_000, 1_550_000_000 + day

    f1 = incoming / ("a_x_%d.csv" % d1)
    f1.write_text(
        "TS;s.a : A\n;u\n%d;1,0\n%d;2,0\n" % (d1, d1 + 60),
        encoding="iso-8859-1",
    )
    f2 = incoming / ("a_x_%d.csv" % d2)
    f2.write_text(
        "TS;s.a : A\n;u\n%d;3,0\n" % d2, encoding="iso-8859-1"
    )
    write_datapoints(read_datapoints(spark, [f1, f2]), sink)

    # corrupt day 1's partition by appending a bogus duplicate batch
    write_datapoints(read_datapoints(spark, [f1]), sink)
    assert spark.read.parquet(sink).count() == 5  # 2 dup'd + 1

    parts = {d for d in os.listdir(sink) if d.startswith("dt=")}
    assert len(parts) == 2
    day2_dir = sorted(parts)[1]
    before = {
        f: os.path.getmtime(os.path.join(sink, day2_dir, f))
        for f in os.listdir(os.path.join(sink, day2_dir))
    }

    # backfill ONLY day 1's file-ts range (strict-exclusive bounds)
    stats = backfill_datapoints(
        spark, str(incoming), sink, time_from=d1 - 1, time_until=d1 + 1
    )
    assert stats == {"files": 1, "datapoints": 2, "partitions": 1}
    out = spark.read.parquet(sink)
    assert out.count() == 3  # healed
    after = {
        f: os.path.getmtime(os.path.join(sink, day2_dir, f))
        for f in os.listdir(os.path.join(sink, day2_dir))
    }
    assert after == before  # day 2 untouched

    # idempotent: re-running converges to the same content
    backfill_datapoints(
        spark, str(incoming), sink, time_from=d1 - 1, time_until=d1 + 1
    )
    assert spark.read.parquet(sink).count() == 3


def test_merge_upsert_property_vs_dict_replay(spark):
    """Property parity: for arbitrary change-logs (random keys,
    versions with collisions, tombstones), merge_upsert(base, delta)
    must equal a Python dict replay that keeps the max-version row
    per key and drops keys whose winner is a tombstone."""
    import datetime as dt

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from datapoints_csv_extractor_spark.operators.relational import (
        merge_upsert,
    )

    change = st.tuples(
        st.integers(0, 5),        # key
        st.integers(0, 20),       # ts minute (collides freely)
        st.floats(-100, 100, allow_nan=False, width=32),
        st.booleans(),            # tombstone
    )

    @settings(
        max_examples=12, deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        base_rows=st.lists(change, max_size=12),
        delta_rows=st.lists(change, max_size=12),
    )
    def run(base_rows, delta_rows):
        # seq = global arrival index: unique, so the (ts, seq) version
        # is a total order and both the engine and the model pick one
        # well-defined winner (equal full versions would be genuinely
        # nondeterministic in ANY engine).
        base = [
            (k, m, i, v, d) for i, (k, m, v, d) in enumerate(base_rows)
        ]
        delta = [
            (k, m, len(base) + i, v, d)
            for i, (k, m, v, d) in enumerate(delta_rows)
        ]

        def frame(rows):
            return spark.createDataFrame(
                [
                    (k, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m),
                     s, float(v), d)
                    for (k, m, s, v, d) in rows
                ],
                "k long, ts timestamp, seq long, v double, deleted boolean",
            )

        got = {
            r["k"]: (r["ts"], r["seq"], r["v"])
            for r in merge_upsert(
                frame(base), frame(delta),
                keys=["k"], version_cols=["ts", "seq"],
            ).collect()
        }
        winners: dict = {}
        for (k, m, s, v, d) in base + delta:
            cur = winners.get(k)
            if cur is None or (m, s) > (cur[0], cur[1]):
                winners[k] = (m, s, float(v), d)
        expected = {
            k: (dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m), s, v)
            for k, (m, s, v, d) in winners.items()
            if not d
        }
        assert got == expected

    run()


def test_merge_store_add_column_evolution(spark, tmp_path):
    """A delta carrying a NEW column widens the store schema; rows
    from pre-evolution generations read it as NULL, untouched buckets
    stay on their old generation directories, and time travel serves
    each snapshot under its own schema."""
    import datetime as dt

    from datapoints_csv_extractor_spark.sinks.merge_store import (
        store_changes,
    )

    store = str(tmp_path / "estore")
    upsert_into_store(
        spark,
        _delta(spark, [("a", 0, 0, 1.0, False), ("b", 0, 1, 2.0, False)]),
        store, keys=["k"], version_cols=["ts", "seq"], n_buckets=4,
    )
    v1_cols = set(read_store(spark, store).columns)
    assert "tag" not in v1_cols

    wide = spark.createDataFrame(
        [("b", dt.datetime(2024, 1, 2), 5, 20.0, False, "fresh"),
         ("c", dt.datetime(2024, 1, 2), 6, 30.0, False, "new")],
        "k string, ts timestamp, seq long, v double, deleted boolean, "
        "tag string",
    )
    upsert_into_store(
        spark, wide, store, keys=["k"], version_cols=["ts", "seq"],
        n_buckets=4,
    )
    got = {r["k"]: (r["v"], r["tag"]) for r in read_store(spark, store).collect()}
    assert got == {"a": (1.0, None), "b": (20.0, "fresh"), "c": (30.0, "new")}

    # Time travel: snapshot 1 still reads under its original schema.
    assert "tag" not in read_store(spark, store, version=1).columns

    # A post-evolution delta WITHOUT the new column fills NULL.
    upsert_into_store(
        spark,
        _delta(spark, [("d", 9, 9, 4.0, False)]),
        store, keys=["k"], version_cols=["ts", "seq"], n_buckets=4,
    )
    got = {r["k"]: r["tag"] for r in read_store(spark, store).collect()}
    assert got["d"] is None and got["b"] == "fresh"

    # The CDF across the evolution boundary carries the new column.
    cdf = {
        (r["change"], r["k"]): r
        for r in store_changes(spark, store, 1, 2, keys=["k"]).collect()
    }
    assert cdf[("insert", "c")]["tag"] == "new"
    assert cdf[("update", "b")]["tag"] == "fresh"


def test_merge_store_refuses_type_change(spark, tmp_path):
    import datetime as dt

    import pytest

    store = str(tmp_path / "tstore")
    upsert_into_store(
        spark,
        _delta(spark, [("a", 0, 0, 1.0, False)]),
        store, keys=["k"], version_cols=["ts", "seq"],
    )
    bad = spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 2), 1, "oops", False)],
        "k string, ts timestamp, seq long, v string, deleted boolean",
    )
    with pytest.raises(ValueError, match="schema evolution refused"):
        upsert_into_store(
            spark, bad, store, keys=["k"], version_cols=["ts", "seq"]
        )


def test_read_store_for_keys_prunes_to_wanted_buckets(spark, tmp_path):
    """The point-lookup read must return exactly the requested keys'
    current rows while SCANNING only the buckets they hash into —
    measured from the files the executed plan actually read."""
    from datapoints_csv_extractor_spark.sinks.merge_store import (
        read_store_for_keys,
    )

    store = str(tmp_path / "store")
    rows = [(f"k{i}", 0, 1, float(i), False) for i in range(200)]
    upsert_into_store(
        spark, _delta(spark, rows), store,
        keys=["k"], version_cols=["seq"], n_buckets=32,
    )
    probe = spark.createDataFrame(
        [("k3",), ("k77",), ("missing",)], "k string"
    )
    got = read_store_for_keys(spark, store, probe, ["k"])
    vals = {(r.k, r.v) for r in got.collect()}
    assert vals == {("k3", 3.0), ("k77", 77.0)}  # absent key -> no row
    # Bucket pruning: the executed scan touched at most 3 (here <= 3
    # wanted, out of 32) bucket directories.
    files = {
        os.path.dirname(r.f)
        for r in got.select(
            F.input_file_name().alias("f")
        ).distinct().collect()
    }
    assert 0 < len(files) <= 3
    all_dirs = {
        os.path.dirname(r.f)
        for r in read_store(spark, store)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }
    assert len(files) < len(all_dirs)


def test_crawl_frontier_filter_and_commit(spark, tmp_path):
    """The seen-URL frontier: batch 2's overlap with batch 1 is
    filtered, commits are replay-idempotent, and the filter read
    touches only the batch's buckets (inherited point-lookup path)."""
    from datapoints_csv_extractor_spark.plans.frontier import (
        frontier_commit,
        frontier_filter,
    )

    store = str(tmp_path / "frontier")
    b1 = spark.createDataFrame(
        [(f"http://s.example/p/{i}",) for i in range(20)], "url string"
    )
    # Absent store: everything passes.
    assert frontier_filter(spark, b1, store).count() == 20
    frontier_commit(spark, b1, store, ingest_id="b1")

    b2 = spark.createDataFrame(
        [(f"http://s.example/p/{i}",) for i in range(15, 30)], "url string"
    )
    fresh = frontier_filter(spark, b2, store)
    assert sorted(r.url for r in fresh.collect()) == sorted(
        f"http://s.example/p/{i}" for i in range(20, 30)
    )
    frontier_commit(spark, fresh, store, ingest_id="b2")

    # Replay of b2 converges: nothing new, state unchanged.
    frontier_commit(spark, fresh, store, ingest_id="b2")
    assert frontier_filter(spark, b2, store).count() == 0
    from datapoints_csv_extractor_spark.sinks.merge_store import read_store

    assert read_store(spark, store).count() == 30


def test_upsert_affected_hint_matches_census_path(spark, tmp_path):
    # affected_hint skips the census action when the caller already
    # holds the delta's exact bucket set (e.g. observed as a metric of
    # the job that materialized the delta). The hinted upsert must be
    # indistinguishable from the census path: same returned bucket
    # ids, same store state.
    s_census = str(tmp_path / "census")
    s_hinted = str(tmp_path / "hinted")
    b1 = _delta(
        spark,
        [("a", 0, 0, 1.0, False), ("b", 0, 1, 2.0, False),
         ("c", 0, 2, 3.0, False)],
    )
    b2 = _delta(
        spark,
        [("a", 5, 3, 10.0, False), ("b", 5, 4, 0.0, True),
         ("d", 5, 5, 40.0, False)],
    )

    def hint_for(delta, n_buckets=64):
        return [
            r["b"]
            for r in delta.select(
                F.pmod(F.xxhash64(F.col("k")), F.lit(n_buckets))
                .cast("int")
                .alias("b")
            )
            .distinct()
            .collect()
        ]

    got = {}
    for path, hinted in ((s_census, False), (s_hinted, True)):
        affected = []
        for b in (b1, b2):
            kwargs = {"affected_hint": hint_for(b)} if hinted else {}
            affected.append(
                upsert_into_store(
                    spark, b, path, keys=["k"],
                    version_cols=["ts", "seq"], **kwargs,
                )
            )
        got[path] = (affected, _state(spark, path))
    assert got[s_census] == got[s_hinted]
    assert got[s_hinted][1] == {"a": (10.0, 3), "c": (3.0, 2), "d": (40.0, 5)}
