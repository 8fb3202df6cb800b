"""Reference-parity tests for the TEBIS ingest (SURVEY.md §2.1-§2.4).

Pins the semantics the reference under-tests (SURVEY.md §5): decimal
comma, empty/bad values, units-row drop, last-colon split, exclusive
pruning bounds, missing-filename-ts ordering, nonfloat.csv edge.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datapoints_csv_extractor_spark.functions.tebis import (
    decimal_comma_double,
    file_timestamp,
    header_external_id,
    header_name,
)
from datapoints_csv_extractor_spark.sources.catalog import (
    AUTO_DESCRIPTION,
    missing_series,
)
from datapoints_csv_extractor_spark.sources.files import find_historical_files
from datapoints_csv_extractor_spark.sources.tebis_csv import (
    read_datapoints,
    read_datapoints_from_folder,
)
from tests.fixtures import write_tebis_csv


@pytest.fixture()
def tebis_dir(tmp_path):
    # Mirrors the reference fixture corpus shape: 60 rows x {1,10,2} series.
    write_tebis_csv(tmp_path, file_ts=1550092560, n_series=1, n_rows=60, seed=1)
    write_tebis_csv(tmp_path, file_ts=1550092620, n_series=10, n_rows=60, seed=2)
    write_tebis_csv(tmp_path, file_ts=1550092680, n_series=2, n_rows=60, seed=3)
    return tmp_path


def test_flagship_counts(spark, tebis_dir):
    df = read_datapoints_from_folder(spark, tebis_dir)
    # 60 rows x (1 + 10 + 2) series, no nulls/bad values -> 780 datapoints.
    assert df.count() == 60 * 13
    assert df.select("external_id").distinct().count() == 13
    assert [f.name for f in df.schema.fields] == [
        "external_id", "name", "ts_ms", "value", "source_file", "file_ts",
    ]


def test_single_file_matches_reference_fixture_shape(spark, tmp_path):
    # The reference's TEBIS_FK_1550092560.csv: 1 series x 60 rows -> 60
    # datapoints, 1 external id (test_extractor.py:20-27 semantics).
    p = write_tebis_csv(tmp_path, file_ts=1550092560, n_series=1, n_rows=60)
    df = read_datapoints(spark, [p])
    assert df.count() == 60
    assert df.select("external_id").distinct().count() == 1


def test_units_row_dropped_and_ts_ms(spark, tmp_path):
    p = write_tebis_csv(tmp_path, n_series=2, n_rows=5, file_ts=1550092560, start_ts=1550092500)
    df = read_datapoints(spark, [p])
    rows = df.orderBy("ts_ms").collect()
    # No 'Zeitstempel' units row leaked; ts in MILLISECONDS (x1000).
    assert rows[0].ts_ms == 1550092500 * 1000
    assert all(r.ts_ms % 1000 == 0 for r in rows)
    assert df.where(F.col("name").isin("°C", "bar")).count() == 0


def test_decimal_comma_and_skip_semantics(spark, tmp_path):
    p = tmp_path / "A_B_100.csv"
    p.write_text(
        ";42 : S1;43 : S2\n"
        "Zeitstempel;bar;\n"
        "10;0,164797;1,5\n"
        "11;;2,5\n"          # empty cell -> skipped (csv_extractor.py:97)
        "12;oops;3,5\n"      # bad float -> skipped (csv_extractor.py:98-102)
        "13;2.5;4,5\n",      # decimal POINT also parses (float('2.5') does)
        encoding="latin-1",
    )
    df = read_datapoints(spark, [p])
    s1 = {r.ts_ms // 1000: r.value for r in df.where("external_id = '42'").collect()}
    assert s1 == {10: pytest.approx(0.164797), 13: pytest.approx(2.5)}
    assert df.where("external_id = '43'").count() == 4


def test_last_colon_split_and_trim(spark):
    sdf = spark.createDataFrame(
        [("33 : TEST3",), ("ns:sensor:7 : NAME",), ("nocolon",), ("extIdOne: name1",)],
        "h string",
    )
    out = sdf.select(
        header_external_id("h").alias("e"), header_name("h").alias("n")
    ).collect()
    # rpartition(':') semantics (csv_extractor.py:148-149).
    assert (out[0].e, out[0].n) == ("33", "TEST3")
    assert (out[1].e, out[1].n) == ("ns:sensor:7", "NAME")   # LAST colon
    assert (out[2].e, out[2].n) == ("", "nocolon")           # no colon -> id ''
    assert (out[3].e, out[3].n) == ("extIdOne", "name1")


def test_nonfloat_fixture_edge(spark, tmp_path):
    # Re-creates the reference's nonfloat.csv: named timestamp column,
    # garbage units row, integer values. The reference would mishandle
    # the named ts column (keys on '' header); our engine defines col 0
    # positionally as the timestamp (FIXTURES.md §2) and parses this.
    p = tmp_path / "nonfloat.csv"
    p.write_text(
        "timestamp; extIdOne: name1;extIdTwo:name2\n"
        "ignore; speeed; impact\n"
        "1550092563;1222;4444\n"
        "1550092564;1223;4445\n",
        encoding="latin-1",
    )
    df = read_datapoints(spark, [p])
    assert df.count() == 4
    assert set(r.external_id for r in df.collect()) == {"extIdOne", "extIdTwo"}
    assert df.agg(F.min("file_ts")).first()[0] is None  # stem has <3 parts


def test_historical_pruning_exclusive_bounds(tmp_path):
    for ts in (100, 200, 300):
        write_tebis_csv(tmp_path, file_ts=ts, n_series=1, n_rows=1)
    write_tebis_csv(tmp_path, prefix="nots", file_ts=None, n_series=1, n_rows=1)

    # Strict inequalities on BOTH sides (csv_extractor.py:252); files
    # without a parseable ts are skipped when a range is given.
    got = [p.name for p in find_historical_files(tmp_path, 100, 300)]
    assert got == ["TEBIS_FK_200.csv"]
    # One-sided ranges.
    assert [p.name for p in find_historical_files(tmp_path, time_from=200)] == [
        "TEBIS_FK_300.csv"
    ]
    # No range: all files, missing ts sorts first as ts=0 (:256-262).
    got_all = [p.name for p in find_historical_files(tmp_path)]
    assert got_all[0] == "nots.csv"
    assert got_all[1:] == ["TEBIS_FK_100.csv", "TEBIS_FK_200.csv", "TEBIS_FK_300.csv"]


def test_mixed_header_groups(spark, tmp_path):
    # Files with DIFFERENT column sets in one batch (dynamic schema,
    # SURVEY.md §7 "what's hard" #1).
    write_tebis_csv(tmp_path, file_ts=100, n_series=2, n_rows=3, seed=5)
    write_tebis_csv(tmp_path, prefix="TEBIS_GK", file_ts=200, n_series=4, n_rows=3, seed=6)
    df = read_datapoints_from_folder(spark, tmp_path)
    assert df.count() == 3 * 2 + 3 * 4
    assert df.select("source_file").distinct().count() == 2
    by_file = {
        r.file_ts: r.cnt
        for r in df.groupBy("file_ts").agg(F.count("*").alias("cnt")).collect()
    }
    assert by_file == {100: 6, 200: 12}


def test_file_timestamp_function(spark):
    sdf = spark.createDataFrame(
        [("file:///x/TEBIS_FK_1550092560.csv",), ("/x/data_1.csv",), ("/x/A_B_C.csv",)],
        "p string",
    )
    out = [r.t for r in sdf.select(file_timestamp("p").alias("t")).collect()]
    # >2 stem parts + parseable trailing int, else NULL (:245-248).
    assert out == [1550092560, None, None]


def test_decimal_comma_function_edges(spark):
    sdf = spark.createDataFrame(
        [("0,164797",), ("2.5",), ("",), ("abc",), ("-1,5",), ("1e3",)], "v string"
    )
    out = [r.d for r in sdf.select(decimal_comma_double("v").alias("d")).collect()]
    assert out[0] == pytest.approx(0.164797)
    assert out[1] == pytest.approx(2.5)
    assert out[2] is None and out[3] is None
    assert out[4] == pytest.approx(-1.5)
    assert out[5] == pytest.approx(1000.0)


def test_catalog_create_if_missing(spark, tmp_path):
    p = write_tebis_csv(tmp_path, file_ts=100, n_series=3, n_rows=2, seed=7)
    dps = read_datapoints(spark, [p])
    catalog = spark.createDataFrame(
        [("700", "SERIES0", "preexisting")],
        "external_id string, name string, description string",
    )
    new = missing_series(dps, catalog)
    # seed=7 -> ids 700,701,702; 700 already exists.
    assert set(r.external_id for r in new.collect()) == {"701", "702"}
    assert set(r.description for r in new.collect()) == {AUTO_DESCRIPTION}
    # Idempotent: against the merged catalog nothing is missing.
    merged = catalog.unionByName(new)
    assert merged.count() == 3
    assert missing_series(dps, merged).count() == 0


def test_ingest_plan_has_no_shuffle(spark, tmp_path):
    # Scale guard: the ingest must stay a scan->project->generate->filter
    # pipeline with zero SHUFFLE exchanges (SURVEY.md §4). The header
    # dimension arrives via BroadcastExchange, which moves one tiny
    # row per file, not the data — allowed.
    p = write_tebis_csv(tmp_path, file_ts=100, n_series=2, n_rows=3)
    df = read_datapoints(spark, [p])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ShuffleExchange" not in plan and "Exchange hashpartitioning" not in plan
    assert "BroadcastHashJoin" in plan


def test_duplicate_basenames_rejected(spark, tmp_path):
    from fixtures import write_tebis_csv
    import pytest as _pytest
    from datapoints_csv_extractor_spark.sources.tebis_csv import read_datapoints

    d1 = tmp_path / "a"
    d2 = tmp_path / "b"
    d1.mkdir(); d2.mkdir()
    p1 = write_tebis_csv(d1, file_ts=1550092560, n_series=2, n_rows=5, seed=1)
    p2 = write_tebis_csv(d2, file_ts=1550092560, n_series=2, n_rows=5, seed=2)
    with _pytest.raises(ValueError, match="duplicate file basenames"):
        read_datapoints(spark, [p1, p2])


def test_very_wide_file(spark, tmp_path):
    """150-series file: PERMISSIVE padding + posexplode stay correct
    at widths far beyond the fixtures."""
    from fixtures import write_tebis_csv
    from datapoints_csv_extractor_spark.sources.tebis_csv import read_datapoints

    wide = write_tebis_csv(
        tmp_path, file_ts=1550092560, n_series=150, n_rows=20, seed=77
    )
    narrow = write_tebis_csv(
        tmp_path, prefix="TEBIS_N", file_ts=1550092620, n_series=2, n_rows=20, seed=999
    )
    dp = read_datapoints(spark, [wide, narrow])
    by_file = {
        r.file_ts: r.n
        for r in dp.groupBy("file_ts").agg(F.count("*").alias("n")).collect()
    }
    assert by_file[1550092560] == 150 * 20
    assert by_file[1550092620] == 2 * 20
    assert dp.select("external_id").distinct().count() == 152


def test_append_missing_concurrent_writers_converge(spark, tmp_path):
    """Two writers appending interleaved batches (overlapping series)
    must converge to the union with no series lost AND none
    double-created — the lock serializes the check-then-append."""
    import threading

    from datapoints_csv_extractor_spark.sinks.catalog_store import (
        append_missing,
        load_catalog,
    )

    path = str(tmp_path / "catalog")
    barrier = threading.Barrier(2)
    errors: list[Exception] = []

    def writer(series: list[str]) -> None:
        try:
            dps = spark.createDataFrame(
                [(s, f"name_{s}", 1700000000000, 1.0) for s in series],
                "external_id string, name string, ts_ms long, value double",
            )
            barrier.wait()
            append_missing(spark, dps, path)
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    # Overlap: B is in both writers' batches — the race target.
    t1 = threading.Thread(target=writer, args=(["A", "B", "C"],))
    t2 = threading.Thread(target=writer, args=(["B", "D"],))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errors, errors
    rows = load_catalog(spark, path).collect()
    ids = sorted(r.external_id for r in rows)
    assert ids == ["A", "B", "C", "D"], ids  # union, and B exactly once


def test_catalog_lock_stale_takeover_and_timeout(tmp_path):
    import os
    import time as _time

    from datapoints_csv_extractor_spark.sinks.store_commit import lock

    path = str(tmp_path / "catalog")
    lock_file = f"{path}.lock"
    # Abandoned lock (old mtime) is broken and taken over.
    with open(lock_file, "w") as f:
        f.write("999999")
    old = _time.time() - 600
    os.utime(lock_file, (old, old))
    with lock(path, timeout=1.0, stale_after=120.0):
        assert os.path.exists(lock_file)
    assert not os.path.exists(lock_file)
    # A FRESH foreign lock times out instead of being broken.
    with open(lock_file, "w") as f:
        f.write("999999")
    import pytest as _pytest

    with _pytest.raises(TimeoutError):
        with lock(path, timeout=0.3, stale_after=120.0, sleep=lambda s: None):
            pass
    os.unlink(lock_file)


def test_tebis_export_round_trip(spark, tmp_path):
    """write_tebis_csv emits files the folder reader ingests back
    losslessly: same (series, ts, value) set, chunk timestamp in the
    filename (S2-prunable), units row and empty cells dropped."""
    from datapoints_csv_extractor_spark.sinks.tebis_export import write_tebis_csv
    from datapoints_csv_extractor_spark.sources.tebis_csv import (
        read_datapoints_from_folder,
    )

    base = 1_550_092_560
    rows = [
        ("FK1", "temp", (base + 10) * 1000, 1.5),
        ("FK1", "temp", (base + 20) * 1000, -2.25),
        ("FK2:sub", "press", (base + 10) * 1000, 10.0),  # id containing ':'
        ("FK2:sub", "press", (base + 4000) * 1000, 0.125),  # next hour chunk
    ]
    dp = spark.createDataFrame(
        [(e, n, t, v, "src", 0) for e, n, t, v in rows],
        "external_id string, name string, ts_ms long, value double, "
        "source_file string, file_ts long",
    )
    out = tmp_path / "export"
    written = write_tebis_csv(dp, str(out))
    assert len(written) == 2  # two hourly chunks
    assert all(p.endswith(f"_{ts}.csv") for p, ts in zip(sorted(written),
               [base - base % 3600, (base + 4000) - (base + 4000) % 3600]))

    back = read_datapoints_from_folder(spark, str(out))
    got = {
        (r.external_id, r.name, r.ts_ms, r.value) for r in back.collect()
    }
    assert got == set(rows)
    # The chunk epoch round-trips through the filename into file_ts.
    assert {r.file_ts for r in back.collect()} == {
        base - base % 3600, (base + 4000) - (base + 4000) % 3600
    }


def test_tebis_export_rejects_subsecond_and_semicolon(spark, tmp_path):
    from datapoints_csv_extractor_spark.sinks.tebis_export import write_tebis_csv

    import pytest as _pytest

    dp = spark.createDataFrame(
        [("a", "n", 1500, 1.0, "s", 0)],
        "external_id string, name string, ts_ms long, value double, "
        "source_file string, file_ts long",
    )
    with _pytest.raises(ValueError, match="second resolution"):
        write_tebis_csv(dp, str(tmp_path / "x"))
    dp2 = spark.createDataFrame(
        [("a;b", "n", 1000, 1.0, "s", 0)],
        "external_id string, name string, ts_ms long, value double, "
        "source_file string, file_ts long",
    )
    with _pytest.raises(ValueError, match="';'"):
        write_tebis_csv(dp2, str(tmp_path / "y"))


def test_tebis_export_latin1_characters_round_trip(spark, tmp_path):
    """Series names with latin-1 (non-ASCII) characters must survive
    the export->ingest round trip byte-for-byte — the format's
    declared charset, and the reference data's reality (German
    sensor names)."""
    from datapoints_csv_extractor_spark.sinks.tebis_export import write_tebis_csv
    from datapoints_csv_extractor_spark.sources.tebis_csv import (
        read_datapoints_from_folder,
    )

    base = 1_550_092_560
    rows = [
        ("FKÜ1", "Kühlung", (base + 10) * 1000, 1.5),
        ("FKÜ1", "Kühlung", (base + 20) * 1000, 2.5),
    ]
    dp = spark.createDataFrame(
        [(e, n, t, v, "src", 0) for e, n, t, v in rows],
        "external_id string, name string, ts_ms long, value double, "
        "source_file string, file_ts long",
    )
    out = tmp_path / "exp"
    written = write_tebis_csv(dp, str(out))
    raw = open(written[0], "rb").read()
    assert b"\xdc" in raw and b"\xfc" in raw  # latin-1 bytes, not UTF-8
    back = read_datapoints_from_folder(spark, str(out))
    got = {(r.external_id, r.name, r.ts_ms, r.value) for r in back.collect()}
    assert got == set(rows)
