"""End-to-end tests: historical pipeline, live streaming mode, sinks.

Pin the reference's lifecycle semantics (SURVEY.md §2.1 S7-S9, §2.8
ST1-ST7, §3.1-3.2) on synthetic TEBIS fixture folders.
"""

from __future__ import annotations

import time
from pathlib import Path

import pytest

from datapoints_csv_extractor_spark.plans.pipeline import (
    ingest_metrics,
    run_historical,
    run_rollup,
)
from datapoints_csv_extractor_spark.sinks.catalog_store import load_catalog
from datapoints_csv_extractor_spark.sinks.datapoints import post_datapoints
from datapoints_csv_extractor_spark.sinks.lifecycle import setup_directories
from datapoints_csv_extractor_spark.sources.tebis_csv import read_datapoints
from datapoints_csv_extractor_spark.streaming.live import (
    process_batch,
    start_live_ingest,
)
from fixtures import write_tebis_csv


def _make_folder(tmp_path: Path, n_files: int = 3, n_series: int = 4) -> Path:
    folder = tmp_path / "incoming"
    folder.mkdir()
    for i in range(n_files):
        write_tebis_csv(
            folder,
            file_ts=1550092560 + 60 * i,
            n_series=n_series,
            n_rows=30,
            seed=100 + i,
            null_rate=0.05,
            bad_value_rate=0.02,
            id_colon_rate=0.3,
        )
    return folder


def test_run_historical_end_to_end(spark, tmp_path):
    folder = _make_folder(tmp_path, n_files=3, n_series=4)
    expected = read_datapoints(spark, sorted(folder.glob("*.csv"))).count()
    assert expected > 0

    sink = tmp_path / "dp"
    catalog = tmp_path / "catalog"
    stats = run_historical(spark, folder, sink, catalog)

    assert stats["files"] == 3
    assert stats["datapoints"] == expected
    # 3 files x 4 series, seeds differ -> every non-colon id is unique
    # per file; catalog rows == created == distinct observed ids.
    cat = load_catalog(spark, catalog)
    assert stats["new_series"] == cat.count()
    assert cat.filter("description like 'Auto-generated%'").count() == cat.count()

    # Datapoints table is date-partitioned (dt=... directories).
    assert any(p.name.startswith("dt=") for p in sink.iterdir() if p.is_dir())
    out = spark.read.parquet(str(sink))
    assert out.count() == expected
    assert {"external_id", "name", "ts_ms", "value", "source_file", "dt"} <= set(
        out.columns
    )

    # S9: inputs archived to finished/, failed/ empty.
    assert list(folder.glob("*.csv")) == []
    assert len(list((folder / "finished").glob("*.csv"))) == 3
    assert list((folder / "failed").glob("*.csv")) == []


def test_run_historical_second_run_creates_nothing(spark, tmp_path):
    folder = _make_folder(tmp_path, n_files=2)
    sink = tmp_path / "dp"
    catalog = tmp_path / "catalog"
    first = run_historical(spark, folder, sink, catalog)
    assert first["new_series"] > 0

    # Same series arrive again in a new file -> no new catalog rows.
    write_tebis_csv(
        folder, file_ts=1550099999, n_series=4, n_rows=10, seed=100, id_colon_rate=0.3
    )
    second = run_historical(spark, folder, sink, catalog)
    assert second["files"] == 1
    assert second["new_series"] == 0
    assert load_catalog(spark, catalog).count() == first["new_series"]


def test_ingest_metrics_rollup(spark, tmp_path):
    folder = _make_folder(tmp_path, n_files=2, n_series=3)
    dp = read_datapoints(spark, sorted(folder.glob("*.csv")))
    m = {r.source_file: r for r in ingest_metrics(dp).collect()}
    per_file = [v for k, v in m.items() if k != "ALL"]
    assert len(per_file) == 2
    assert m["ALL"].n_datapoints == sum(r.n_datapoints for r in per_file)
    assert all(r.n_series == 3 for r in per_file)


def test_live_ingest_available_now_and_checkpoint(spark, tmp_path):
    folder = _make_folder(tmp_path, n_files=3, n_series=2)
    sink = tmp_path / "dp"
    catalog = tmp_path / "catalog"
    ckpt = tmp_path / "ckpt"
    batches: list[dict] = []

    q = start_live_ingest(
        spark, folder, sink, catalog, ckpt,
        available_now=True,
        on_batch=lambda bid, stats: batches.append(stats),
    )
    q.awaitTermination(120)
    assert not q.isActive

    total = sum(b["datapoints"] for b in batches)
    assert total > 0
    assert spark.read.parquet(str(sink)).count() == total
    assert load_catalog(spark, catalog).count() > 0
    # S9 + ST2: all inputs drained to finished/.
    assert list(folder.glob("*.csv")) == []
    assert len(list((folder / "finished").glob("*.csv"))) == 3

    # New file arrives; restart from the SAME checkpoint -> only the
    # new file is processed (exactly-once discovery, fixes ST6).
    write_tebis_csv(folder, file_ts=1550095000, n_series=2, n_rows=10, seed=999)
    batches.clear()
    q2 = start_live_ingest(
        spark, folder, sink, catalog, ckpt,
        available_now=True,
        on_batch=lambda bid, stats: batches.append(stats),
    )
    q2.awaitTermination(120)
    assert sum(b["files"] for b in batches) == 1
    assert len(list((folder / "finished").glob("*.csv"))) == 4


def test_live_ingest_processing_time_trigger(spark, tmp_path):
    """ST1/ST2: a real processing-time trigger drains files as they land."""
    folder = _make_folder(tmp_path, n_files=1, n_series=2)
    q = start_live_ingest(
        spark, folder, tmp_path / "dp", tmp_path / "catalog", tmp_path / "ckpt",
        trigger="1 seconds",
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and list(folder.glob("*.csv")):
            time.sleep(0.5)
        assert list(folder.glob("*.csv")) == []
        # A file arriving mid-stream is picked up on a later trigger.
        write_tebis_csv(folder, file_ts=1550097777, n_series=2, n_rows=5, seed=7)
        deadline = time.time() + 60
        while time.time() < deadline and list(folder.glob("*.csv")):
            time.sleep(0.5)
        assert list(folder.glob("*.csv")) == []
    finally:
        q.stop()


def test_live_settle_guard_defers_mid_write_file(spark, tmp_path):
    """ST3 exact: a file still being written (mtime refreshed within
    the settle window) is NOT parsed by the trigger that listed it —
    it parks in the pending sidecar — and flush_pending picks it up
    once the writer stops, so deferral never becomes loss."""
    import threading

    from datapoints_csv_extractor_spark.streaming.live import (
        _load_pending,
        flush_pending,
    )

    folder = _make_folder(tmp_path, n_files=1, n_series=2)
    hot = write_tebis_csv(
        folder, file_ts=1550093333, n_series=2, n_rows=10, seed=55
    )
    stop = threading.Event()

    def keep_writing() -> None:  # simulate a slow writer: mtime stays fresh
        import os

        while not stop.is_set():
            os.utime(hot)
            time.sleep(0.2)

    writer = threading.Thread(target=keep_writing, daemon=True)
    writer.start()
    try:
        sink, catalog, ckpt = tmp_path / "dp", tmp_path / "catalog", tmp_path / "ckpt"
        batches: list[dict] = []
        q = start_live_ingest(
            spark, folder, sink, catalog, ckpt,
            available_now=True,
            settle_seconds=2.0,
            on_batch=lambda bid, stats: batches.append(stats),
        )
        q.awaitTermination(120)
        # The settled file was processed; the mid-write file was not.
        assert hot.exists(), "mid-write file must not be archived"
        assert str(hot) in _load_pending(ckpt)
        assert sum(b["files"] for b in batches) == 1
        assert sum(b.get("deferred_unsettled", 0) for b in batches) >= 1
    finally:
        stop.set()
        writer.join()

    flushed = flush_pending(
        spark, folder, sink, catalog, ckpt, settle_seconds=2.0, max_wait=30.0
    )
    assert flushed["files"] == 1
    assert not hot.exists()  # now archived like any processed input
    assert _load_pending(ckpt) == set()


def test_post_datapoints_chunking(spark, tmp_path):
    """S7: connector sink respects the ≤N-series-per-request contract."""
    folder = tmp_path / "in"
    folder.mkdir()
    write_tebis_csv(folder, file_ts=1550092560, n_series=7, n_rows=5, seed=1)
    dp = read_datapoints(spark, [folder / "TEBIS_FK_1550092560.csv"])

    import tempfile, json, glob, os

    spool = tempfile.mkdtemp(prefix="post_spool_")

    def fake_post(payload):
        # Runs on executors: record each request's series ids.
        fd, name = tempfile.mkstemp(dir=spool, suffix=".json")
        with os.fdopen(fd, "w") as f:
            json.dump([eid for eid, _ in payload], f)

    post_datapoints(dp, fake_post, max_series_per_request=3)
    requests = [json.load(open(p)) for p in glob.glob(spool + "/*.json")]
    assert all(len(r) <= 3 for r in requests)
    seen = {eid for r in requests for eid in r}
    assert seen == {r.external_id for r in dp.select("external_id").distinct().collect()}
    # No series split across requests when clustered.
    assert sum(len(r) for r in requests) == len(seen)


def _run_batch(kind: str, spark, folder: Path, sink: Path, catalog: Path, **kw):
    """One ingest batch over every csv in ``folder``, through either
    entry point; both archive to ``finished/`` and quarantine to
    ``failed/`` beside the inputs."""
    if kind == "run_historical":
        return run_historical(spark, folder, sink, catalog)
    finished, failed = setup_directories(folder)
    return process_batch(
        spark, sorted(folder.glob("*.csv")), sink, catalog,
        finished_dir=finished, failed_dir=failed, **kw,
    )


@pytest.mark.parametrize("kind", ["run_historical", "process_batch"])
def test_batch_failure_policy(spark, tmp_path, kind):
    """ST7, one failure policy for both entry points: a sink failure
    moves the inputs to failed/ and re-raises; a catalog failure (after
    the data commit) re-raises and leaves the inputs in place."""
    folder = _make_folder(tmp_path, n_files=2)
    blocked_sink = tmp_path / "sink_blocker"
    blocked_sink.write_text("not a directory")  # parquet write fails
    with pytest.raises(Exception):
        _run_batch(kind, spark, folder, blocked_sink, tmp_path / "catalog")
    assert list(folder.glob("*.csv")) == []
    assert len(list((folder / "failed").glob("*.csv"))) == 2
    assert list((folder / "finished").glob("*.csv")) == []

    (tmp_path / "second").mkdir()
    folder = _make_folder(tmp_path / "second", n_files=2)
    sink = tmp_path / "dp"
    blocked_catalog = tmp_path / "catalog_blocker"
    blocked_catalog.write_text("not a parquet store")  # catalog read fails
    with pytest.raises(Exception):
        _run_batch(kind, spark, folder, sink, blocked_catalog)
    assert len(list(folder.glob("*.csv"))) == 2
    assert list((folder / "failed").glob("*.csv")) == []
    assert list((folder / "finished").glob("*.csv")) == []
    assert spark.read.parquet(str(sink)).count() > 0  # data committed first


def test_catalog_rule_needs_a_valid_value(spark, tmp_path):
    """A series enters the catalog in the first batch where it has a
    valid value: an all-empty column and the empty cell a trailing ';'
    adds to the header create nothing; the empty column's series is
    created by the later batch that carries its first value."""
    folder = tmp_path / "incoming"
    folder.mkdir()
    sink, catalog = tmp_path / "dp", tmp_path / "catalog"
    (folder / "p_1550000000.csv").write_text(
        ";a : A;b : B;\n"
        "Zeitstempel;u;u;\n"
        "1550000000;1,0;;\n"
        "1550000060;2,0;;\n",
        encoding="iso-8859-1",
    )
    first = _run_batch("process_batch", spark, folder, sink, catalog)
    assert (first["series"], first["new_series"]) == (1, 1)
    assert {r.external_id for r in load_catalog(spark, catalog).collect()} == {"a"}

    (folder / "p_1550000120.csv").write_text(
        ";a : A;b : B\n"
        "Zeitstempel;u;u\n"
        "1550000120;3,0;4,0\n",
        encoding="iso-8859-1",
    )
    second = _run_batch("process_batch", spark, folder, sink, catalog)
    assert (second["series"], second["new_series"]) == (2, 1)
    rows = {r.external_id: r.name for r in load_catalog(spark, catalog).collect()}
    assert rows == {"a": "A", "b": "B"}


def test_batch_consumers_do_not_rescan_csv(spark, tmp_path, monkeypatch):
    """Scale guard in the style of test_ingest_plan_has_no_shuffle: the
    catalog upsert and the latest-store merge read what the batch
    already produced (the write's observed series, a checkpointed
    per-series delta), never the csv files again."""
    from datapoints_csv_extractor_spark.sinks import merge_store
    from datapoints_csv_extractor_spark.streaming import live

    handed: dict[str, str] = {}

    def capture(name, original):
        def wrapper(spark_, df, *args, **kwargs):
            handed[name] = df._jdf.queryExecution().executedPlan().toString()
            return original(spark_, df, *args, **kwargs)
        return wrapper

    monkeypatch.setattr(live, "append_missing", capture("catalog", live.append_missing))
    monkeypatch.setattr(
        merge_store, "upsert_into_store",
        capture("latest", merge_store.upsert_into_store),
    )
    folder = _make_folder(tmp_path, n_files=2)
    stats = _run_batch(
        "process_batch", spark, folder, tmp_path / "dp", tmp_path / "catalog",
        latest_store_path=str(tmp_path / "latest"),
    )
    assert stats["new_series"] > 0
    assert set(handed) == {"catalog", "latest"}
    for name, plan in handed.items():
        assert "FileScan csv" not in plan, (name, plan)


def test_run_rollup_continuous_aggregate(spark, tmp_path):
    """Lakehouse chain: CSVs -> live ingest (raw table) -> run_rollup
    (derived rollup table) with independent checkpoints. Windows only
    land in the rollup once the watermark closes them, so drive two
    ingest rounds with advancing timestamps."""
    folder = tmp_path / "incoming"
    folder.mkdir()
    write_tebis_csv(folder, file_ts=1550092560, n_series=2, n_rows=30, seed=61)
    raw, roll = tmp_path / "raw", tmp_path / "rollup"
    q = start_live_ingest(spark, folder, raw, tmp_path / "cat", tmp_path / "ck1",
                          available_now=True)
    q.awaitTermination(120)

    q2 = run_rollup(spark, raw, roll, tmp_path / "ck2")
    q2.awaitTermination(120)

    # A much later file advances the watermark past the first windows.
    write_tebis_csv(folder, file_ts=1550099999, n_series=2, n_rows=5, seed=62,
                    start_ts=1550099990)
    q3 = start_live_ingest(spark, folder, raw, tmp_path / "cat", tmp_path / "ck1",
                           available_now=True)
    q3.awaitTermination(120)
    q4 = run_rollup(spark, raw, roll, tmp_path / "ck2")
    q4.awaitTermination(120)

    out = spark.read.parquet(str(roll))
    assert out.count() > 0
    raw_n = spark.read.parquet(str(raw)).count()
    # Rollup of CLOSED windows covers the first file entirely once the
    # second file's watermark passes; totals never exceed raw points.
    rolled_points = out.agg({"n_points": "sum"}).first()[0]
    assert 0 < rolled_points <= raw_n
    assert {"window_start", "external_id", "n_points", "avg_value"} <= set(out.columns)


def test_write_datapoints_clustered_by_series(spark, tmp_path):
    """cluster_by_series: rows within each file are sorted by
    (external_id, ts_ms) so parquet row-group stats are tight."""
    import pyarrow.parquet as pq
    from datapoints_csv_extractor_spark.sinks.datapoints import write_datapoints

    df = spark.createDataFrame(
        [(f"s{i % 7}", "n", 1_550_092_560_000 + i, float(i), "f", 0) for i in range(500)],
        "external_id string, name string, ts_ms long, value double, "
        "source_file string, file_ts long",
    )
    write_datapoints(df, str(tmp_path / "dp"), cluster_by_series=True, n_buckets=2)
    files = list((tmp_path / "dp").rglob("*.parquet"))
    assert files
    for f in files:
        t = pq.read_table(f, columns=["external_id", "ts_ms"])
        pairs = list(zip(t["external_id"].to_pylist(), t["ts_ms"].to_pylist()))
        assert pairs == sorted(pairs), f"{f} not clustered"
