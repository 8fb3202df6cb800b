"""CLI surface test: flag parity with the reference's main.py."""

from __future__ import annotations

from datapoints_csv_extractor_spark.cli import main
from fixtures import write_tebis_csv


def test_cli_historical_run(spark, tmp_path, capsys):
    folder = tmp_path / "incoming"
    folder.mkdir()
    write_tebis_csv(folder, file_ts=1550092560, n_series=3, n_rows=20, seed=11)
    write_tebis_csv(folder, file_ts=1550092620, n_series=3, n_rows=20, seed=12)
    # Outside the (from, until) exclusive bounds -> pruned.
    write_tebis_csv(folder, file_ts=1550099999, n_series=2, n_rows=5, seed=13)

    out = tmp_path / "dp"
    rc = main(
        [
            "-i", str(folder),
            "-o", str(out),
            "--keep-finished",
            "--from-time", "1550092500",
            "--until-time", "1550099999",
        ]
    )
    assert rc == 0
    printed = capsys.readouterr().out
    assert "2 files" in printed
    assert spark.read.parquet(str(out)).count() > 0
    # keep-finished: processed inputs archived, pruned input untouched.
    assert len(list((folder / "finished").glob("*.csv"))) == 2
    assert len(list(folder.glob("*.csv"))) == 1


def test_cli_live_drain(spark, tmp_path):
    """--live --drain: Structured Streaming catch-up that drains the
    folder then exits (the testable live path; continuous mode is the
    same query with a processing-time trigger)."""
    folder = tmp_path / "incoming"
    folder.mkdir()
    write_tebis_csv(folder, file_ts=1550092560, n_series=2, n_rows=10, seed=21)
    write_tebis_csv(folder, file_ts=1550092620, n_series=2, n_rows=10, seed=22)

    out = tmp_path / "dp"
    rc = main(
        [
            "--live", "--drain",
            "-i", str(folder),
            "-o", str(out),
            "--keep-finished",
            "--checkpoint", str(tmp_path / "ckpt"),
        ]
    )
    assert rc == 0
    assert spark.read.parquet(str(out)).count() > 0
    assert list(folder.glob("*.csv")) == []
    assert len(list((folder / "finished").glob("*.csv"))) == 2


def test_cli_log_flags(spark, tmp_path, capsys):
    """--log/-d and --log-level parity (reference main.py:39-40): a
    file handler lands in the given directory with the
    extractor-{historical|live}.log naming."""
    import logging

    folder = tmp_path / "incoming"
    folder.mkdir()
    write_tebis_csv(folder, file_ts=1550092560, n_series=2, n_rows=5, seed=21)
    log_dir = tmp_path / "logs"
    rc = main(
        [
            "-i", str(folder),
            "-o", str(tmp_path / "dp"),
            "--keep-finished",
            "--log", str(log_dir),
            "--log-level", "DEBUG",
        ]
    )
    assert rc == 0
    assert (log_dir / "extractor-historical.log").exists()
    logger = logging.getLogger("datapoints_csv_extractor_spark")
    assert logger.level == logging.DEBUG
    # Cleanup so later tests don't keep the file handler.
    for h in list(logger.handlers):
        if isinstance(h, logging.FileHandler):
            logger.removeHandler(h)
            h.close()


def test_cli_live_drain_writes_metrics_textfile(spark, tmp_path):
    """--metrics-textfile: per-batch metrics land in Prometheus text
    exposition format (C3 parity end to end through the CLI)."""
    folder = tmp_path / "incoming"
    folder.mkdir()
    write_tebis_csv(folder, file_ts=1550092560, n_series=2, n_rows=10, seed=31)
    metrics = tmp_path / "metrics.prom"
    rc = main(
        [
            "--live", "--drain",
            "-i", str(folder),
            "-o", str(tmp_path / "dp"),
            "--keep-finished",
            "--metrics-textfile", str(metrics),
        ]
    )
    assert rc == 0
    body = metrics.read_text()
    assert "# TYPE csv_live_posted_data_points_total counter" in body
    import re

    m = re.search(r'csv_live_posted_data_points_total\{project_name="default"\} (\d+)', body)
    assert m and int(m.group(1)) > 0


def test_cli_historical_writes_metrics_textfile(spark, tmp_path, capsys):
    """A historical run feeds its batch stats to the exporter too: the
    textfile's posted-datapoints counter equals the printed count."""
    import re

    folder = tmp_path / "incoming"
    folder.mkdir()
    write_tebis_csv(folder, file_ts=1550092560, n_series=2, n_rows=10, seed=41)
    metrics = tmp_path / "metrics.prom"
    rc = main(
        [
            "-i", str(folder),
            "-o", str(tmp_path / "dp"),
            "--keep-finished",
            "--metrics-textfile", str(metrics),
        ]
    )
    assert rc == 0
    printed = int(re.search(r"(\d+) datapoints", capsys.readouterr().out).group(1))
    assert printed > 0
    m = re.search(
        r'csv_hist_posted_data_points_total\{project_name="default"\} ([\d.]+)',
        metrics.read_text(),
    )
    assert m and float(m.group(1)) == printed


def test_corpus_cli_batch_ledger(spark, tmp_path, capsys):
    import json

    from datapoints_csv_extractor_spark.corpus_cli import main as corpus_main

    docs = [
        {"doc_id": 1, "text": "a long enough document about river deltas and the silt they deposit each spring", "source": "a"},
        {"doc_id": 2, "text": "contact me at eve@example.org for a long enough discussion of tidal marsh restoration", "source": "a"},
        {"doc_id": 3, "text": "nope", "source": "a"},
    ]
    shard = tmp_path / "shard.jsonl"
    shard.write_text("\n".join(json.dumps(d) for d in docs))
    rc = corpus_main(
        [
            "--input", str(shard),
            "--corpus", str(tmp_path / "corpus"),
            "--store", str(tmp_path / "store"),
        ]
    )
    assert rc == 0
    ledger = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert ledger["received"] == 3
    assert ledger["pii_redacted"] == 1
    assert ledger["low_quality"] == 1
    assert ledger["published"] == 2
    texts = [r.text for r in spark.read.parquet(str(tmp_path / "corpus")).collect()]
    assert all("eve@example.org" not in t for t in texts)


def test_corpus_cli_stream_drain(spark, tmp_path, capsys):
    import json

    from datapoints_csv_extractor_spark.corpus_cli import main as corpus_main

    shards = tmp_path / "shards"
    shards.mkdir()
    (shards / "s1.jsonl").write_text(
        json.dumps({"doc_id": 10, "text": "streamed document with a healthy number of words describing alpine weather fronts", "source": "s"})
    )
    rc = corpus_main(
        [
            "--input", str(shards),
            "--corpus", str(tmp_path / "corpus"),
            "--store", str(tmp_path / "store"),
            "--stream",
            "--checkpoint", str(tmp_path / "ckpt"),
        ]
    )
    assert rc == 0
    out_lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines() if x.startswith("{")]
    assert out_lines and out_lines[-1]["published"] == 1
    assert spark.read.parquet(str(tmp_path / "corpus")).count() == 1


def test_corpus_cli_rejects_malformed_resample_bounds():
    import pytest as _pytest

    from datapoints_csv_extractor_spark.corpus_cli import _parse_resample

    assert _parse_resample(["crawl=40", "web=ZZ"]) == {"crawl": "40", "web": "zz"}
    assert _parse_resample(["crawl=4A"]) == {"crawl": "4a"}
    for bad in (["crawl=4"], ["crawl=g0"], ["crawl"]):
        with _pytest.raises(SystemExit):
            _parse_resample(bad)


def test_corpus_cli_line_dedup_and_repetition_stages(spark, tmp_path, capsys):
    """End-to-end drive of the promoted repetition stages: a repeated
    boilerplate line survives only at its first occurrence (documents
    are reassembled, not dropped) and a gram-repetitive document is
    filtered before the MinHash stage."""
    import json

    from datapoints_csv_extractor_spark.corpus_cli import main as corpus_main

    boiler = "please subscribe to our newsletter for updates about everything here"
    body1 = "glacial moraines record the furthest advance of ice sheets over bedrock"
    body2 = "peat bogs preserve pollen records spanning many thousand calendar years"
    # Cross-document repeated span (repeated_spans counts grams seen
    # in >= min_docs documents): docs 3 and 4 share a long span that
    # dominates their gram sets, with distinct short tails.
    span = ("boilerplate legal disclaimer text that appears verbatim in "
            "multiple documents of this crawl covering limitation of "
            "liability and governing law provisions in full detail")
    # Doc 4 is offset by one leading token so its 10-token LINES all
    # differ from doc 3's (the line-dedup stage must not eat the span
    # first) while its 5-GRAMS still collide with doc 3's.
    docs = [
        {"doc_id": 1, "text": f"{boiler} {body1}", "source": "a"},
        {"doc_id": 2, "text": f"{boiler} {body2}", "source": "a"},
        {"doc_id": 3, "text": f"{span} tail alpha", "source": "a"},
        {"doc_id": 4, "text": f"preamble {span} tail omega", "source": "a"},
    ]
    shard = tmp_path / "shard.jsonl"
    shard.write_text("\n".join(json.dumps(d) for d in docs))
    rc = corpus_main(
        [
            "--input", str(shard),
            "--corpus", str(tmp_path / "corpus"),
            "--store", str(tmp_path / "store"),
            "--line-dedup", "10",
            "--max-repeated-fraction", "0.5",
        ]
    )
    assert rc == 0
    ledger = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert ledger["received"] == 4
    assert ledger["line_deduped"] >= 1          # doc 2 lost the boilerplate line
    assert ledger["repetition_filtered"] == 2   # docs 3+4 dropped
    assert ledger["published"] == 2
    texts = {
        r.doc_id: r.text
        for r in spark.read.parquet(str(tmp_path / "corpus")).collect()
    }
    assert set(texts) == {1, 2}
    assert boiler.split()[0] in texts[1]        # first occurrence kept
    assert "subscribe" not in texts[2]          # later copy removed
    assert body2.split()[0] in texts[2]         # body intact


def test_corpus_cli_dsir_flags_plumb_through():
    """--dsir-store/--min-dsir-logweight parse and map to the ingest
    plan's kwargs (the gate itself is covered in
    test_document_sources)."""
    from datapoints_csv_extractor_spark.corpus_cli import _parse_args

    base = ["-i", "/tmp/in", "-o", "/tmp/corpus", "-s", "/tmp/band"]
    args = _parse_args(
        base + ["--dsir-store", "/tmp/dsir", "--min-dsir-logweight", "-2.5"]
    )
    assert args.dsir_store == "/tmp/dsir"
    assert args.min_dsir_logweight == -2.5
    defaults = _parse_args(base)
    assert defaults.dsir_store is None
    assert defaults.min_dsir_logweight == 0.0
