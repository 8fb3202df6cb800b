"""CLI entry point mirroring the reference's main.py surface.

Flag parity with main.py:24-53 (reference), re-targeted at the
Spark-native sinks:

- ``--live`` / default historical (the reference's ``--historical``
  flag is a no-op there — default True, main.py:34-36 — and is kept
  only for drop-in compatibility).
- ``--input/-i`` input folder; ``--from-time``/``--until-time``
  exclusive filename-ts bounds (csv_extractor.py:252).
- ``--keep-finished`` moves processed files to ``finished/`` instead
  of deleting (main.py:92-94; post_all_data :184-192).
  ``--move-failed`` quarantines to ``failed/`` (always on in our
  engine for live mode; the flag is accepted for compatibility).
- The CDF API key/client flags are replaced by ``--output`` (the
  datapoints table path) and ``--catalog`` (the series dimension) —
  this engine's sinks are tables, not an HTTP API.

Run: ``python -m datapoints_csv_extractor_spark -i DIR -o OUT``.
"""

from __future__ import annotations

import argparse
import logging
import sys
from pathlib import Path

from datapoints_csv_extractor_spark.session import get_spark


def configure_logger(
    log_dir: str | None, live: bool, log_level: str = "INFO"
) -> logging.Logger:
    """Reference-parity logger setup (main.py:55-70): console always;
    when a log directory is given, also ``extractor-{live|historical}.log``
    inside it (directory created if missing)."""
    logger = logging.getLogger("datapoints_csv_extractor_spark")
    logger.setLevel(getattr(logging, log_level.upper(), logging.INFO))
    fmt = logging.Formatter("%(asctime)s %(levelname)s %(name)s %(message)s")
    if not any(isinstance(h, logging.StreamHandler) for h in logger.handlers):
        console = logging.StreamHandler()
        console.setFormatter(fmt)
        logger.addHandler(console)
    if log_dir:
        folder = Path(log_dir)
        folder.mkdir(parents=True, exist_ok=True)
        postfix = "live" if live else "historical"
        log_file = folder / f"extractor-{postfix}.log"
        if not any(
            isinstance(h, logging.FileHandler)
            and getattr(h, "baseFilename", None) == str(log_file)
            for h in logger.handlers
        ):
            fh = logging.FileHandler(log_file)
            fh.setFormatter(fmt)
            logger.addHandler(fh)
    return logger


def _parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    parser = argparse.ArgumentParser(prog="datapoints_csv_extractor_spark")
    group = parser.add_mutually_exclusive_group()
    group.add_argument(
        "--live", "-l", action="store_true",
        help="Process live data continuously (8 s trigger); default is historical batch",
    )
    group.add_argument(
        "--historical", default=True, action="store_true",
        help="Process historical data (default; kept for reference-CLI compatibility)",
    )
    parser.add_argument("--input", "-i", required=True, help="Folder of csv files to process")
    parser.add_argument("--output", "-o", required=True, help="Datapoints table path (parquet)")
    parser.add_argument("--catalog", "-c", required=False, help="Series catalog path (default <output>_catalog)")
    parser.add_argument("--checkpoint", required=False, help="Streaming checkpoint dir (live mode; default <output>_checkpoint)")
    parser.add_argument(
        "--drain", action="store_true",
        help="Live mode catch-up: process everything currently in the folder, then exit "
             "(Trigger.AvailableNow) instead of polling forever",
    )
    parser.add_argument(
        "--log", "-d", default=None,
        help="Optional, log directory (reference main.py:39 — writes "
             "extractor-{live|historical}.log there in addition to the console)",
    )
    parser.add_argument(
        "--log-level", default="INFO",
        help="Optional, logging level (reference main.py:40)",
    )
    parser.add_argument("--keep-finished", action="store_true", help="Move processed files to finished/ instead of deleting")
    parser.add_argument("--move-failed", action="store_true", help="Accepted for compatibility; failed files always quarantine")
    parser.add_argument("--from-time", type=int, help="Only files with filename ts strictly after this epoch-second")
    parser.add_argument("--until-time", type=int, help="Only files with filename ts strictly before this epoch-second")
    parser.add_argument("--master", default=None, help="Spark master override (default local[$SPARK_GRAFT_CPUS])")
    parser.add_argument(
        "--prometheus-gateway", default=None,
        help="Pushgateway base URL; per-batch ingest metrics are PUT there "
             "(reference monitoring.py:96-100 parity)",
    )
    parser.add_argument(
        "--metrics-textfile", default=None,
        help="Write per-batch metrics in Prometheus text exposition format to "
             "this file (node_exporter textfile-collector pattern)",
    )
    return parser.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = _parse_args(argv)
    catalog = args.catalog or f"{args.output}_catalog"
    logger = configure_logger(args.log, live=args.live, log_level=args.log_level)
    spark = get_spark(app_name="datapoints-csv-extractor", master=args.master)

    from datapoints_csv_extractor_spark.plans.pipeline import run_historical, run_live

    exporter = None
    if args.prometheus_gateway or args.metrics_textfile:
        from datapoints_csv_extractor_spark.streaming.monitoring import (
            PrometheusExporter,
        )

        exporter = PrometheusExporter(
            live=args.live,
            gateway_url=args.prometheus_gateway,
            textfile=args.metrics_textfile,
        )

    def _record(stats: dict) -> None:
        # Every batch's stats feed the exporter: live triggers, the
        # drain's flush and the historical run alike.
        if exporter is not None:
            exporter.record_batch(stats)
            exporter.push()

    if args.live:
        checkpoint = args.checkpoint or f"{args.output}_checkpoint"
        query = run_live(
            spark,
            input_dir=args.input,
            sink_dir=args.output,
            catalog_path=catalog,
            checkpoint_dir=checkpoint,
            delete_on_success=not args.keep_finished,
            available_now=args.drain,
            on_batch=lambda _batch_id, stats: _record(stats),
        )
        query.awaitTermination()
        if args.drain:
            # The settle guard may have deferred files listed mid-write;
            # a drain must not exit with them parked (see live.flush_pending).
            from datapoints_csv_extractor_spark.streaming.live import flush_pending

            flushed = flush_pending(
                spark,
                input_dir=args.input,
                sink_dir=args.output,
                catalog_path=catalog,
                checkpoint_dir=checkpoint,
                delete_on_success=not args.keep_finished,
            )
            if flushed["files"]:
                logger.info("drain flush: %s", flushed)
                _record(flushed)
        return 0

    stats = run_historical(
        spark,
        input_dir=args.input,
        sink_dir=args.output,
        catalog_path=catalog,
        time_from=args.from_time,
        time_until=args.until_time,
        delete_on_success=not args.keep_finished,
    )
    _record(stats)
    print(
        f"Extraction complete: {stats['files']} files, "
        f"{stats['datapoints']} datapoints, {stats['new_series']} new series"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
