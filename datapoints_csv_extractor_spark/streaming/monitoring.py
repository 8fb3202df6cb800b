"""Operational metrics (C3 / A4 parity, monitoring.py:49-100).

The reference pushes Prometheus counters after each file and batch
(files started/finished/failed, datapoint totals, timing gauges).
Spark-first, the same signals come from TWO built-in channels — no
hand-rolled counters in the data path:

- ``IngestMetricsListener``: a ``StreamingQueryListener`` that turns
  every micro-batch's progress event (rows/sec, batch duration, state
  size) into a metrics record handed to a pluggable ``publish``
  callable (Prometheus pushgateway, StatsD, a log line — deployment
  concern, exactly like the reference's CollectorRegistry wiring).
- per-batch business counters (datapoints, series, new series) ride
  the write job itself via ``Observation`` (see streaming/live.py) —
  they cost zero extra scans.

The reference's gauges map as: files_started/finished -> batch
``numInputRows``/progress events; unprocessed_files -> source backlog
(``latestOffset - endOffset`` in progress); failed files -> the
quarantine counter in plans/pipeline metrics.
"""

from __future__ import annotations

import json
from typing import Callable

from pyspark.sql.streaming import StreamingQueryListener


class IngestMetricsListener(StreamingQueryListener):
    """Publishes one flat record per micro-batch progress event."""

    def __init__(self, publish: Callable[[dict], None] | None = None) -> None:
        self._publish = publish or (lambda rec: None)
        self.records: list[dict] = []

    def onQueryStarted(self, event) -> None:
        rec = {"event": "started", "id": str(event.id), "name": event.name}
        self.records.append(rec)
        self._publish(rec)

    def onQueryProgress(self, event) -> None:
        p = event.progress
        rec = {
            "event": "progress",
            "name": p.name,
            "batch_id": p.batchId,
            "num_input_rows": p.numInputRows,
            "input_rows_per_second": p.inputRowsPerSecond,
            "processed_rows_per_second": p.processedRowsPerSecond,
            "duration_ms": dict(p.durationMs) if p.durationMs else {},
        }
        self.records.append(rec)
        self._publish(rec)

    def onQueryTerminated(self, event) -> None:
        rec = {
            "event": "terminated",
            "id": str(event.id),
            "exception": event.exception,
        }
        self.records.append(rec)
        self._publish(rec)

    def onQueryIdle(self, event) -> None:  # pragma: no cover - timing
        pass


class PrometheusExporter:
    """Concrete Prometheus exporter behind the ``publish`` seam —
    metric-name parity with the reference's registry
    (monitoring.py:34-100): same counters/gauges, same
    ``csv_live``/``csv_hist`` namespace split, same ``project_name``
    label. Pure stdlib: the container has no prometheus_client, and the
    text exposition format + pushgateway PUT protocol are public specs,
    so this renders the format directly and pushes via urllib (or an
    injectable ``sender`` for tests/alternate transports). Can also
    write a textfile for the node_exporter textfile collector.
    """

    COUNTERS = {
        "created_time_series_total": "Number of time series created since the extractor started running",
        "posted_data_points_total": "Number of datapoints posted since the extractor started running",
        "failed_processing_files": "Number of files where processing failed since the extractor started running",
    }
    GAUGES = {
        "posted_time_series_count": "Number of timeseries that had valid datapoints in the current file",
        "available_csv_files": "Number of csv files in the folder that could be processed by the extractor",
        "unprocessed_files": "Number of csv files that remains to be processed in this batch",
        "successfully_processed_files": "Number of csv files that has been successfully processed in this batch",
        "input_rows_last_batch": "Number of input rows in the most recent micro-batch",
    }

    def __init__(
        self,
        live: bool = True,
        project_name: str = "default",
        job: str = "datapoints-csv-extractor",
        gateway_url: str | None = None,
        textfile: str | None = None,
        sender: Callable[[str, str], None] | None = None,
    ) -> None:
        self.namespace = "csv_live" if live else "csv_hist"
        self.project_name = project_name
        self.job = job
        self.gateway_url = gateway_url
        self.textfile = textfile
        self._sender = sender
        self.values: dict[str, float] = {
            name: 0.0 for name in {**self.COUNTERS, **self.GAUGES}
        }

    def incr(self, name: str, amount: float = 1) -> None:
        self.values[name] += amount

    def set_gauge(self, name: str, value: float) -> None:
        self.values[name] = float(value)

    def record_batch(self, stats: dict[str, int]) -> None:
        """Fold one ``process_batch`` stats dict into the registry
        (the reference increments after each posted file/batch)."""
        self.incr("posted_data_points_total", stats.get("datapoints", 0))
        self.incr("created_time_series_total", stats.get("new_series", 0))
        self.set_gauge("posted_time_series_count", stats.get("series", 0))
        self.set_gauge("successfully_processed_files", stats.get("files", 0))
        self.set_gauge("unprocessed_files", stats.get("deferred_unsettled", 0))
        if "available_files" in stats:
            # Only callers that actually COUNT files feed this gauge —
            # its HELP text promises csv files, not rows.
            self.set_gauge("available_csv_files", stats["available_files"])

    def record_failure(self, n_files: int = 1) -> None:
        self.incr("failed_processing_files", n_files)

    @staticmethod
    def _escape_label(value: str) -> str:
        """Label-value escaping per the exposition spec: backslash,
        double quote, and newline must be escaped or the rendered text
        is invalid and scrapes fail."""
        return (
            value.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")
        )

    def render(self) -> str:
        """Standard text exposition format (one HELP/TYPE block per
        metric, ``namespace_name{project_name="..."} value``)."""
        label = self._escape_label(self.project_name)
        lines: list[str] = []
        for name, help_text in {**self.COUNTERS, **self.GAUGES}.items():
            full = f"{self.namespace}_{name}"
            kind = "counter" if name in self.COUNTERS else "gauge"
            lines.append(f"# HELP {full} {help_text}")
            lines.append(f"# TYPE {full} {kind}")
            lines.append(f'{full}{{project_name="{label}"}} {self.values[name]}')
        return "\n".join(lines) + "\n"

    def push(self) -> None:
        """Push to the gateway and/or textfile; failures are logged,
        never raised (reference monitoring.py:96-100 swallows push
        errors the same way — metrics must not take down ingest)."""
        body = self.render()
        try:
            if self._sender is not None:
                self._sender(self.job, body)
            elif self.gateway_url:
                import urllib.request

                req = urllib.request.Request(
                    f"{self.gateway_url.rstrip('/')}/metrics/job/{self.job}",
                    data=body.encode("utf-8"),
                    method="PUT",
                    headers={"Content-Type": "text/plain; version=0.0.4"},
                )
                urllib.request.urlopen(req, timeout=5).close()
            if self.textfile:
                from datapoints_csv_extractor_spark.sinks import store_commit

                store_commit.write_text(self.textfile, body)
        except Exception as exc:  # noqa: BLE001 - metrics are best-effort
            import logging

            logging.getLogger(__name__).error(
                "Failed to push prometheus data: %s", exc
            )

    def publish(self, rec: dict) -> None:
        """IngestMetricsListener-compatible hook: gauge the stream's
        progress signals, then push. numInputRows counts ROWS, so it
        feeds the rows gauge — available_csv_files (a file count by
        its HELP contract) is only set by callers that count files
        (record_batch with ``available_files``)."""
        if rec.get("event") == "progress":
            self.set_gauge("input_rows_last_batch", rec.get("num_input_rows", 0))
        self.push()


def log_publisher(logger) -> Callable[[dict], None]:
    """Publish metrics records as structured log lines (the in-container
    stand-in for the reference's Prometheus pushgateway at
    monitoring.py:96-100)."""

    def publish(rec: dict) -> None:
        logger.info("ingest_metrics %s", json.dumps(rec, default=str))

    return publish
