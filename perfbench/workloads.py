"""The three product-path workloads: one timed operation each, a serving
read after it, and output checks made apart from the program.

Each workload drives the engine only through its public functions,
called through their modules (``pipeline.run_historical``, not a
copied binding) so that a traced run's wrappers see every call.

A workload exposes:

- ``warmup``: operations run before timing starts (``op(warmup=True)``).
  The first operation of a fresh JVM pays for class loading, code
  generation and JIT compilation whatever its input size, so the TEBIS
  workloads warm up on a batch of ``warmup_files`` files, which saves
  2-4 s of the run budget; a smaller corpus shard saved nothing;
- ``round_ops``: timed operations per round (a run attempts whole
  rounds, so the share of failed operations is the same in every run);
- ``replays_per_round``: untimed replay operations that close a round;
- ``setup()``, ``op()``, ``end_of_round()``, ``final_checks()``.

``op`` returns an ``OpResult``; a check that fails raises ``CheckFailed``
and the harness counts the operation as failed.
"""

from __future__ import annotations

import datetime
import math
import os
import random
import re
import shutil
import time
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import functions as F

from datapoints_csv_extractor_spark.operators import textops
from datapoints_csv_extractor_spark.plans import corpus_ingest, pipeline, read_api
from datapoints_csv_extractor_spark.sinks import merge_store
from datapoints_csv_extractor_spark.sources import documents
from datapoints_csv_extractor_spark.streaming import live

from corpus_gen import CorpusGenerator
from tebis_gen import TebisGenerator, folder_bytes


class CheckFailed(Exception):
    pass


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


@dataclass
class OpResult:
    seconds: float
    items: int
    read_s: float  # wall time of the serving read after the operation
    store_bytes: int
    input_bytes: int = 0


def dir_bytes(path: Path) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def timed(tracer, name, fn, *args, **kwargs):
    """Run ``fn`` under an operation root span; returns (result, seconds)."""
    with tracer.span(name):
        t0 = time.perf_counter()
        out = fn(*args, **kwargs)
        return out, time.perf_counter() - t0


# ---------------------------------------------------------------- TEBIS --

def _close(a: float, b: float) -> bool:
    # The aggregate read rounds sums to 2 decimals.
    return abs(a - b) <= 0.0051 + 1e-9 * abs(b)


class _Tebis:
    spans = [
        ("datapoints_csv_extractor_spark.plans.pipeline", "run_historical"),
        ("datapoints_csv_extractor_spark.streaming.live", "process_batch"),
        ("datapoints_csv_extractor_spark.sources.files", "find_historical_files"),
        ("datapoints_csv_extractor_spark.sources.tebis_csv", "peek_headers"),
        ("datapoints_csv_extractor_spark.sources.tebis_csv", "read_datapoints"),
        ("datapoints_csv_extractor_spark.sinks.datapoints", "write_datapoints"),
        ("datapoints_csv_extractor_spark.sinks.catalog_store", "append_missing"),
        ("datapoints_csv_extractor_spark.sinks.merge_store", "upsert_into_store"),
        ("datapoints_csv_extractor_spark.sinks.lifecycle", "finalize_succeeded"),
    ]

    def __init__(self, ctx, n_files, rows_per_file, cadence_s):
        self.ctx = ctx
        self.spark = ctx.spark
        self.n_files = n_files
        self.gen = TebisGenerator(ctx.seed, 25, rows_per_file, cadence_s)
        self.sink = ctx.work / "sink"
        self.catalog = ctx.work / "catalog"
        self.batch_points: dict[int, int] = {}

    def _batch(self, folder: Path, warmup: bool) -> tuple[int, list[Path]]:
        k = self.gen.batches_made
        before = self.gen.expected.datapoints
        paths = self.gen.make_batch(self.warmup_files if warmup else self.n_files, folder)
        self.batch_points[k] = self.gen.expected.datapoints - before
        return k, paths

    def _stores_bytes(self) -> int:
        return sum(dir_bytes(p) for p in self.stores())

    def check_catalog(self) -> None:
        rows = self.spark.read.parquet(str(self.catalog)).collect()
        ids = [r.external_id for r in rows]
        check(len(ids) == len(set(ids)), "catalog holds a series more than once")
        check(set(ids) == set(self.gen.expected.names), "catalog series set differs")
        check(all(r.name == self.gen.expected.names[r.external_id] for r in rows),
              "catalog name differs")

    def check_sink_days(self, skip_batches=()) -> None:
        counts = {
            r.dt: r["count"]
            for r in self.spark.read.parquet(str(self.sink)).groupBy("dt").count().collect()
        }
        for k, n in self.batch_points.items():
            if k in skip_batches:
                continue
            day = _day(self.gen.day_range_ms(k)[0])
            check(counts.get(day) == n, f"sink rows for batch {k}: {counts.get(day)} != {n}")


def _utc(ms: int) -> datetime.datetime:
    return datetime.datetime.fromtimestamp(ms / 1000, datetime.timezone.utc)


def _day(ms: int):
    return _utc(ms).date()


def _files_archived(folder: Path, paths: list[Path]) -> None:
    finished = folder / "finished"
    check(all((finished / p.name).exists() for p in paths), "input not in finished/")
    check(not any((folder / "failed").iterdir()), "input in failed/")
    check(not any(p.exists() for p in paths), "input left in place")


class TebisBackfill(_Tebis):
    """``run_historical`` over a fresh folder of 40 files per operation,
    then an hourly aggregate read of the day just ingested. Each round
    ends with a replay of the folder ingested last (copies, mtimes
    kept), checked for exactly-once rows."""

    name = "tebis_backfill"
    warmup = 1
    warmup_files = 8
    round_ops = 1
    replays_per_round = 1
    cores = 4

    def __init__(self, ctx):
        super().__init__(ctx, n_files=40, rows_per_file=300, cadence_s=6)
        self.last: tuple[int, Path] | None = None
        self.replayed: list[int] = []

    def stores(self):
        return [self.sink, self.catalog]

    def setup(self) -> None:
        pass

    def op(self, warmup: bool = False) -> OpResult:
        folder = self.ctx.work / "in" / f"b{self.gen.batches_made}"
        k, paths = self._batch(folder, warmup)
        self.last = (k, folder)
        before = self._stores_bytes()
        res, secs = timed(self.ctx.tracer, "op", pipeline.run_historical,
                          self.spark, folder, self.sink, self.catalog)
        stored = self._stores_bytes() - before
        check(res["files"] == len(paths), f"files {res['files']}")
        check(res["datapoints"] == self.batch_points[k],
              f"datapoints {res['datapoints']} != {self.batch_points[k]}")
        _files_archived(folder, paths)
        return OpResult(secs, self.batch_points[k], self.read(k), stored, folder_bytes(
            [folder / "finished" / p.name for p in paths]))

    def read(self, k: int) -> float:
        lo, hi = self.gen.day_range_ms(k)
        with self.ctx.tracer.span("plans.read_api.read_datapoints"):
            t0 = time.perf_counter()
            dp = (self.spark.read.parquet(str(self.sink))
                  .where(F.col("dt") == F.lit(_day(lo)))
                  .withColumn("ts", F.timestamp_millis("ts_ms")))
            rows = read_api.read_datapoints(
                dp, start=_utc(lo), end=_utc(hi), mode="aggregates", granularity="hour"
            ).collect()
            secs = time.perf_counter() - t0
        want = {key: v for key, v in self.gen.expected.hourly.items() if lo <= key[1] < hi}
        got = {(r.external_id, int(round(r.day.timestamp() * 1000))): r for r in rows}
        check(set(got) == set(want), "aggregate read: (series, hour) set differs")
        for key, (n, s) in want.items():
            r = got[key]
            check(r.n_points == n and _close(r.sum_value, s),
                  f"aggregate read {key}: {r.n_points},{r.sum_value} != {n},{s}")
        return secs

    def end_of_round(self) -> None:
        """Replay: re-run the folder ingested last, from copies."""
        k, folder = self.last
        replay = self.ctx.work / "in" / f"replay{k}"
        replay.mkdir(parents=True)
        for p in sorted((folder / "finished").glob("*.csv")):
            shutil.copy2(p, replay / p.name)
        pipeline.run_historical(self.spark, replay, self.sink, self.catalog)
        self.replayed.append(k)
        lo, _ = self.gen.day_range_ms(k)
        dupes = (self.spark.read.parquet(str(self.sink))
                 .where(F.col("dt") == F.lit(_day(lo)))
                 .groupBy("external_id", "ts_ms").count()
                 .where(F.col("count") != 1).count())
        check(dupes == 0, f"replay of batch {k}: {dupes} (external_id, ts_ms) keys "
                          "not exactly once in the sink")

    def final_checks(self) -> None:
        self.check_catalog()
        self.check_sink_days(skip_batches=set(self.replayed))


class TebisLive(_Tebis):
    """``process_batch`` over 20 fresh files per cycle, with the
    latest-value store on and archiving to ``finished/``; then a
    latest-value read for 10 series."""

    name = "tebis_live"
    warmup = 1
    warmup_files = 5
    round_ops = 1
    replays_per_round = 0
    cores = 4

    def __init__(self, ctx):
        super().__init__(ctx, n_files=20, rows_per_file=60, cadence_s=1)
        self.latest = ctx.work / "latest"
        self.inbox = ctx.work / "live_in"

    def stores(self):
        return [self.sink, self.catalog, self.latest]

    def setup(self) -> None:
        from datapoints_csv_extractor_spark.sinks.lifecycle import setup_directories

        self.finished, self.failed = setup_directories(self.inbox)

    def op(self, warmup: bool = False) -> OpResult:
        k, paths = self._batch(self.inbox, warmup)
        before = self._stores_bytes()
        res, secs = timed(self.ctx.tracer, "op", live.process_batch,
                          self.spark, paths, self.sink, self.catalog,
                          finished_dir=self.finished, failed_dir=self.failed,
                          latest_store_path=str(self.latest))
        stored = self._stores_bytes() - before
        check(res["files"] == len(paths), f"files {res['files']}")
        check(res["datapoints"] == self.batch_points[k],
              f"datapoints {res['datapoints']} != {self.batch_points[k]}")
        _files_archived(self.inbox, paths)
        return OpResult(secs, self.batch_points[k], self.read(k), stored,
                        folder_bytes([self.finished / p.name for p in paths]))

    def read(self, k: int) -> float:
        newest = self.gen.expected.newest
        keys = random.Random(self.ctx.seed * 1000 + k).sample(sorted(newest), 10)
        key_df = self.spark.createDataFrame([(x,) for x in keys], "external_id string")
        with self.ctx.tracer.span("sinks.merge_store.read_store_for_keys"):
            t0 = time.perf_counter()
            rows = merge_store.read_store_for_keys(
                self.spark, str(self.latest), key_df, ["external_id"]
            ).collect()
            secs = time.perf_counter() - t0
        got = {r.external_id: (r.ts_ms, r.value) for r in rows}
        check(set(got) == set(keys), "latest read: key set differs")
        for x in keys:
            check(got[x] == newest[x], f"latest read {x}: {got[x]} != {newest[x]}")
        return secs

    def end_of_round(self) -> None:
        pass

    def final_checks(self) -> None:
        self.check_catalog()
        self.check_sink_days()


# --------------------------------------------------------------- corpus --

EMAIL = re.compile(r"[\w.+-]+@[\w-]+(\.[\w-]+)*\.[a-z]{2,}", re.I)
PHONE = re.compile(r"\+\d{1,3}-\d{3}-\d{4}")
IPV4 = re.compile(r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b")
QUERY = ["merge", "window"]


class CorpusShards:
    """``read_documents_jsonl`` + ``ingest_corpus_shard`` on a 250-doc
    shard (PII redaction, quality gate, incremental dedup, BM25 fold),
    then a BM25 top-10 read for a fixed query."""

    name = "corpus_shards"
    warmup = 1
    round_ops = 1
    replays_per_round = 0
    cores = 4
    spans = [
        ("datapoints_csv_extractor_spark.sources.documents", "read_documents_jsonl"),
        ("datapoints_csv_extractor_spark.plans.corpus_ingest", "ingest_corpus_shard"),
        ("datapoints_csv_extractor_spark.operators.dedup", "dedup_incremental"),
        ("datapoints_csv_extractor_spark.sinks.corpus", "write_corpus"),
        ("datapoints_csv_extractor_spark.operators.textops", "append_bm25_shard"),
    ]

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.gen = CorpusGenerator(ctx.seed, 250)
        self.corpus = ctx.work / "corpus"
        self.bands = ctx.work / "bands"
        self.bm25 = ctx.work / "bm25"
        self.hits: list[int] = []

    def stores(self):
        return [self.corpus, self.bands, self.bm25]

    def setup(self) -> None:
        (self.ctx.work / "shards").mkdir(parents=True)

    def op(self, warmup: bool = False) -> OpResult:
        k = self.gen.shards_made
        path = self.ctx.work / "shards" / f"shard{k}.jsonl"
        n_docs = self.gen.make_shard(path)
        before = sum(dir_bytes(p) for p in self.stores())

        def ingest():
            shard = documents.read_documents_jsonl(self.spark, str(path))
            return corpus_ingest.ingest_corpus_shard(
                self.spark, shard, str(self.corpus), str(self.bands),
                ingest_id=f"shard{k}", bm25_index_path=str(self.bm25))

        res, secs = timed(self.ctx.tracer, "op", ingest)
        stored = sum(dir_bytes(p) for p in self.stores()) - before
        exp = self.gen.expected
        check(res["received"] == n_docs, f"received {res['received']} != {n_docs}")
        check(res["received"] == res["low_quality"] + res["duplicate"] + res["published"],
              f"ledger identity broken: {res}")
        check(res["low_quality"] == exp.low_quality[k],
              f"low_quality {res['low_quality']} != {exp.low_quality[k]}")
        n_copies = sum(1 for d in exp.copies if d // 1000 == k + 1)
        check(res["duplicate"] >= n_copies, f"duplicate {res['duplicate']} < {n_copies}")
        check(res["indexed"] == res["published"], f"indexed {res['indexed']}")
        return OpResult(secs, n_docs, self.read(), stored, os.path.getsize(path))

    def read(self) -> float:
        with self.ctx.tracer.span("operators.textops.bm25_topk_from_index"):
            t0 = time.perf_counter()
            rows = textops.bm25_topk_from_index(self.spark, str(self.bm25), QUERY, k=10).collect()
            secs = time.perf_counter() - t0
        check(len(rows) == 10, f"bm25 returned {len(rows)} hits")
        scores = [r.bm25 for r in rows]
        check(all(a >= b for a, b in zip(scores, scores[1:])), "bm25 scores increase")
        check(all(math.isfinite(s) and s > 0 for s in scores), "bm25 score not positive")
        self.hits.extend(r.doc_id for r in rows)
        return secs

    def end_of_round(self) -> None:
        pass

    def final_checks(self) -> None:
        rows = self.spark.read.parquet(str(self.corpus)).select("doc_id", "text").collect()
        ids = [r.doc_id for r in rows]
        check(len(ids) == len(set(ids)), "a doc_id appears twice in the corpus")
        text = {r.doc_id: r.text for r in rows}
        for pat in (EMAIL, PHONE, IPV4):
            leaked = [d for d, t in text.items() if pat.search(t)]
            check(not leaked, f"PII pattern {pat.pattern} survived in {leaked[:3]}")
        copies = self.gen.expected.copies & set(text)
        check(not copies, f"planted copies published: {sorted(copies)[:3]}")
        for d in self.hits:
            check(d in text, f"bm25 hit {d} is not a published document")
            check(set(QUERY) & set(text[d].split()), f"bm25 hit {d} has no query term")
