"""Seeded TEBIS wide-CSV batches, with the generator's own expected records.

Every batch is a folder of ``TEBIS_FK_<epoch>.csv`` files in the export
format the engine reads: latin-1, ``;`` separated, a header row whose
first cell is empty and whose other cells are ``external_id : name``,
a units row, then one row per second-aligned sample with epoch-second
timestamps and decimal-comma values.

Series come from a fixed pool and recur across files and batches, as
sensors do in real exports; every batch also introduces a few new
series, which then join the pool. So the catalog upsert both finds and
creates series. Some ids contain ``:`` (the header splits on the last
colon). Some cells are empty and some hold non-numeric text; both are
skipped by the engine and left out of the expected records.

Batch ``k`` covers its own UTC day (day ``k`` after ``BASE_DAY``), so
each batch lands in its own ``dt=`` partition of the datapoints sink
and every ``(external_id, ts_ms)`` key is generated exactly once.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

BASE_DAY = 20_000  # 2024-10-04 UTC, in days since the epoch
POOL_SIZE = 150
NEW_SERIES_PER_BATCH = 3
NULL_RATE = 0.02
BAD_VALUE_RATE = 0.005
COLON_ID_RATE = 0.1
UNITS = ["°C", "bar", "h", "mA", "G", "m³/h", "%", ""]
NAMES = ["Kühlwasser", "Vorlauf", "Rücklauf", "Druck", "Drehzahl", "Strom",
         "Füllstand", "Durchfluß", "Laufzeit", "Leistung"]
BAD_VALUES = ["n/a", "###", "--", "Fehler"]


@dataclass
class Expected:
    """What a correct ingest of the generated batches must hold."""

    # (external_id, hour start in epoch ms) -> [count, sum]
    hourly: dict[tuple[str, int], list] = field(default_factory=dict)
    # external_id -> (ts_ms, value) of its newest non-null point
    newest: dict[str, tuple[int, float]] = field(default_factory=dict)
    # external_id -> name
    names: dict[str, str] = field(default_factory=dict)
    datapoints: int = 0

    def add_file(self, series, ts_s: np.ndarray, vals: np.ndarray,
                 ok: np.ndarray) -> None:
        """Record one file: ``vals``/``ok`` are (rows, series) arrays."""
        hours = (ts_s // 3600) * 3_600_000
        for h in np.unique(hours):
            rows = hours == h
            counts = ok[rows].sum(axis=0)
            sums = np.where(ok[rows], vals[rows], 0.0).sum(axis=0)
            for c, (ext, _) in enumerate(series):
                if counts[c]:
                    cell = self.hourly.setdefault((ext, int(h)), [0, 0.0])
                    cell[0] += int(counts[c])
                    cell[1] += float(sums[c])
        self.datapoints += int(ok.sum())
        last = ok.shape[0] - 1 - np.argmax(ok[::-1], axis=0)
        for c, (ext, name) in enumerate(series):
            self.names[ext] = name
            if ok[last[c], c]:
                ts_ms = int(ts_s[last[c]]) * 1000
                if ext not in self.newest or self.newest[ext][0] < ts_ms:
                    self.newest[ext] = (ts_ms, float(vals[last[c], c]))


class TebisGenerator:
    """Writes batch folders; batch ``k`` depends only on (seed, k)."""

    def __init__(self, seed: int, series_per_file: int, rows_per_file: int,
                 cadence_s: int):
        self.seed = seed
        self.series_per_file = series_per_file
        self.rows_per_file = rows_per_file
        self.cadence_s = cadence_s
        rng = np.random.default_rng([seed, 0])
        self.pool = [self._series(rng, f"S{i:04d}") for i in range(POOL_SIZE)]
        self.expected = Expected()
        self.batches_made = 0

    def _series(self, rng: np.random.Generator, tag: str) -> tuple[str, str]:
        ext = f"PB{self.seed % 1000:03d}.{tag}"
        if rng.random() < COLON_ID_RATE:
            ext = f"TEBIS:{ext}"
        name = f"{NAMES[int(rng.integers(len(NAMES)))]} {tag}"
        return ext, name

    def day_range_ms(self, k: int) -> tuple[int, int]:
        start = (BASE_DAY + k) * 86_400_000
        return start, start + 86_400_000

    def make_batch(self, n_files: int, folder: Path) -> list[Path]:
        """Write the next batch (``n_files`` files) into ``folder`` and
        add it to the expected records."""
        k = self.batches_made
        rng = np.random.default_rng([self.seed, 1, k])
        new = [self._series(rng, f"N{k:03d}x{i}") for i in range(NEW_SERIES_PER_BATCH)]
        pool = self.pool + new
        folder.mkdir(parents=True, exist_ok=True)
        day_start_s = (BASE_DAY + k) * 86_400
        span_s = self.rows_per_file * self.cadence_s
        paths = []
        for j in range(n_files):
            picks = rng.choice(len(pool), self.series_per_file, replace=False)
            if j == 0:  # every new series appears at least once
                picks[: len(new)] = np.arange(len(self.pool), len(pool))
                picks = np.unique(picks)
                while picks.size < self.series_per_file:
                    picks = np.unique(np.append(picks, rng.integers(len(pool))))
            series = [pool[i] for i in picks]
            t0 = day_start_s + j * span_s
            ts = t0 + self.cadence_s * np.arange(self.rows_per_file, dtype=np.int64)
            vals = rng.integers(-500_000, 500_000, size=(self.rows_per_file, len(series))) / 1000.0
            u = rng.random((self.rows_per_file, len(series)))
            # 0 = value, 1 = empty cell, 2.. = index into BAD_VALUES + 2
            kind = np.where(u < NULL_RATE, 1, 0)
            bad = (u >= NULL_RATE) & (u < NULL_RATE + BAD_VALUE_RATE)
            kind = np.where(bad, 2 + rng.integers(len(BAD_VALUES), size=u.shape), kind)
            lines = [
                ";" + ";".join(f"{e} : {n}" for e, n in series),
                "Zeitstempel;" + ";".join(
                    UNITS[int(i)] for i in rng.integers(len(UNITS), size=len(series))
                ),
            ]
            specials = ["", ""] + BAD_VALUES
            for t, row, kinds in zip(ts.tolist(), vals.tolist(), kind.tolist()):
                cells = [f"{v:.3f}".replace(".", ",") if kd == 0 else specials[kd]
                         for v, kd in zip(row, kinds)]
                lines.append(f"{t};" + ";".join(cells))
            path = folder / f"TEBIS_FK_{t0}.csv"
            with open(path, "w", encoding="latin-1", newline="") as fh:
                fh.write("\n".join(lines) + "\n")
            paths.append(path)
            self.expected.add_file(series, ts, vals, kind == 0)
        self.pool.extend(new)
        self.batches_made += 1
        return paths


def folder_bytes(paths: list[Path]) -> int:
    return sum(os.path.getsize(p) for p in paths)
