"""Unified persisted-store inventory — the one-glance operational read
across every standing index/model/table the engine maintains.

Each store family keeps its own detailed health report
(``dedup.band_store_stats``, ``textops.bm25_index_stats``,
``similarity.ivf_cell_balance``, ``merge_store.store_stats``); this
module answers the level above them: WHICH stores exist under my data
root, are they readable, how many committed folds/versions do they
hold, how much data, how much tombstoned dead weight. The platform
dashboard row, not the maintenance deep-dive.

Every adapter is defensive (a missing or half-written store yields an
ok=false row, never an exception — an inventory that crashes on the
broken store it should be reporting is useless) and reads only
manifests plus metadata-pruned counts, so the output is
store-count-sized.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from datapoints_csv_extractor_spark.sinks import store_commit

_COLUMNS = (
    "store_type string, path string, ok boolean, n_commits long, "
    "n_rows long, n_tombstones long, detail string"
)


def _count(spark: SparkSession, path: str) -> int:
    return spark.read.parquet(path).count()


def _band(spark: SparkSession, path: str) -> tuple:
    from datapoints_csv_extractor_spark.operators.dedup import (
        manifest_path,
        store_tombstones,
    )

    # A fresh/absent directory is a valid EMPTY store to the readers
    # (their crash-safety posture) but "not a store" to an inventory:
    # read without a default, so a missing manifest raises.
    m = store_commit.read_json(manifest_path(path))
    n_rows = sum(
        _count(spark, os.path.join(path, "signatures", f"ingest={i}"))
        for i in m["ingests"]
    )
    dead = store_tombstones(spark, path)
    return (
        len(m["ingests"]),
        n_rows,
        dead.count() if dead is not None else 0,
        f"ingests={','.join(m['ingests'][:5])}",
    )


def _bm25(spark: SparkSession, path: str) -> tuple:
    from datapoints_csv_extractor_spark.operators.textops import (
        _bm25_meta_path,
        _bm25_read_postings,
        _bm25_tombstones,
    )

    meta = store_commit.read_json(_bm25_meta_path(path))
    n_rows = _bm25_read_postings(spark, path, meta).count()
    dead = _bm25_tombstones(spark, path, meta)
    return (
        len(meta["shards"]),
        n_rows,
        dead.count() if dead is not None else 0,
        f"n_docs={sum(s['n_docs'] for s in meta['shards'].values())}",
    )


def _ivf(spark: SparkSession, path: str) -> tuple:
    from datapoints_csv_extractor_spark.operators.dedup import (
        manifest_path,
        store_tombstones,
    )

    m = store_commit.read_json(manifest_path(path))
    n_rows = sum(
        _count(spark, os.path.join(path, "assignments", f"ingest={i}"))
        for i in m["ingests"]
    )
    dead = store_tombstones(spark, path, id_col="vec_id")
    n_cells = _count(spark, os.path.join(path, "centroids"))
    return (
        len(m["ingests"]),
        n_rows,
        dead.count() if dead is not None else 0,
        f"n_cells={n_cells}",
    )


def _sq(spark: SparkSession, path: str) -> tuple:
    from datapoints_csv_extractor_spark.operators.similarity import (
        _sq_codes,
        _sq_tombstones,
    )

    params = store_commit.read_json(os.path.join(path, "params.json"))
    dead = _sq_tombstones(spark, path)
    return (
        1,
        _count(spark, _sq_codes(path, params)),
        dead.count() if dead is not None else 0,
        f"dim={len(params['mins'])}",
    )


def _merge(spark: SparkSession, path: str) -> tuple:
    from datapoints_csv_extractor_spark.sinks.merge_store import (
        latest_version,
        read_store,
    )

    v = latest_version(path) or 0
    n_rows = read_store(spark, path).count()
    return v, n_rows, 0, f"version={v}"


def _lm(spark: SparkSession, path: str) -> tuple:
    meta = store_commit.read_json(os.path.join(path, "meta.json"))
    return 1, _count(spark, os.path.join(path, "bigrams")), 0, (
        f"vocab={meta['vocab_size']}"
    )


def _dsir(spark: SparkSession, path: str) -> tuple:
    meta = store_commit.read_json(os.path.join(path, "meta.json"))
    return 1, _count(spark, os.path.join(path, "ratios")), 0, (
        f"buckets={meta['n_buckets']}"
    )


def _pca(spark: SparkSession, path: str) -> tuple:
    from datapoints_csv_extractor_spark.operators.similarity import pca_load

    m = pca_load(spark, path)
    return 1, m["n"], 0, (
        f"d={m['d']} k={len(m['components'])} "
        f"top_eig={m['eigenvalues'][0]:.4g}"
    )


_ADAPTERS = {
    "band": _band,
    "bm25": _bm25,
    "ivf": _ivf,
    "ivfpq": _ivf,  # same manifest + assignments layout, codes per cell
    "sq": _sq,
    "merge": _merge,
    "lm": _lm,
    "dsir": _dsir,
    "pca": _pca,
}


def store_inventory(
    spark: SparkSession, stores: dict[str, tuple[str, str]]
) -> DataFrame:
    """One health row per registered store. ``stores`` maps a display
    name to (store_type, path); unknown types and unreadable stores
    come back ok=false with the error class in ``detail``."""
    rows = []
    for name, (stype, path) in sorted(stores.items()):
        adapter = _ADAPTERS.get(stype)
        if adapter is None:
            rows.append((name, path, False, 0, 0, 0, f"unknown type {stype}"))
            continue
        try:
            n_commits, n_rows, n_dead, detail = adapter(spark, path)
            rows.append(
                (f"{stype}:{name}", path, True, n_commits, n_rows, n_dead,
                 detail)
            )
        except Exception as exc:  # noqa: BLE001 — inventory must not throw
            rows.append(
                (f"{stype}:{name}", path, False, 0, 0, 0,
                 type(exc).__name__)
            )
    return spark.createDataFrame(rows, _COLUMNS)
