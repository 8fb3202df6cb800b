"""Small-file compaction for the live datapoints table (Phase 5).

Live mode appends one file set per micro-batch (8 s cadence => ~10k
file sets/day). Small files are the classic lake killer at 100 TB:
scan planning cost, footer reads, and per-file task overhead all scale
with file COUNT, not bytes. Compaction rewrites each date partition
to ~target-sized files.

Design:
- Partition-at-a-time rewrite into a staging directory + directory
  swap (``store_commit.replace_dir``). Readers keep working against the old files until
  the swap; a crash mid-compact leaves the original partition intact
  (staging is simply abandoned). This is the manual analog of a table
  format's OPTIMIZE/rewrite-files transaction, which is the right
  tool once a transactional format is in play.
- Only partitions exceeding ``max_files`` are touched, so steady-state
  cost is proportional to churn (yesterday's partition), not table
  size.
- File sizing via ``repartition(n)`` where n = ceil(bytes /
  target_file_bytes) measured from the partition's current footprint.
- Every commit here goes through ``sinks/store_commit.py``; the
  manifest-backed stores commit one new ingest with ``update_json``
  (keeping any racing ingest or delete), then ``sweep`` the rest.
"""

from __future__ import annotations

import math
import uuid
from pathlib import Path

from pyspark.sql import SparkSession

from datapoints_csv_extractor_spark.sinks import store_commit

DEFAULT_TARGET_FILE_BYTES = 128 * 1024 * 1024


def _partition_stats(part_dir: Path) -> tuple[int, int]:
    files = [p for p in part_dir.glob("*.parquet") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


def compact_datapoints(
    spark: SparkSession,
    table_path: str | Path,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    max_files: int = 8,
) -> dict[str, tuple[int, int]]:
    """Compact oversized date partitions; returns {dt: (before, after)}.

    Local-filesystem implementation (directory swap). On an object
    store the same flow runs over the store's rename/commit primitive
    or, preferably, a transactional table format's rewrite API.
    """
    base = Path(table_path)
    results: dict[str, tuple[int, int]] = {}
    for part_dir in sorted(base.glob("dt=*")):
        n_files, n_bytes = _partition_stats(part_dir)
        if n_files <= max_files:
            continue
        n_out = max(1, math.ceil(n_bytes / target_file_bytes))
        if n_out >= n_files:
            continue

        staging = base / f"_compact_{part_dir.name}_{uuid.uuid4().hex[:8]}"
        (
            spark.read.parquet(str(part_dir))
            .repartition(n_out)
            .write.mode("overwrite")
            .parquet(str(staging))
        )
        store_commit.replace_dir(staging, part_dir)
        # Drop the staging _SUCCESS marker; partition dirs hold data only.
        (part_dir / "_SUCCESS").unlink(missing_ok=True)
        results[part_dir.name] = (n_files, _partition_stats(part_dir)[0])
    return results


def compact_flat_table(
    spark: SparkSession,
    table_path: str | Path,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    max_files: int = 8,
) -> tuple[int, int] | None:
    """Compact a FLAT (non-partitioned) append-only parquet dir with
    the same staging + swap flow as compact_datapoints. Returns
    (files_before, files_after), or None when under ``max_files``.
    Keeps the _SUCCESS marker — stores use it as their existence
    probe."""
    part_dir = Path(table_path)
    if not part_dir.exists():
        return None
    n_files, n_bytes = _partition_stats(part_dir)
    if n_files <= max_files:
        return None
    n_out = max(1, math.ceil(n_bytes / target_file_bytes))
    if n_out >= n_files:
        return None
    staging = part_dir.parent / f"_compact_{part_dir.name}_{uuid.uuid4().hex[:8]}"
    (
        spark.read.parquet(str(part_dir))
        .repartition(n_out)
        .write.mode("overwrite")
        .parquet(str(staging))
    )
    store_commit.replace_dir(staging, part_dir)
    return (n_files, _partition_stats(part_dir)[0])


def _commit_compaction(
    store: Path, new_id: str, ingests: list, deletes: list, tables
) -> None:
    """Commit ``new_id`` in place of the snapshotted ``ingests`` and
    clear the snapshotted ``deletes`` — an ingest or delete committed
    AFTER the snapshot (a racing writer) was not merged or folded, so
    it stays listed — then sweep every ingest and tombstone directory
    the committed manifest no longer lists."""
    from datapoints_csv_extractor_spark.operators.dedup import (
        EMPTY_MANIFEST,
        manifest_path,
    )

    def _swap(m: dict) -> dict:
        return {
            **m,
            "ingests": [new_id] + [i for i in m["ingests"] if i not in ingests],
            "deletes": [d for d in m["deletes"] if d not in deletes],
        }

    final = store_commit.update_json(
        manifest_path(str(store)), _swap, EMPTY_MANIFEST
    )
    for name in tables:
        store_commit.sweep(
            store / name, "ingest=", {f"ingest={i}" for i in final["ingests"]}
        )
    store_commit.sweep(
        store / "tombstones", "delete=", {f"delete={d}" for d in final["deletes"]}
    )


def compact_band_store(
    spark: SparkSession,
    store_path: str | Path,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    min_ingests: int = 2,
) -> dict[str, tuple[int, int]]:
    """Compact the incremental-dedup band store: merge all committed
    per-ingest directories into ONE new ingest (bucket_counts
    re-aggregated to one row per bucket), commit a manifest listing
    only it, then remove every directory the manifest no longer
    references — which also garbage-collects crash leftovers from
    uncommitted folds. The manifest commit is the atomic cut-over, and
    an ingest racing the compaction commits through the same locked
    update, so its id is either merged or preserved — never lost.
    Returns per-table (files_before, files_after)."""
    from datapoints_csv_extractor_spark.operators.dedup import (
        EMPTY_MANIFEST,
        manifest_path,
        read_band_store,
        store_tombstones,
    )
    from pyspark.sql import functions as F

    store = Path(store_path)
    manifest = store_commit.read_json(manifest_path(str(store)), EMPTY_MANIFEST)
    ingests, deletes = manifest["ingests"], manifest["deletes"]
    # A committed delete makes even a single-ingest store worth
    # compacting (the fold is what physically drops the rows); with
    # nothing ingested there is nothing to fold.
    if not ingests or (len(ingests) < min_ingests and not deletes):
        return {}
    new_id = f"compact{uuid.uuid4().hex[:8]}"
    signatures = read_band_store(spark, str(store), "signatures")
    bands = read_band_store(spark, str(store), "bands")
    dead = store_tombstones(spark, str(store))
    if dead is not None:
        # Tombstone fold: deleted docs' rows are physically dropped,
        # and bucket counts are RECOMPUTED from the surviving bands
        # (the stored per-ingest partials still include the deleted
        # docs' contributions, so summing them would keep buckets
        # artificially hot).
        signatures = signatures.join(dead, "doc_id", "left_anti")
        bands = bands.join(dead, "doc_id", "left_anti")
        counts = bands.groupBy("band_id", "band_hash").agg(
            F.count("*").alias("n")
        )
    else:
        counts = (
            read_band_store(spark, str(store), "bucket_counts")
            .groupBy("band_id", "band_hash")
            .agg(F.sum("n").alias("n"))
        )
    tables = {
        "signatures": signatures,
        "bands": bands,
        "bucket_counts": counts,
    }
    results: dict[str, tuple[int, int]] = {}
    for name, df in tables.items():
        table_dir = store / name
        files = list(table_dir.glob("ingest=*/*.parquet"))
        before = len(files)
        n_bytes = sum(p.stat().st_size for p in files)
        n_out = max(1, math.ceil(n_bytes / target_file_bytes))
        df.repartition(n_out).write.mode("overwrite").parquet(
            str(table_dir / f"ingest={new_id}")
        )
        results[name] = (before, len(list((table_dir / f"ingest={new_id}").glob("*.parquet"))))

    _commit_compaction(store, new_id, ingests, deletes, tables)
    return results


def compact_ivf_store(
    spark: SparkSession,
    index_dir: str | Path,
    min_ingests: int = 2,
    table: str = "assignments",
) -> tuple[int, int] | None:
    """Compact the incremental IVF assignment store
    (``operators/similarity.py``): fold every manifest-committed
    per-shard ingest into ONE new ingest with exactly one file per
    cell, commit a manifest listing only it, then remove every
    directory the manifest no longer references (which also
    garbage-collects crash leftovers from uncommitted folds).

    The embedding-side mirror of ``compact_band_store`` — daily
    ``semantic_dedup_incremental`` / ``assign_to_ivf_index`` folds
    append one small file per (shard x cell) forever, and file COUNT
    is what scan planning pays for at 100 TB. The manifest commit is
    the atomic cut-over; an ingest racing the compaction commits
    through the same locked update, so its id is either in our
    snapshot (merged) or preserved by the swap — never lost. Readers keep the
    ``cell`` partition column, so n_probe pruning is unchanged.
    Centroids are untouched (compaction re-files rows; it never moves
    them between cells — that is ``refresh_ivf_index``'s job).

    Returns (files_before, files_after), or None when fewer than
    ``min_ingests`` ingests are committed.
    """
    from datapoints_csv_extractor_spark.operators.dedup import (
        EMPTY_MANIFEST,
        manifest_path,
        store_tombstones,
    )
    from pyspark.sql import functions as F

    store = Path(index_dir)
    manifest = store_commit.read_json(manifest_path(str(store)), EMPTY_MANIFEST)
    ingests, deletes = manifest["ingests"], manifest["deletes"]
    if not ingests or (len(ingests) < min_ingests and not deletes):
        return None
    new_id = f"compact{uuid.uuid4().hex[:8]}"
    base = store / table
    snap_dirs = [base / f"ingest={i}" for i in ingests]
    before = sum(len(list(d.glob("cell=*/*.parquet"))) for d in snap_dirs)
    snapshot = (
        spark.read.option("basePath", str(base))
        .parquet(*[str(d) for d in snap_dirs])
        .drop("ingest")
    )
    dead = store_tombstones(spark, str(store), id_col="vec_id")
    if dead is not None:
        # Tombstone fold: deleted vectors leave the store physically.
        snapshot = snapshot.join(dead, "vec_id", "left_anti")
    # Hash-partitioned by cell: every cell lands whole in one task, so
    # partitionBy emits exactly one file per cell.
    snapshot.repartition(F.col("cell")).write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(str(base / f"ingest={new_id}"))

    _commit_compaction(store, new_id, ingests, deletes, [table])
    after = len(list((base / f"ingest={new_id}").glob("cell=*/*.parquet")))
    return (before, after)


def compact_ivfpq_store(
    spark: SparkSession,
    index_dir: str | Path,
    min_ingests: int = 2,
) -> tuple[int, int] | None:
    """Compact the IVF-PQ codes store — identical layout and commit
    protocol to the assignment store (``codes/ingest=<id>/cell=*``,
    same manifest, same tombstone fold), so the same compactor
    applies with the table switched."""
    return compact_ivf_store(
        spark, index_dir, min_ingests=min_ingests, table="codes"
    )
