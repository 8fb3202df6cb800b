"""Hash-bucket-partitioned current-state store: MERGE INTO semantics
on plain parquet, with versioned-manifest snapshots.

The scale problem with materializing ``merge_upsert`` results: a
naive implementation rewrites the WHOLE store every batch — O(corpus)
per ingest. This store partitions current state by
``xxhash64(keys) % n_buckets``; an incoming delta only touches the
buckets its keys hash into, so a batch's cost is
O(|delta| + |affected buckets|).

Commits are MANIFESTS, not directory mutations (the Iceberg/Delta
idea reduced to its essentials): every bucket generation is an
immutable parquet directory under ``buckets/``; manifest
``manifests/v<k>.json`` maps bucket id -> generation directory, and
the latest version is the highest committed one. An upsert writes
ONLY the affected buckets' new generations and commits a manifest
that references new generations for those buckets and the PRIOR
generations for everything else — no copying, no in-place
overwrite. That buys:

- **snapshot isolation**: a reader pinned to a manifest never sees a
  half-applied batch (the commit is one exclusive file create);
- **time travel**: ``read_store(version=k)`` reads any retained
  snapshot;
- **cheap rollback/audit**: old manifests are a few bytes;
  ``vacuum_store`` reclaims unreferenced generation directories when
  history is no longer needed.

Replaying a batch is harmless: latest-wins merge is idempotent (max
of a max) — the replay commits a new version with identical content.

Conflict rule (sinks/store_commit.py): an upsert commits ``v<k+1>``
for the version ``k`` it read by exclusive create, so of two writers
on one base the second raises ``CommitConflict``, its generations are
swept, and the store keeps the winner's rows.

Tombstones are applied and DROPPED at merge time (the store holds
only live rows). Correct under the streaming contract — batches
arrive in order, so a delete can never be trumped by an out-of-order
older update. For out-of-order ingestion keep the change-log and
compact with ``merge_upsert`` instead.

Reference analog: the catalog store's append-missing upsert
(sinks/catalog_store.py, S6/S8) is the insert-only special case;
this adds updates, deletes, and snapshots with the same parquet-only
posture.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from datapoints_csv_extractor_spark.operators.relational import merge_upsert
from datapoints_csv_extractor_spark.sinks import store_commit

_BUCKET = "__bucket"
_MANIFEST_NAME = re.compile(r"v(\d+)\.json")


def bucket_expr(keys: list[str], n_buckets: int) -> Column:
    """The store's bucket of a row: ``pmod(xxhash64(*keys), n_buckets)``.
    Every writer, reader and ``affected_hint`` producer uses this one
    expression, so they cannot drift apart."""
    return F.pmod(
        F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)
    ).cast("int")


def _with_bucket(df: DataFrame, keys: list[str], n_buckets: int) -> DataFrame:
    return df.withColumn(_BUCKET, bucket_expr(keys, n_buckets))


def _manifest_dir(store_path: str) -> str:
    return os.path.join(store_path, "manifests")


def _manifest_file(store_path: str, version: int) -> str:
    return os.path.join(_manifest_dir(store_path), f"v{version}.json")


def latest_version(store_path: str) -> int | None:
    """The highest committed manifest version, or None for no store."""
    try:
        names = os.listdir(_manifest_dir(store_path))
    except FileNotFoundError:
        return None
    versions = [
        int(m.group(1)) for m in map(_MANIFEST_NAME.fullmatch, names) if m
    ]
    return max(versions, default=None)


def _read_manifest(store_path: str, version: int | None = None) -> dict:
    v = version if version is not None else latest_version(store_path)
    # Version 0 IS the empty store (commits start at v1): returning
    # the empty manifest here gives store_changes(spark, path, 0, k) a
    # supported bootstrap diff — the full state as inserts — instead
    # of a FileNotFoundError on manifests/v0.json.
    if v is None or v == 0:
        return {"version": 0, "n_buckets": None, "schema": None, "buckets": {}}
    return store_commit.read_json(_manifest_file(store_path, v))


def _align_to_schema(df: DataFrame, schema) -> DataFrame:
    """Project ``df`` onto ``schema`` (a StructType): missing columns
    materialize as typed NULLs, order follows the schema — the
    add-column evolution contract (rows written before a column
    existed read it as NULL, like Delta/Iceberg)."""
    cols = []
    have = set(df.columns)
    for f in schema.fields:
        if f.name in have:
            cols.append(F.col(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)


def read_store(
    spark: SparkSession, store_path: str, version: int | None = None
) -> DataFrame:
    """Current state at the latest (or a pinned) snapshot — all live
    rows, projected onto the snapshot's schema (generations written
    before a column was added surface it as NULL — add-column
    evolution). An empty snapshot (every key tombstoned) returns an
    empty frame from the manifest's schema."""
    from pyspark.sql import types as T

    m = _read_manifest(store_path, version)
    schema = T.StructType.fromJson(m["schema"]) if m["schema"] else None
    dirs = [
        os.path.join(store_path, "buckets", d) for d in m["buckets"].values()
    ]
    if dirs:
        raw = spark.read.option("mergeSchema", "true").parquet(*dirs)
        return _align_to_schema(raw, schema) if schema else raw
    return spark.createDataFrame([], schema)


def upsert_into_store(
    spark: SparkSession,
    delta: DataFrame,
    store_path: str,
    keys: list[str],
    version_cols: list[str],
    deleted_col: str = "deleted",
    n_buckets: int = 64,
    affected_hint: list[int] | None = None,
) -> list[int]:
    """Merge one delta batch into the store as a new snapshot; returns
    the bucket ids whose generations were rewritten (the O(affected)
    unit of work).

    Plan per batch: bucket the delta, collect its DISTINCT bucket ids
    (parameter-sized, <= n_buckets), read ONLY those buckets' current
    generation directories, latest-wins merge (one partial-aggregated
    shuffle over delta + affected state), write the affected buckets'
    NEW generation directories, and commit a manifest referencing new
    generations for them and prior generations for the rest.

    Add-column schema evolution: a delta carrying columns the store
    has never seen WIDENS the committed schema (new fields append;
    prior generations are untouched and read the new columns as NULL
    through read_store's aligned projection). A delta MISSING stored
    columns fills them with NULL for its own rows. Changing an
    existing column's TYPE is refused loudly — silent coercion is how
    stores corrupt.

    ``affected_hint``: the delta's exact distinct bucket-id set when
    the caller already has it in hand (e.g. observed as a metric of
    the job that materialized the delta) — skips the census action.
    The hint must cover ``bucket_expr(keys, n_buckets)`` over the
    delta's rows: a staged bucket the hint does not list raises
    ``ValueError`` before the commit, and the store stays at its prior
    version.

    A concurrent upsert that commits first makes this one raise
    ``store_commit.CommitConflict`` (see the module docstring)."""
    from pyspark.sql import types as T

    m = _read_manifest(store_path)
    n_buckets = m["n_buckets"] or n_buckets
    # The bucketed delta is read twice (the affected-bucket census
    # here, the merge+write below). Deliberately NOT checkpointed:
    # measured at demo scale the re-run of the delta DAG is cheaper
    # than materializing it, and at production scale the census is a
    # column-pruned scan (only the key columns reach the hash) while
    # a checkpoint would spool the full delta — the same
    # double-scan-the-source trade Delta Lake's MERGE makes for its
    # touched-file pruning pass.
    delta_b = _with_bucket(delta, keys, n_buckets)
    if affected_hint is not None:
        affected = sorted({int(b) for b in affected_hint})
    else:
        affected = sorted(
            r[_BUCKET] for r in delta_b.select(_BUCKET).distinct().collect()
        )
    if not affected:
        return []

    delta_payload = delta_b.drop(_BUCKET, deleted_col).schema
    if m["schema"]:
        stored = T.StructType.fromJson(m["schema"])
        stored_types = {f.name: f.dataType for f in stored.fields}
        for f in delta_payload.fields:
            if f.name in stored_types and f.dataType != stored_types[f.name]:
                raise ValueError(
                    f"schema evolution refused: column {f.name!r} is "
                    f"{stored_types[f.name].simpleString()} in the store "
                    f"but {f.dataType.simpleString()} in the delta"
                )
        widened = T.StructType(
            list(stored.fields)
            + [f for f in delta_payload.fields if f.name not in stored_types]
        )
    else:
        widened = delta_payload
    with_deleted = T.StructType(
        list(widened.fields)
        + [T.StructField(deleted_col, T.BooleanType())]
    )

    base_dirs = [
        os.path.join(store_path, "buckets", m["buckets"][str(b)])
        for b in affected
        if str(b) in m["buckets"]
    ]
    if base_dirs:
        base = _align_to_schema(
            spark.read.option("mergeSchema", "true").parquet(*base_dirs),
            widened,
        ).withColumn(deleted_col, F.lit(False))  # stored rows are live
    else:
        base = spark.createDataFrame([], with_deleted)
    delta_aligned = _align_to_schema(delta_b, with_deleted).withColumn(
        deleted_col, F.coalesce(F.col(deleted_col), F.lit(False))
    )
    merged = merge_upsert(
        base,
        delta_aligned,
        keys=keys,
        version_cols=version_cols, deleted_col=deleted_col,
    )
    out = _with_bucket(merged.drop(deleted_col), keys, n_buckets)

    gen = uuid.uuid4().hex[:8]
    broot = os.path.join(store_path, "buckets")
    staging = os.path.join(broot, f"_stage_{gen}")
    out.write.mode("overwrite").partitionBy(_BUCKET).parquet(staging)
    staged = {
        name.split("=", 1)[1]: name
        for name in os.listdir(staging)
        if name.startswith(f"{_BUCKET}=")
    }
    stray = sorted(set(staged) - {str(b) for b in affected}, key=int)
    if stray:
        shutil.rmtree(staging, ignore_errors=True)
        raise ValueError(
            f"affected_hint misses bucket(s) {stray} of the delta; "
            f"store {store_path!r} left at version {m['version']}"
        )
    new_dirs: dict[str, str] = {}
    for b, name in staged.items():
        new_dirs[b] = f"g{gen}_b{b}"
        store_commit.publish_dir(
            os.path.join(staging, name), os.path.join(broot, new_dirs[b])
        )
    shutil.rmtree(staging, ignore_errors=True)

    buckets = dict(m["buckets"])
    for b in affected:
        buckets.pop(str(b), None)  # tombstoned-empty buckets drop out
        if str(b) in new_dirs:
            buckets[str(b)] = new_dirs[str(b)]
    manifest = {
        "version": m["version"] + 1,
        "n_buckets": n_buckets,
        # The committed schema is the WIDENED one: evolution is
        # monotone per commit, and every snapshot knows exactly the
        # columns it serves.
        "schema": widened.jsonValue(),
        "buckets": buckets,
    }
    try:
        store_commit.create_json(
            _manifest_file(store_path, manifest["version"]), manifest
        )
    except store_commit.CommitConflict:
        store_commit.sweep(broot, f"g{gen}_", ())
        raise
    return affected


def vacuum_store(store_path: str, keep_last: int = 1) -> int:
    """Reclaim history: keep the newest ``keep_last`` manifests (the
    latest always survives), delete older manifest files and every
    generation directory no retained manifest references. Returns the
    number of directories removed. The time-travel window is exactly
    the retained manifest set — the Delta VACUUM trade, stated
    plainly."""
    latest = latest_version(store_path)
    if latest is None:
        return 0
    keep = {v for v in range(latest - keep_last + 1, latest + 1) if v >= 1}
    referenced: set[str] = set()
    for v in keep:
        referenced.update(_read_manifest(store_path, v)["buckets"].values())
    removed = store_commit.sweep(os.path.join(store_path, "buckets"), "", referenced)
    store_commit.sweep(_manifest_dir(store_path), "", {f"v{v}.json" for v in keep})
    return removed


def store_changes(
    spark: SparkSession,
    store_path: str,
    from_version: int,
    to_version: int | None = None,
    keys: list[str] | None = None,
) -> DataFrame:
    """Change data feed OUT of the store: diff two retained snapshots
    into (change, <key cols>, <payload cols>) rows with change in
    {'insert', 'update', 'delete'} — what a downstream consumer
    replays to stay in sync without re-reading the full state.

    Cost shape: both snapshots share every generation directory their
    manifests agree on, so the only real work is the full-outer join
    over the DIFFERING buckets' rows; identical buckets could be
    pruned by comparing manifest entries before reading (done here —
    shared generations are skipped entirely, making an idle store's
    diff free)."""
    m_from = _read_manifest(store_path, from_version)
    m_to = _read_manifest(store_path, to_version)
    if keys is None:
        raise ValueError("keys is required to align the two snapshots")
    changed = {
        b
        for b in set(m_from["buckets"]) | set(m_to["buckets"])
        if m_from["buckets"].get(b) != m_to["buckets"].get(b)
    }

    def _read(m: dict) -> DataFrame:
        from pyspark.sql import types as T

        # Both sides project onto the TO side's (wider, evolution is
        # monotone) schema so the full-outer payload structs align;
        # pre-evolution rows read the added columns as NULL. The v0
        # (empty-store) manifest carries no schema — borrow the
        # populated side's so the bootstrap diff aligns columns.
        schema = T.StructType.fromJson(
            m_to["schema"] or m_from["schema"]
        )
        dirs = [
            os.path.join(store_path, "buckets", d)
            for b, d in m["buckets"].items()
            if b in changed
        ]
        if dirs:
            return _align_to_schema(
                spark.read.option("mergeSchema", "true").parquet(*dirs),
                schema,
            )
        return spark.createDataFrame([], schema)

    old = _read(m_from)
    new = _read(m_to)
    payload = [c for c in new.columns if c not in keys]
    o = old.select(
        *keys, F.struct(*payload).alias("__old"), F.lit(True).alias("__in_old")
    )
    n = new.select(
        *keys, F.struct(*payload).alias("__new"), F.lit(True).alias("__in_new")
    )
    j = o.join(n, keys, "full_outer")
    change = (
        F.when(F.col("__in_old").isNull(), F.lit("insert"))
        .when(F.col("__in_new").isNull(), F.lit("delete"))
        .when(F.col("__old") != F.col("__new"), F.lit("update"))
    )
    side = F.coalesce(F.col("__new"), F.col("__old"))
    return (
        j.withColumn("change", change)
        .where(F.col("change").isNotNull())
        .select(
            "change", *keys,
            *[side[c].alias(c) for c in payload],
        )
    )


def store_stats(spark: SparkSession, store_path: str) -> DataFrame:
    """Observability read over the store layout: per-bucket live row
    count and generation directory, plus the skew factor (max/avg
    rows) a rebalance decision needs — computed from the CURRENT
    manifest's generations only (one metadata-pruned scan; history is
    never touched). The bucketed analog of the IVF store's
    cell-balance report."""
    m = _read_manifest(store_path)
    if not m["buckets"]:
        return spark.createDataFrame(
            [], "bucket int, generation string, n_rows long"
        )
    dirs = [
        os.path.join(store_path, "buckets", d) for d in m["buckets"].values()
    ]
    gen = F.regexp_extract(F.input_file_name(), r"/(g[0-9a-f]+_b\d+)/", 1)
    bucket = F.regexp_extract(F.col("generation"), r"_b(\d+)$", 1).cast("int")
    return (
        spark.read.parquet(*dirs)
        .select(gen.alias("generation"))
        .groupBy("generation")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(bucket.alias("bucket"), "generation", "n_rows")
        .orderBy("bucket")
    )


def read_store_for_keys(
    spark: SparkSession,
    store_path: str,
    key_values: DataFrame,
    keys: list[str],
    version: int | None = None,
) -> DataFrame:
    """Point-lookup read: current state for the requested keys ONLY,
    touching ONLY the bucket generations those keys hash into — the
    serving-path read every store built on this layer inherits (SCD2
    dimension, agg view, latest-value index). ``key_values`` must
    carry the key columns at the stored types (xxhash64 is
    type-sensitive). Cost: one parameter-sized collect of the wanted
    bucket ids + a scan of <= |wanted| bucket directories + a
    broadcast semi-join — never the full store.

    Returns rows in the snapshot's schema; keys absent from the store
    simply return no rows (left-semi semantics)."""
    from pyspark.sql import types as T

    m = _read_manifest(store_path, version)
    schema = T.StructType.fromJson(m["schema"]) if m["schema"] else None
    if schema is None:
        raise ValueError(f"store {store_path!r} has no committed schema")
    wanted_rows = (
        key_values.select(*keys)
        .distinct()
        .select(bucket_expr(keys, m["n_buckets"]).alias(_BUCKET))
        .distinct()
        .collect()
    )
    dirs = [
        os.path.join(store_path, "buckets", m["buckets"][str(r[_BUCKET])])
        for r in wanted_rows
        if str(r[_BUCKET]) in m["buckets"]
    ]
    if not dirs:
        return spark.createDataFrame([], schema)
    raw = _align_to_schema(
        spark.read.option("mergeSchema", "true").parquet(*dirs), schema
    )
    return raw.join(
        F.broadcast(key_values.select(*keys).distinct()), keys, "left_semi"
    )
