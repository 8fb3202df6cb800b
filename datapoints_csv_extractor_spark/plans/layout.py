"""Multi-dimensional file layout: Z-order (Morton) clustering.

Parquet prunes row groups on per-column min/max statistics, but a sort
helps only its leading column: a ts-sorted events table answers time
slices cheaply while every user_id predicate still scans everything.
Interleaving the bits of several normalized columns into one Morton
key and sorting by IT gives every participating column locality, so
row-group stats become selective for all of them at once — the
standard lakehouse technique (Delta/Iceberg ``OPTIMIZE ZORDER BY``)
expressed here as plain Spark expressions.

Scale shape: two parameter-sized min/max aggregates (one row) + a
range repartition + within-partition sort — exactly what a normal
sorted write costs; the Morton key itself is a pure codegen'd
projection (no UDF, no shuffle beyond the write's own range
partitioning).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datapoints_csv_extractor_spark.sinks import store_commit

ZORDER_BITS = 16


def _normalize(col: Column, lo: float, hi: float, bits: int) -> Column:
    """Map a numeric column onto [0, 2^bits) integer space."""
    span = max(hi - lo, 1e-300)
    scaled = ((col.cast("double") - F.lit(lo)) / F.lit(span)) * F.lit(
        (1 << bits) - 1
    )
    return F.least(
        F.greatest(F.round(scaled, 0).cast("long"), F.lit(0)),
        F.lit((1 << bits) - 1),
    )


def morton_key(normalized: list[Column], bits: int = ZORDER_BITS) -> Column:
    """Interleave the bits of pre-normalized [0, 2^bits) columns into
    one Morton code (column i contributes bit j at position
    j*n_cols+i). Pure bitwise expression — whole-stage codegen.

    The interleaved width must fit the POSITIVE range of a long:
    bit 63 is the sign bit (rows landing there would sort BEFORE the
    low keys) and shifts >= 64 wrap mod 64 on the JVM, silently
    aliasing distinct keys — either corrupts the clustering with no
    error, so an oversized request fails loudly instead. Callers that
    want per-column adaptation: bits = 63 // len(cols)."""
    n = len(normalized)
    if n == 0:
        raise ValueError("morton_key needs at least one column")
    if n * bits > 63:
        raise ValueError(
            f"morton_key: {n} columns x {bits} bits = {n * bits} interleaved "
            "bits exceeds the 63 positive bits of a long; pass "
            f"bits <= {63 // n} (e.g. bits = 63 // n_cols)"
        )
    key = F.lit(0).cast("long")
    for i, c in enumerate(normalized):
        for j in range(bits):
            bit = F.shiftright(c, j).bitwiseAND(F.lit(1))
            key = key + F.shiftleft(bit, j * n + i)
    return key


def with_morton_key(
    df: DataFrame,
    cols: list[str],
    bits: int = ZORDER_BITS,
    key_name: str = "__zkey",
) -> DataFrame:
    """``df`` plus its Morton key over ``cols`` (timestamps keyed by
    epoch seconds; per-column bits capped at 63 // n_cols; NULLs in a
    key column cluster at that axis's low edge). Column ranges come
    from one 1-row min/max aggregate — parameter-sized driver state.
    An entirely-NULL key column raises (no range to normalize)."""
    if not cols:
        raise ValueError("with_morton_key needs at least one column")
    bits = min(bits, 63 // len(cols))
    probes = []
    keyed = df
    key_cols = []
    for name in cols:
        c = F.col(name)
        if dict(df.dtypes).get(name, "").startswith("timestamp"):
            c = F.unix_timestamp(c.cast("timestamp")).cast("double")
        kc = f"__z_{name}"
        keyed = keyed.withColumn(kc, c.cast("double"))
        key_cols.append(kc)
        probes += [F.min(kc).alias(f"lo_{name}"), F.max(kc).alias(f"hi_{name}")]
    rng = keyed.agg(*probes).collect()[0]
    for name in cols:
        if rng[f"lo_{name}"] is None:
            raise ValueError(
                f"z-order column {name!r} is entirely NULL — it has no "
                "range to normalize; drop it from cols or fill it"
            )
    normalized = [
        _normalize(
            F.coalesce(F.col(kc), F.lit(float(rng[f"lo_{name}"]))),
            float(rng[f"lo_{name}"]),
            float(rng[f"hi_{name}"]),
            bits,
        )
        for kc, name in zip(key_cols, cols)
    ]
    return keyed.withColumn(key_name, morton_key(normalized, bits)).drop(
        *key_cols
    )


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = ZORDER_BITS,
    n_files: int = 8,
) -> None:
    """Write ``df`` clustered by the Morton key of ``cols``.

    Column ranges come from one 1-row min/max aggregate (driver-side,
    parameter-sized); the write range-partitions by the key so files
    tile the Z-curve, then sorts within partitions so row groups tile
    it too. Timestamp columns are keyed by their epoch seconds.

    The bit budget adapts to the column count (bits is capped at
    63 // n_cols) so a 4+-column z-order narrows per-column resolution
    instead of overflowing the long key. An entirely-NULL key column
    has no range and raises; rows with a NULL in SOME key column get
    that dimension coalesced to the column minimum (they cluster at
    the low edge of that axis rather than landing in
    range-partitioning limbo with a NULL key).
    """
    (
        with_morton_key(df, cols, bits)
        .repartitionByRange(n_files, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def q_zorder_cells(spark, sf_dir: str) -> DataFrame:
    """Driver-facing: the Morton key path end to end, summarized per
    Z-curve cell. Events are keyed on (user_id, epoch(ts)) with the
    standard 16-bit-per-axis interleave; grouping by the key's top 6
    bits (64 curve cells) shows the locality the layout buys — each
    cell's user range is a narrow band, which is exactly why per-file
    min/max stats become selective for BOTH columns after a z-ordered
    write. Pure bitwise codegen (no UDF); one scan + one groupBy.

    Oracle-exact: normalization is IEEE-identical in both engines
    (double subtract/divide/multiply are correctly rounded, round(x,0)
    is half-away-from-zero for the positive domain in both), and the
    interleave is integer bit math."""
    from datapoints_csv_extractor_spark.operators.relational import load

    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    keyed = with_morton_key(ev, ["user_id", "ts"], bits=16)
    return (
        keyed.groupBy(F.shiftright(F.col("__zkey"), 26).alias("zcell"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("user_id").alias("min_user"),
            F.max("user_id").alias("max_user"),
        )
        .orderBy("zcell")
    )


def zorder_cells_oracle_sql(bits: int = 16) -> str:
    """DuckDB twin of q_zorder_cells, interleave unrolled to the same
    shift/mask/add chain morton_key builds (column i bit j lands at
    position j*2+i for the two-column key).

    ``floor(epoch(ts))`` matters: Spark's ``unix_timestamp`` truncates
    to whole seconds while DuckDB's ``epoch`` keeps the microsecond
    fraction; without the floor, rows with fractional timestamps key
    on different normalized values and only coarse zcell aggregation
    hides the mismatch (same pattern as the q_purged_time_folds
    oracle)."""
    hi = (1 << bits) - 1
    norm = (
        "least(greatest(CAST(round((({c}) - {lo}) / "
        "greatest({hi} - {lo}, 1e-300) * {top}.0, 0) AS BIGINT), 0), {top})"
    )
    nu = norm.format(c="u", lo="lo_u", hi="hi_u", top=hi)
    nt = norm.format(c="t", lo="lo_t", hi="hi_t", top=hi)
    terms = []
    for j in range(bits):
        terms.append(f"(((nu >> {j}) & 1) << {j * 2})")
        terms.append(f"(((nt >> {j}) & 1) << {j * 2 + 1})")
    zkey = " + ".join(terms)
    return f"""
        WITH base AS (
            SELECT user_id,
                   CAST(user_id AS DOUBLE) AS u,
                   CAST(floor(epoch(ts)) AS DOUBLE) AS t
            FROM events
        ), rng AS (
            SELECT min(u) AS lo_u, max(u) AS hi_u,
                   min(t) AS lo_t, max(t) AS hi_t
            FROM base
        ), norm AS (
            SELECT user_id, {nu} AS nu, {nt} AS nt FROM base, rng
        ), keyed AS (
            SELECT user_id, {zkey} AS zkey FROM norm
        )
        SELECT zkey >> 26               AS zcell,
               count(*)                 AS n_events,
               count(DISTINCT user_id)  AS n_users,
               min(user_id)             AS min_user,
               max(user_id)             AS max_user
        FROM keyed
        GROUP BY 1
        ORDER BY 1
    """


def q_zorder_pruning_report(spark, sf_dir: str) -> DataFrame:
    """Driver-facing (rows-only): measure what the z-ordered layout is
    FOR — file skipping under a two-dimensional box predicate. Writes
    the events table to scratch twice (ts-sorted vs z-ordered on
    (user_id, ts)), runs the same box query against both, and reports
    per layout how many of the files hold matching rows (the proxy
    for row-group/file pruning a stats-aware reader achieves; Spark's
    parquet reader applies the same min/max logic per row group).
    The z-ordered layout should touch strictly fewer files — pinned
    in pytest; here the report itself is the product.

    Scratch-store lifecycle per the incremental-ops discipline:
    mkdtemp, localCheckpoint the small report, rmtree."""
    import shutil
    import tempfile

    from datapoints_csv_extractor_spark.operators.relational import load

    root = tempfile.mkdtemp(prefix="spark_graft_zorder_")
    try:
        ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_id")
        n_files = 16
        (
            ev.repartitionByRange(n_files, "ts")
            .sortWithinPartitions("ts")
            .write.mode("overwrite")
            .parquet(f"{root}/linear")
        )
        write_zordered(ev, f"{root}/zorder", ["user_id", "ts"],
                       n_files=n_files)
        # One action for all three box-predicate scalars (was two).
        mid_user, lo_ts, hi_ts = ev.agg(
            F.expr("percentile_approx(user_id, 0.5)"),
            F.min("ts"),
            F.expr("percentile_approx(ts, 0.25)"),
        ).first()
        reports = []
        for layout in ("linear", "zorder"):
            hit = (
                spark.read.parquet(f"{root}/{layout}")
                .where(
                    (F.col("user_id") <= F.lit(mid_user))
                    & F.col("ts").between(F.lit(lo_ts), F.lit(hi_ts))
                )
                .groupBy(F.input_file_name().alias("f"))
                .count()
            )
            n_hit, n_rows = hit.agg(
                F.count(F.lit(1)), F.coalesce(F.sum("count"), F.lit(0))
            ).first()
            reports.append((layout, n_files, int(n_hit), int(n_rows)))
        return spark.createDataFrame(
            reports,
            "layout string, n_files int, files_with_matches int, rows_hit long",
        ).repartition(1).localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# Z-ordered TABLE lifecycle: clustered base + raw appends + OPTIMIZE.
# A one-shot clustered write answers today's data; a table keeps
# arriving. The manifest tracks clustered runs vs raw appends so reads
# see everything, pruning works per-run, and OPTIMIZE re-clusters the
# raw tail WITHOUT rewriting the base — the Delta/Iceberg OPTIMIZE
# ZORDER cadence (amortized maintenance, never O(table) per append).
# The manifest is read and committed through sinks/store_commit.py:
# appends and OPTIMIZE are locked read-modify-writes, so a racing
# append is never dropped from the manifest.
# ---------------------------------------------------------------------------


def _zt_manifest_path(path: str) -> str:
    import os

    return os.path.join(path, "_zorder_manifest.json")


def zorder_table_write(
    df: DataFrame, path: str, cols: list[str],
    bits: int = ZORDER_BITS, n_files: int = 8,
) -> None:
    """Create a z-ordered table: one clustered run + a manifest."""
    import os
    import uuid

    run = f"run_{uuid.uuid4().hex[:8]}"
    write_zordered(df, os.path.join(path, run), cols, bits, n_files)
    store_commit.write_json(
        _zt_manifest_path(path),
        {"cols": cols, "bits": bits, "n_files": n_files, "runs": [run],
         "raw": []},
    )


def zorder_table_append(df: DataFrame, path: str) -> None:
    """Append a shard WITHOUT paying the clustering: plain parquet
    into a raw directory + manifest update. O(shard) always."""
    import os
    import uuid

    raw = f"raw_{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(os.path.join(path, raw))
    store_commit.update_json(
        _zt_manifest_path(path), lambda m: {**m, "raw": m["raw"] + [raw]}, None
    )


def read_zorder_table(spark, path: str) -> DataFrame:
    """Everything the manifest references — clustered runs AND raw
    appends (a reader never waits for maintenance)."""
    import os

    m = store_commit.read_json(_zt_manifest_path(path))
    dirs = [os.path.join(path, d) for d in m["runs"] + m["raw"]]
    return spark.read.parquet(*dirs)


def optimize_zorder_table(
    spark, path: str, full: bool = False, min_raw: int = 1
) -> dict:
    """OPTIMIZE: re-cluster the RAW tail into one new z-ordered run
    (base runs untouched — O(tail), the amortized steady state), or
    ``full=True`` to rewrite everything into a single run (when run
    count itself hurts). Old directories are swept AFTER the commit
    points away from them; a raw append committed meanwhile stays
    listed. Returns {'compacted_rows', 'runs', 'raw'}."""
    import os
    import uuid

    m = store_commit.read_json(_zt_manifest_path(path))
    victims = list(m["raw"]) if not full else list(m["raw"]) + list(m["runs"])
    if not full and len(victims) < min_raw:
        return {"compacted_rows": 0, "runs": len(m["runs"]),
                "raw": len(m["raw"])}
    src = [os.path.join(path, d) for d in victims]
    df = spark.read.parquet(*src)
    n = df.count()
    run = f"run_{uuid.uuid4().hex[:8]}"
    write_zordered(df, os.path.join(path, run), m["cols"], m["bits"],
                   m["n_files"])
    m = store_commit.update_json(
        _zt_manifest_path(path),
        lambda cur: {
            **cur,
            "runs": [r for r in cur["runs"] if r not in victims] + [run],
            "raw": [r for r in cur["raw"] if r not in victims],
        },
        None,
    )
    for prefix in ("run_", "raw_"):
        store_commit.sweep(path, prefix, set(m["runs"] + m["raw"]))
    return {"compacted_rows": n, "runs": len(m["runs"]), "raw": len(m["raw"])}
