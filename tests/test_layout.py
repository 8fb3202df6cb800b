"""Z-order layout: the clustering must make parquet row-group stats
selective for EVERY participating column, not just a sort's leading
one — measured directly from file metadata, not inferred."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from datapoints_csv_extractor_spark.plans.layout import morton_key, write_zordered


def _avg_span(path_glob: str, column: str) -> float:
    """Mean (max-min) span of a column across all row groups."""
    spans = []
    for f in glob.glob(path_glob):
        meta = pq.ParquetFile(f).metadata
        for rg in range(meta.num_row_groups):
            col = next(
                meta.row_group(rg).column(i)
                for i in range(meta.num_columns)
                if meta.row_group(rg).column(i).path_in_schema == column
            )
            st = col.statistics
            spans.append(float(st.max - st.min))
    assert spans
    return sum(spans) / len(spans)


def test_morton_key_interleaves_bits(spark):
    df = spark.range(1).select(
        morton_key([F.lit(0b101).cast("long"), F.lit(0b011).cast("long")], bits=3).alias("k")
    )
    # x=101, y=011 -> bits (y2 x2 y1 x1 y0 x0) = 0 1 1 0 1 1 = 27
    assert df.collect()[0]["k"] == 0b011011


def test_morton_key_rejects_oversized_bit_width(spark):
    # 4 cols x 16 bits puts a bit at position 63 (the long sign bit)
    # and 5 cols shift past 64 (JVM wraps mod 64, aliasing keys) —
    # both must fail loudly instead of silently corrupting the layout.
    import pytest

    cols = [F.lit(1).cast("long")] * 4
    with pytest.raises(ValueError, match="63"):
        morton_key(cols, bits=16)
    # The adapted width fits: 4 cols x 15 bits = 60 <= 63.
    morton_key(cols, bits=15)
    with pytest.raises(ValueError, match="at least one"):
        morton_key([])


def test_write_zordered_adapts_bits_and_handles_nulls(spark, tmp_path):
    # 4 z-order columns: write_zordered must narrow per-column bits
    # (63 // 4 = 15) instead of tripping morton_key's overflow guard;
    # rows with a NULL in one key column must still land in the file
    # (coalesced to that column's min), and an entirely-NULL column
    # must raise a clear error, not TypeError(float(None)).
    import pytest

    df = spark.range(256).select(
        (F.col("id") % 4).alias("a"),
        (F.col("id") % 8).alias("b"),
        (F.col("id") % 16).alias("c"),
        F.when(F.col("id") % 32 == 0, None).otherwise(F.col("id")).alias("d"),
    )
    out = str(tmp_path / "z4")
    write_zordered(df, out, ["a", "b", "c", "d"], n_files=4)
    assert spark.read.parquet(out).count() == 256

    all_null = df.withColumn("e", F.lit(None).cast("double"))
    with pytest.raises(ValueError, match="entirely NULL"):
        write_zordered(all_null, str(tmp_path / "znull"), ["a", "e"])


def test_zorder_write_clusters_both_columns(spark, tmp_path):
    # 64 users x 512 timestamps, uniformly crossed: a ts-sorted layout
    # leaves every row group spanning ALL users; the z-ordered layout
    # must cut the per-row-group user span by a large factor while
    # keeping ts spans far below the full range.
    df = (
        spark.range(64 * 512)
        .select(
            (F.col("id") % 64).alias("user_id"),
            (F.col("id") / 64).cast("long").alias("ts_s"),
        )
    )
    flat = str(tmp_path / "ts_sorted")
    (
        df.repartitionByRange(32, "ts_s")
        .sortWithinPartitions("ts_s")
        .write.mode("overwrite")
        .parquet(flat)
    )
    zed = str(tmp_path / "zordered")
    write_zordered(df, zed, ["user_id", "ts_s"], n_files=32)

    assert spark.read.parquet(zed).count() == 64 * 512

    user_span_flat = _avg_span(f"{flat}/*.parquet", "user_id")
    user_span_z = _avg_span(f"{zed}/*.parquet", "user_id")
    ts_span_z = _avg_span(f"{zed}/*.parquet", "ts_s")
    # ts-sorted: every file spans ~all 64 users.
    assert user_span_flat > 60
    # z-ordered: both dimensions localized.
    assert user_span_z <= user_span_flat / 2
    assert ts_span_z < 512 * 0.8


def test_zorder_pruning_report_beats_linear(spark):
    from datapoints_csv_extractor_spark.plans.layout import (
        q_zorder_pruning_report,
    )

    rows = {
        r.layout: r
        for r in q_zorder_pruning_report(spark, "/root/testdata/sf0.01").collect()
    }
    assert rows["zorder"].rows_hit == rows["linear"].rows_hit  # same answer
    # The box predicate constrains BOTH dimensions, so the z-ordered
    # layout must touch strictly fewer files than the ts-sorted one.
    assert rows["zorder"].files_with_matches < rows["linear"].files_with_matches


def test_with_morton_key_matches_manual_normalization(spark):
    from datapoints_csv_extractor_spark.plans.layout import (
        _normalize,
        morton_key,
        with_morton_key,
    )

    df = spark.createDataFrame(
        [(0, 0.0), (3, 10.0), (1, 5.0), (None, 10.0)], "a long, b double"
    )
    got = {
        tuple(r)[:2]: r["__zkey"]
        for r in with_morton_key(df, ["a", "b"], bits=2).collect()
    }
    # a in [0,3] -> identity on 2 bits; b in [0,10] -> {0,5,10}->{0,2,3
    # rounded: 5/10*3=1.5 -> 2}; NULL a clusters at the low edge (0).
    manual = df.select(
        "a",
        "b",
        morton_key(
            [
                _normalize(F.coalesce(F.col("a"), F.lit(0.0)), 0.0, 3.0, 2),
                _normalize(F.col("b"), 0.0, 10.0, 2),
            ],
            bits=2,
        ).alias("k"),
    ).collect()
    for r in manual:
        assert got[(r.a, r.b)] == r.k


def test_zorder_table_lifecycle_append_optimize(spark, tmp_path):
    """Clustered base + raw appends + OPTIMIZE: reads always see
    everything; OPTIMIZE re-clusters only the raw tail (base dirs
    untouched); full=True collapses to one run; a box query touches
    fewer files after OPTIMIZE than before."""
    import glob as g

    from datapoints_csv_extractor_spark.plans.layout import (
        _zt_manifest_path,
        optimize_zorder_table,
        read_zorder_table,
        zorder_table_append,
        zorder_table_write,
    )
    from datapoints_csv_extractor_spark.sinks.store_commit import read_json

    path = str(tmp_path / "zt")
    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet").select(
        "event_id", "user_id", "ts"
    )
    half = ev.agg(F.expr("percentile_approx(event_id, 0.5)")).first()[0]
    base, tail = ev.where(F.col("event_id") <= half), ev.where(
        F.col("event_id") > half
    )
    zorder_table_write(base, path, ["user_id", "ts"], n_files=8)
    zorder_table_append(tail.where(F.col("event_id") % 2 == 0), path)
    zorder_table_append(tail.where(F.col("event_id") % 2 == 1), path)
    assert read_zorder_table(spark, path).count() == ev.count()
    m0 = read_json(_zt_manifest_path(path))
    assert len(m0["runs"]) == 1 and len(m0["raw"]) == 2

    mid_user = ev.agg(F.expr("percentile_approx(user_id, 0.5)")).first()[0]
    lo, hi = ev.agg(F.min("ts"), F.expr("percentile_approx(ts, 0.25)")).first()

    def hits() -> tuple[int, float]:
        t = read_zorder_table(spark, path)
        hit = (
            t.where((F.col("user_id") <= mid_user)
                    & F.col("ts").between(lo, hi))
            .select(F.input_file_name())
            .distinct()
            .count()
        )
        total = t.select(F.input_file_name()).distinct().count()
        return hit, hit / total

    before_n, before_frac = hits()
    base_runs = set(m0["runs"])
    r = optimize_zorder_table(spark, path)
    assert r["raw"] == 0 and r["runs"] == 2 and r["compacted_rows"] > 0
    m1 = read_json(_zt_manifest_path(path))
    assert base_runs < set(m1["runs"])  # base run untouched
    assert read_zorder_table(spark, path).count() == ev.count()
    # Raw appends are always hit (no clustering); the re-clustered
    # tail restores skipping, so the FRACTION of files touched drops.
    after_n, after_frac = hits()
    assert after_frac < before_frac

    # full=True trades file count for run count: absolute files hit
    # must not grow even though the table collapses to one run.
    r2 = optimize_zorder_table(spark, path, full=True)
    m2 = read_json(_zt_manifest_path(path))
    assert len(m2["runs"]) == 1 and r2["compacted_rows"] == ev.count()
    assert read_zorder_table(spark, path).count() == ev.count()
    assert hits()[0] <= after_n
    # Old directories are gone (no orphan data dirs besides the run).
    data_dirs = {
        name
        for p in g.glob(f"{path}/*")
        for name in [p.split("/")[-1]]
        if not name.startswith("_zorder")
    }
    assert data_dirs == set(m2["runs"])
