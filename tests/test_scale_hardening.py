"""Phase-5 scale tools: compaction and skew salting."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from datapoints_csv_extractor_spark.operators.skew import salted_join
from datapoints_csv_extractor_spark.plans.compaction import compact_datapoints
from datapoints_csv_extractor_spark.sinks.datapoints import write_datapoints


def test_compact_datapoints_reduces_files_preserves_rows(spark, tmp_path):
    sink = tmp_path / "dp"
    # Simulate live mode: 12 tiny appends into the same date partition.
    for i in range(12):
        df = spark.createDataFrame(
            [(f"s{j}", f"n{j}", 1_550_092_560_000 + i * 1000 + j, float(i * j))
             for j in range(20)],
            "external_id string, name string, ts_ms long, value double",
        ).withColumn("source_file", F.lit(f"batch{i}")).withColumn("file_ts", F.lit(0))
        write_datapoints(df.coalesce(1), str(sink))

    before = spark.read.parquet(str(sink))
    n_rows = before.count()
    # Materialize BEFORE compaction: the lazy plan pins file paths that
    # won't exist afterwards.
    before_stats = before.agg(F.sum("value"), F.countDistinct("external_id")).first()
    part = next(Path(sink).glob("dt=*"))
    n_files_before = len(list(part.glob("*.parquet")))
    assert n_files_before >= 12

    stats = compact_datapoints(spark, sink, max_files=4)
    assert stats, "oversized partition should have been compacted"
    (b, a), = stats.values()
    assert b == n_files_before and a < b

    after = spark.read.parquet(str(sink))
    assert after.count() == n_rows
    # Values intact, not just counts.
    assert (
        after.agg(F.sum("value"), F.countDistinct("external_id")).first()
        == before_stats
    )


def test_compact_skips_small_partitions(spark, tmp_path):
    sink = tmp_path / "dp"
    df = spark.createDataFrame(
        [("s1", "n1", 1_550_092_560_000, 1.0)],
        "external_id string, name string, ts_ms long, value double",
    ).withColumn("source_file", F.lit("f")).withColumn("file_ts", F.lit(0))
    write_datapoints(df, str(sink))
    assert compact_datapoints(spark, sink, max_files=4) == {}


def test_salted_join_equals_plain_join_on_skewed_data(spark):
    # 90% of fact rows share one hot key.
    fact = spark.range(0, 2000).select(
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 100).alias("k"),
        F.col("id").alias("payload"),
    )
    dim = spark.range(0, 100).select(
        F.col("id").alias("k"), F.concat(F.lit("dim_"), F.col("id")).alias("label")
    )
    plain = fact.join(dim, "k").select("k", "payload", "label")
    salted = salted_join(fact, dim, "k", n_salts=8).select("k", "payload", "label")
    assert salted.count() == plain.count()
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_compact_band_store_preserves_dedup_state(spark, tmp_path):
    """Five single-doc shards fragment the band store into 5+ file
    sets; compaction shrinks the file counts without changing any
    signature/band row, and a post-compaction ingest still flags dups
    against pre-compaction shards."""
    from datapoints_csv_extractor_spark.operators.dedup import dedup_incremental
    from datapoints_csv_extractor_spark.plans.compaction import compact_band_store

    store = str(tmp_path / "bandstore")
    texts = [
        f"shard {i} carries its own entirely distinct narrative about "
        f"topic number {i} with plenty of unique words like token{i}a "
        f"token{i}b token{i}c spread across the document body"
        for i in range(5)
    ]
    for i, t in enumerate(texts):
        dedup_incremental(
            spark.createDataFrame([(i, t)], "doc_id long, text string"), store
        ).count()

    import glob

    sig_dir = f"{store}/signatures"
    before_rows = sorted(
        (r.doc_id, tuple(r.signature))
        for r in spark.read.parquet(sig_dir).collect()
    )
    assert len(glob.glob(f"{sig_dir}/ingest=*")) == 5

    results = compact_band_store(spark, store)
    assert set(results) == {"signatures", "bands", "bucket_counts"}
    for name, (before, after) in results.items():
        assert after < before, (name, before, after)
    # One committed ingest remains; old dirs are garbage-collected.
    assert len(glob.glob(f"{sig_dir}/ingest=*")) == 1

    after_rows = sorted(
        (r.doc_id, tuple(r.signature))
        for r in spark.read.parquet(sig_dir).collect()
    )
    assert after_rows == before_rows

    # The compacted store still recognizes old content as known.
    v = dedup_incremental(
        spark.createDataFrame([(100, texts[0])], "doc_id long, text string"),
        store,
    ).collect()
    assert {(r.doc_id, r.dup_of_doc_id, r.dup_kind) for r in v} == {
        (100, 0, "known")
    }


def test_compact_flat_table(spark, tmp_path):
    """Generic flat-dir compaction: many appended file sets rewrite to
    fewer files with identical rows; under-threshold dirs are left
    alone."""
    from datapoints_csv_extractor_spark.plans.compaction import (
        compact_flat_table,
    )

    path = str(tmp_path / "flat")
    for i in range(6):
        spark.range(i * 10, i * 10 + 10).coalesce(2).write.mode(
            "append"
        ).parquet(path)
    before = sorted(r.id for r in spark.read.parquet(path).collect())
    result = compact_flat_table(spark, path, max_files=4)
    assert result is not None and result[1] < result[0]
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == before
    # Already compact: no-op.
    assert compact_flat_table(spark, path, max_files=64) is None


def _mk_vecs(spark, rows):
    return spark.createDataFrame(
        [(i, i % 3, v) for i, v in rows],
        "vec_id long, label int, embedding array<double>",
    )


def _rand_vecs(rng, ids, dim, center=None, eps=1.0):
    out = []
    for i in ids:
        if center is None:
            out.append((i, [rng.uniform(-1, 1) for _ in range(dim)]))
        else:
            out.append((i, [x + rng.uniform(-eps, eps) for x in center]))
    return out


def test_compact_ivf_store_preserves_results_one_file_per_cell(spark, tmp_path):
    """Daily shard folds fragment the IVF assignment store into one
    file per (shard x cell); compaction folds them to ONE file per
    cell without changing a single stored row or any query answer, and
    garbage-collects the superseded ingest directories."""
    import glob
    import random

    from datapoints_csv_extractor_spark.operators.similarity import (
        ann_ivf_topk_from_index,
        assign_to_ivf_index,
        build_ivf_index,
        read_ivf_assignments,
    )
    from datapoints_csv_extractor_spark.plans.compaction import compact_ivf_store

    rng = random.Random(7)
    dim = 16
    index_dir = str(tmp_path / "ivf")
    build_ivf_index(
        _mk_vecs(spark, _rand_vecs(rng, range(100), dim)),
        index_dir,
        n_centroids=4,
        n_train_iters=2,
    )
    for s in range(3):
        shard = _rand_vecs(rng, range(200 + 20 * s, 220 + 20 * s), dim)
        assign_to_ivf_index(_mk_vecs(spark, shard), index_dir, ingest_id=f"day{s}")

    assert len(glob.glob(f"{index_dir}/assignments/ingest=*")) == 4
    before_rows = sorted(
        (r.vec_id, r.cell) for r in read_ivf_assignments(spark, index_dir).collect()
    )
    query = [rng.uniform(-1, 1) for _ in range(dim)]
    before_topk = [
        (r.vec_id, r.cosine)
        for r in ann_ivf_topk_from_index(spark, index_dir, query, k=10).collect()
    ]

    result = compact_ivf_store(spark, index_dir)
    assert result is not None and result[1] < result[0]

    # One committed ingest, exactly one file per cell, old dirs gone.
    ingest_dirs = glob.glob(f"{index_dir}/assignments/ingest=*")
    assert len(ingest_dirs) == 1
    for cell_dir in glob.glob(f"{ingest_dirs[0]}/cell=*"):
        assert len(glob.glob(f"{cell_dir}/*.parquet")) == 1, cell_dir

    after_rows = sorted(
        (r.vec_id, r.cell) for r in read_ivf_assignments(spark, index_dir).collect()
    )
    assert after_rows == before_rows
    after_topk = [
        (r.vec_id, r.cosine)
        for r in ann_ivf_topk_from_index(spark, index_dir, query, k=10).collect()
    ]
    assert after_topk == before_topk
    # Below threshold now: no-op.
    assert compact_ivf_store(spark, index_dir) is None


def test_compact_ivf_store_preserves_racing_ingest(spark, tmp_path):
    """An ingest committed AFTER the compaction's manifest snapshot
    must survive the swap: compact_ivf_store merges only what it
    snapshotted and the racing shard stays listed (the catalog-lock
    commit protocol makes losing it impossible)."""
    import random

    from datapoints_csv_extractor_spark.operators.dedup import (
        _read_manifest,
    )
    from datapoints_csv_extractor_spark.operators.similarity import (
        assign_to_ivf_index,
        build_ivf_index,
        read_ivf_assignments,
    )
    from datapoints_csv_extractor_spark.plans import compaction as C

    rng = random.Random(13)
    dim = 8
    index_dir = str(tmp_path / "ivf")
    build_ivf_index(
        _mk_vecs(spark, _rand_vecs(rng, range(40), dim)),
        index_dir,
        n_centroids=2,
        n_train_iters=1,
    )
    assign_to_ivf_index(
        _mk_vecs(spark, _rand_vecs(rng, range(100, 120), dim)),
        index_dir,
        ingest_id="day0",
    )

    # Simulate the race: between compaction's snapshot and its commit,
    # another shard lands. Monkeypatch the locked manifest update (the
    # primitive every committer funnels through) to inject the racing
    # ingest first, exactly as a concurrent writer would.
    import datapoints_csv_extractor_spark.sinks.store_commit as SC

    real_commit = SC.update_json
    racing = {"done": False}

    def racy_commit(path, mutate, default):
        if not racing["done"]:
            racing["done"] = True
            assign_to_ivf_index(
                _mk_vecs(spark, _rand_vecs(rng, range(200, 210), dim)),
                index_dir,
                ingest_id="racer",
            )
        return real_commit(path, mutate, default)

    orig = SC.update_json
    SC.update_json = racy_commit
    try:
        C.compact_ivf_store(spark, index_dir)
    finally:
        SC.update_json = orig

    ids = _read_manifest(index_dir)
    assert "racer" in ids and len(ids) == 2, ids
    stored = {r.vec_id for r in read_ivf_assignments(spark, index_dir).collect()}
    assert set(range(200, 210)) <= stored  # racing shard intact
    assert set(range(40)) <= stored and set(range(100, 120)) <= stored


def test_semantic_dedup_incremental_replay_idempotent(spark, tmp_path):
    """At-least-once replay of the same ingest_id reproduces the same
    verdicts and does NOT double the folded survivors (same contract
    as the band store's dedup_incremental)."""
    import random

    from datapoints_csv_extractor_spark.operators.similarity import (
        build_ivf_index,
        read_ivf_assignments,
        semantic_dedup_incremental,
    )

    rng = random.Random(23)
    dim = 16
    base = _rand_vecs(rng, range(40), dim)
    index_dir = str(tmp_path / "ivf")
    build_ivf_index(_mk_vecs(spark, base), index_dir, n_centroids=4)

    novel = [rng.uniform(-1, 1) for _ in range(dim)]
    shard = _mk_vecs(
        spark,
        [(100, [x + rng.uniform(-0.002, 0.002) for x in base[3][1]]), (101, novel)],
    ).select("vec_id", "embedding")
    v1 = sorted(
        (r.vec_id, r.keep, r.rep_id, r.rep_kind)
        for r in semantic_dedup_incremental(
            shard, index_dir, threshold=0.98, ingest_id="shardA"
        ).collect()
    )
    rows_once = sorted(
        (r.vec_id, r.cell)
        for r in read_ivf_assignments(spark, index_dir).collect()
    )
    # Replay the identical shard with the identical id.
    v2 = sorted(
        (r.vec_id, r.keep, r.rep_id, r.rep_kind)
        for r in semantic_dedup_incremental(
            shard, index_dir, threshold=0.98, ingest_id="shardA"
        ).collect()
    )
    rows_twice = sorted(
        (r.vec_id, r.cell)
        for r in read_ivf_assignments(spark, index_dir).collect()
    )
    assert v1 == v2
    assert rows_twice == rows_once  # no double-fold
    assert (101, True) in {(v, k) for v, k, *_ in v1}


def test_ivf_cell_balance_and_refresh_recovers_recall(spark, tmp_path):
    """Centroid drift: an index trained on corpus A receives a dense
    drifted cluster B far outside A's geometry — B crams into few
    stale cells, the balance report flags them, and
    refresh_ivf_index_if_unbalanced retrains so planted near-dup
    recall through the refreshed index recovers."""
    import random

    from datapoints_csv_extractor_spark.operators.similarity import (
        ann_ivf_topk_from_index,
        assign_to_ivf_index,
        build_ivf_index,
        ivf_cell_balance,
        read_ivf_centroids,
        refresh_ivf_index_if_unbalanced,
    )

    rng = random.Random(41)
    dim = 16
    index_dir = str(tmp_path / "ivf")
    # Corpus A: unit-ish cube around origin.
    build_ivf_index(
        _mk_vecs(spark, _rand_vecs(rng, range(60), dim)),
        index_dir,
        n_centroids=6,
        n_train_iters=2,
    )
    # Balanced store (total A = 60 <= max_cell_size): no-op.
    assert not refresh_ivf_index_if_unbalanced(spark, index_dir, max_cell_size=60)
    # Drifted corpus B: tight cluster far away (shifted +8 on every
    # axis) — nearest-cell assignment under A's centroids dumps all of
    # B into one or two cells.
    b_center = [8.0] * dim
    b_rows = _rand_vecs(rng, range(1000, 1120), dim, center=b_center, eps=0.5)
    assign_to_ivf_index(_mk_vecs(spark, b_rows), index_dir, ingest_id="driftB")

    report = {r.cell: r for r in ivf_cell_balance(spark, index_dir, max_cell_size=60).collect()}
    assert any(r.over for r in report.values()), report

    # Planted near-dups of one B vector; before refresh, a low-probe
    # query may or may not find them — after refresh it must.
    target = b_rows[11][1]
    refreshed = refresh_ivf_index_if_unbalanced(
        spark, index_dir, max_cell_size=60
    )
    assert refreshed
    # More centroids than before (budget grew to fit the corpus).
    assert len(read_ivf_centroids(spark, index_dir)) >= 6

    got = [
        r.vec_id
        for r in ann_ivf_topk_from_index(
            spark, index_dir, target, k=10, n_probe=2, exclude_vec_id=1011
        ).collect()
    ]
    # B's tight cluster dominates the neighborhood of any B member:
    # the refreshed geometry must place it in probeable cells.
    assert len([v for v in got if v >= 1000]) >= 8, got


def test_linkage_candidate_pools_are_window_bounded(spark):
    """The round-9 linkage contract: candidate pairs are bounded by
    rows x window (F-S), distinct-name reps x window (JW), and
    2 x reps x window (fuzzy two-pass) — the property that killed
    round 8's quadratic blocking. Checked at sf0.01 with the
    operators' own candidate helpers (the same functions the bench
    pair telemetry counts)."""
    from pyspark.sql import functions as F

    from datapoints_csv_extractor_spark.operators.relational import (
        fs_candidates,
        fuzzy_match_candidates,
        jw_fuzzy_candidates,
        linkage_corpus,
    )

    sf = "/root/testdata/sf0.01"
    n_rows = linkage_corpus(spark, sf).count()
    assert fs_candidates(spark, sf, window=8).count() <= n_rows * 8

    reps_jw = (
        linkage_corpus(spark, sf)
        .groupBy("p_brand", "p_name")
        .agg(F.min("p_partkey"))
        .count()
    )
    assert jw_fuzzy_candidates(spark, sf, window=4).count() <= reps_jw * 4

    reps_fz = (
        spark.read.parquet(f"{sf}/part.parquet")
        .groupBy("p_brand", "p_name")
        .agg(F.min("p_partkey"))
        .count()
    )
    assert (
        fuzzy_match_candidates(spark, sf, window=8).count()
        <= 2 * reps_fz * 8
    )
