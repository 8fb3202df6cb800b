"""The one commit module (``sinks/store_commit.py``): its primitives,
the guard that no other library file commits on its own, and the race
and crash cases each ported store must survive — two writers on one
merge-store base, BM25 appends raced by an append or a compaction, and
faults injected mid-commit of the SQ8, LSH and PQ indexes."""
from __future__ import annotations

import ast
import json
import os
import pathlib
import random
import sys
import threading

import pytest
from pyspark.sql import functions as F

from datapoints_csv_extractor_spark.sinks import store_commit
from datapoints_csv_extractor_spark.sinks.store_commit import CommitConflict

PKG = pathlib.Path(__file__).resolve().parent.parent / "datapoints_csv_extractor_spark"


def _commit_calls(source: str) -> list[str]:
    """Calls that rename, replace or exclusively create a file:
    ``os.rename``/``os.replace``/``os.link``, any use of ``O_EXCL``,
    and one-argument ``.rename``/``.replace`` calls (``Path`` moves —
    ``str.replace`` and ``datetime.replace`` take other arities)."""
    found = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Attribute) and node.attr == "O_EXCL":
            found.append(f"{node.lineno}: O_EXCL")
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        name, owner = node.func.attr, node.func.value
        if isinstance(owner, ast.Name) and owner.id == "os" and name in (
            "rename", "replace", "link"
        ):
            found.append(f"{node.lineno}: os.{name}")
        elif name in ("rename", "replace") and len(node.args) == 1 and not node.keywords:
            found.append(f"{node.lineno}: .{name}")
    return found


def test_only_store_commit_renames_replaces_or_exclusively_creates():
    offenders = {
        str(p.relative_to(PKG)): calls
        for p in sorted(PKG.rglob("*.py"))
        if p.name != "store_commit.py" or p.parent.name != "sinks"
        for calls in [_commit_calls(p.read_text())]
        if calls
    }
    assert offenders == {}
    # The scan itself sees the module's own commits.
    assert _commit_calls((PKG / "sinks" / "store_commit.py").read_text())


def test_create_json_refuses_a_committed_name(tmp_path):
    path = tmp_path / "m" / "v1.json"
    store_commit.create_json(path, {"who": "first"})
    with pytest.raises(CommitConflict):
        store_commit.create_json(path, {"who": "second"})
    assert store_commit.read_json(path) == {"who": "first"}
    assert os.listdir(path.parent) == ["v1.json"]  # no temp left behind


def test_update_json_keeps_every_racing_update(tmp_path):
    """More committers than cores, switching often: a lost update
    would leave the counter short."""
    path = tmp_path / "counter.json"

    def bump():
        for _ in range(10):
            store_commit.update_json(path, lambda c: {"n": c["n"] + 1}, {"n": 0})

    threads = [threading.Thread(target=bump) for _ in range(2 * os.cpu_count())]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert store_commit.read_json(path) == {"n": 10 * len(threads)}


def test_read_json_default_fills_missing_keys(tmp_path):
    path = tmp_path / "manifest.json"
    default = {"ingests": [], "deletes": []}
    assert store_commit.read_json(path, default) == default
    with pytest.raises(FileNotFoundError):
        store_commit.read_json(path)
    store_commit.write_json(path, {"ingests": ["a"]})
    assert store_commit.read_json(path, default) == {"ingests": ["a"], "deletes": []}
    assert default == {"ingests": [], "deletes": []}


def test_sweep_keeps_only_listed_entries(tmp_path):
    for name in ("ingest=a", "ingest=b", "other"):
        (tmp_path / name).mkdir()
    (tmp_path / "ingest=c").write_text("x")
    assert store_commit.sweep(tmp_path, "ingest=", {"ingest=a"}) == 2
    assert sorted(os.listdir(tmp_path)) == ["ingest=a", "other"]


def test_merge_store_second_writer_on_one_base_conflicts(spark, tmp_path, monkeypatch):
    """Two upserts read the same base version; the one that commits
    first wins, the other raises CommitConflict instead of overwriting
    the winner's manifest."""
    from datapoints_csv_extractor_spark.sinks import merge_store as M

    store = str(tmp_path / "store")
    schema = "k long, seq long, v double, deleted boolean"

    def upsert(k):
        delta = spark.createDataFrame([(k, k, float(k), False)], schema)
        return M.upsert_into_store(spark, delta, store, keys=["k"], version_cols=["seq"])

    upsert(1)
    real_merge = M.merge_upsert
    raced = []

    def merge_then_race(*args, **kwargs):
        if not raced:
            raced.append(True)
            upsert(3)  # the racer reads the same base and commits first
        return real_merge(*args, **kwargs)

    monkeypatch.setattr(M, "merge_upsert", merge_then_race)
    with pytest.raises(CommitConflict):
        upsert(2)
    monkeypatch.undo()
    assert sorted(r.k for r in M.read_store(spark, store).collect()) == [1, 3]
    assert M.latest_version(store) == 2


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _hits(spark, idx, term):
    from datapoints_csv_extractor_spark.operators.textops import bm25_topk_from_index

    return [r.doc_id for r in bm25_topk_from_index(spark, idx, [term], k=5).collect()]


def test_bm25_append_raced_by_append_keeps_both(spark, tmp_path, monkeypatch):
    from datapoints_csv_extractor_spark.operators import textops as T

    idx = str(tmp_path / "bm25")
    T.build_bm25_index(_docs(spark, [(1, "alpha common words")]), idx, n_buckets=4)
    real_write = T._bm25_write_shard
    raced = []

    def write_then_race(docs, index_dir, shard_id, n_buckets):
        stats = real_write(docs, index_dir, shard_id, n_buckets)
        if not raced:
            raced.append(True)
            T.append_bm25_shard(_docs(spark, [(3, "gamma common words")]), idx, "racer")
        return stats

    monkeypatch.setattr(T, "_bm25_write_shard", write_then_race)
    assert T.append_bm25_shard(_docs(spark, [(2, "beta common words")]), idx, "mine")
    monkeypatch.undo()
    meta = store_commit.read_json(T._bm25_meta_path(idx))
    assert sorted(meta["shards"]) == ["base", "mine", "racer"]
    assert _hits(spark, idx, "beta") == [2]
    assert _hits(spark, idx, "gamma") == [3]


def test_bm25_compaction_raced_by_append_keeps_the_racer(spark, tmp_path, monkeypatch):
    from datapoints_csv_extractor_spark.operators import textops as T

    idx = str(tmp_path / "bm25")
    T.build_bm25_index(_docs(spark, [(1, "alpha common words")]), idx, n_buckets=4)
    T.append_bm25_shard(_docs(spark, [(2, "beta common words")]), idx, "day1")
    real_read = T._bm25_read_postings
    raced = []

    def race_then_read(spark_, index_dir, meta):
        if not raced:
            raced.append(True)
            T.append_bm25_shard(_docs(spark, [(3, "gamma common words")]), idx, "racer")
        return real_read(spark_, index_dir, meta)

    monkeypatch.setattr(T, "_bm25_read_postings", race_then_read)
    T.compact_bm25_index(spark, idx)
    monkeypatch.undo()
    meta = store_commit.read_json(T._bm25_meta_path(idx))
    assert "racer" in meta["shards"] and len(meta["shards"]) == 2
    assert sum(s["n_docs"] for s in meta["shards"].values()) == 3
    assert [_hits(spark, idx, t) for t in ("alpha", "beta", "gamma")] == [[1], [2], [3]]


def _ids(rows):
    return [r.vec_id for r in rows]


def _embeddings(spark, n=300, dim=64):
    rng = random.Random(11)
    return spark.createDataFrame(
        [(i, [rng.gauss(0.0, 1.0) for _ in range(dim)], i % 5) for i in range(n)],
        "vec_id long, embedding array<float>, label int",
    )


@pytest.mark.parametrize("fault_at", [1, 2])
def test_sq8_compaction_fault_keeps_serving(spark, tmp_path, monkeypatch, fault_at):
    """A fault at the fault_at-th rename/replace of compact_sq_index
    leaves the index serving its pre-fault top-k, and a re-run
    compaction then completes."""
    from datapoints_csv_extractor_spark.operators import similarity as V

    e = _embeddings(spark)
    idx = str(tmp_path / "sq")
    V.build_sq_index(e, idx)
    q = list(e.where(F.col("vec_id") == 0).first().embedding)
    victim = V.ann_sq_topk_from_index(spark, idx, q, exclude_vec_id=0).first().vec_id
    V.delete_from_sq_index(spark, idx, [victim])
    before = _ids(V.ann_sq_topk_from_index(spark, idx, q, exclude_vec_id=0).collect())

    calls = []

    def faulty(real):
        def move(*args, **kwargs):
            calls.append(args)
            if len(calls) == fault_at:
                raise OSError("injected fault")
            return real(*args, **kwargs)
        return move

    monkeypatch.setattr(os, "rename", faulty(os.rename))
    monkeypatch.setattr(os, "replace", faulty(os.replace))
    try:
        V.compact_sq_index(spark, idx)
    except OSError:
        pass
    monkeypatch.undo()
    assert _ids(V.ann_sq_topk_from_index(spark, idx, q, exclude_vec_id=0).collect()) == before
    V.compact_sq_index(spark, idx)
    assert _ids(V.ann_sq_topk_from_index(spark, idx, q, exclude_vec_id=0).collect()) == before


@pytest.mark.parametrize("family", ["lsh", "pq"])
def test_meta_write_fault_keeps_serving(spark, tmp_path, monkeypatch, family):
    """A rebuild that dies mid-write of its meta leaves the previous
    meta committed, so the index still serves its pre-fault top-k."""
    from datapoints_csv_extractor_spark.operators import similarity as V

    build, topk = {
        "lsh": (V.build_lsh_index, V.ann_lsh_topk_from_index),
        "pq": (V.build_pq_index, V.ann_pq_topk_from_index),
    }[family]
    e = _embeddings(spark)
    idx = str(tmp_path / family)
    build(e, idx)
    q = list(e.where(F.col("vec_id") == 0).first().embedding)
    before = _ids(topk(spark, idx, q, k=5, exclude_vec_id=0).collect())

    real_dumps = json.dumps

    def torn_dump(obj, fh, **kwargs):
        fh.write(real_dumps(obj)[:7])
        raise OSError("injected fault: disk full")

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError):
        build(e, idx)
    monkeypatch.undo()
    assert _ids(topk(spark, idx, q, k=5, exclude_vec_id=0).collect()) == before
