"""Deletion/tombstone lifecycle of the three persisted index stores
(band store, IVF assignment store, BM25 inverted index): a deleted —
e.g. PII-redacted — document or vector must stop serving immediately
(tombstone anti-join on the query path) and leave the store physically
at the next compaction, with the delete ledger cleared. Replaying a
committed delete id is a no-op, mirroring the ingest folds'
at-least-once contract.
"""

from __future__ import annotations

import glob
import json

from pyspark.sql import functions as F

from datapoints_csv_extractor_spark.operators.dedup import (
    EMPTY_MANIFEST,
    manifest_path,
)
from datapoints_csv_extractor_spark.operators.textops import _bm25_meta_path
from datapoints_csv_extractor_spark.sinks.store_commit import (
    read_json,
    update_json,
)


def _read_manifest_full(store):
    return read_json(manifest_path(store), EMPTY_MANIFEST)


def _bm25_read_meta(index_dir):
    return read_json(_bm25_meta_path(index_dir))


def _texts(n: int) -> list[str]:
    return [
        f"shard {i} carries its own entirely distinct narrative about "
        f"topic number {i} with plenty of unique words like token{i}a "
        f"token{i}b token{i}c spread across the document body"
        for i in range(n)
    ]


def test_band_store_tombstones_pre_and_post_compaction(spark, tmp_path):
    from datapoints_csv_extractor_spark.operators.dedup import (
        delete_from_store,
        dedup_incremental,
        store_tombstones,
    )
    from datapoints_csv_extractor_spark.plans.compaction import (
        compact_band_store,
    )

    store = str(tmp_path / "bandstore")
    texts = _texts(3)
    for i, t in enumerate(texts):
        dedup_incremental(
            spark.createDataFrame([(i, t)], "doc_id long, text string"), store
        ).count()

    def probe(new_id: int, text: str) -> set[tuple]:
        v = dedup_incremental(
            spark.createDataFrame(
                [(new_id, text)], "doc_id long, text string"
            ),
            store,
        ).collect()
        return {(r.doc_id, r.dup_of_doc_id, r.dup_kind) for r in v}

    # Baseline: doc 0's text is recognized as known.
    assert probe(100, texts[0]) == {(100, 0, "known")}

    # Tombstone doc 0 (and the probe's own fold, so later probes of
    # the same text test the tombstone, not the probe ingest).
    assert delete_from_store(spark, store, [0, 100], delete_id="redact1")
    assert not delete_from_store(spark, store, [0, 100], delete_id="redact1")

    # Pre-compaction: deleted doc no longer matches; others still do.
    assert probe(101, texts[0]) == set()
    assert delete_from_store(spark, store, [101], delete_id="redact2")
    assert probe(102, texts[1]) == {(102, 1, "known")}
    assert delete_from_store(spark, store, [102], delete_id="redact3")
    assert store_tombstones(spark, store).count() == 4

    # Compaction folds the tombstones physically and clears the ledger.
    compact_band_store(spark, store, min_ingests=1)
    sig_ids = {
        r.doc_id for r in spark.read.parquet(f"{store}/signatures").collect()
    }
    assert 0 not in sig_ids and 1 in sig_ids and 2 in sig_ids
    m = _read_manifest_full(store)
    assert m["deletes"] == []
    assert not glob.glob(f"{store}/tombstones/delete=*")

    # Post-compaction the deleted doc still doesn't match.
    assert probe(103, texts[0]) == set()
    assert probe(104, texts[2]) == {(104, 2, "known")}


def test_ivf_store_tombstones_pre_and_post_compaction(spark, tmp_path):
    import random

    from datapoints_csv_extractor_spark.operators.dedup import (
        delete_from_store,
    )
    from datapoints_csv_extractor_spark.operators.similarity import (
        ann_ivf_topk_from_index,
        build_ivf_index,
        read_ivf_assignments,
        semantic_dedup_incremental,
    )
    from datapoints_csv_extractor_spark.plans.compaction import (
        compact_ivf_store,
    )

    rng = random.Random(7)
    dim = 8
    base = [rng.uniform(-1, 1) for _ in range(dim)]
    rows = [(0, 0, base)]
    for i in range(1, 40):
        rows.append((i, 0, [rng.uniform(-1, 1) for _ in range(dim)]))
    e = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    index_dir = str(tmp_path / "ivf")
    build_ivf_index(e, index_dir, n_centroids=4)

    # Baseline: querying with vec 0's own embedding finds vec 0.
    hits = [
        r.vec_id
        for r in ann_ivf_topk_from_index(
            spark, index_dir, base, k=3, n_probe=4
        ).collect()
    ]
    assert hits[0] == 0

    assert delete_from_store(
        spark, index_dir, [0], delete_id="redact1", id_col="vec_id"
    )
    assert not delete_from_store(
        spark, index_dir, [0], delete_id="redact1", id_col="vec_id"
    )

    # Pre-compaction: vec 0 is gone from serving and from the
    # semantic-dedup known side.
    assert 0 not in {
        r.vec_id for r in read_ivf_assignments(spark, index_dir).collect()
    }
    hits = [
        r.vec_id
        for r in ann_ivf_topk_from_index(
            spark, index_dir, base, k=3, n_probe=4
        ).collect()
    ]
    assert 0 not in hits
    verdicts = semantic_dedup_incremental(
        spark.createDataFrame(
            [(500, base)], "vec_id long, embedding array<double>"
        ),
        index_dir,
        threshold=0.99,
        append=False,
    ).collect()
    assert all(r.rep_id != 0 for r in verdicts)

    # Compaction: physical removal + ledger cleared.
    compact_ivf_store(spark, index_dir, min_ingests=1)
    stored_ids = {
        r.vec_id for r in read_ivf_assignments(spark, index_dir).collect()
    }
    assert 0 not in stored_ids and len(stored_ids) == 39
    raw_ids = {
        r.vec_id
        for r in spark.read.parquet(f"{index_dir}/assignments").collect()
    }
    assert 0 not in raw_ids, "tombstoned row must be physically gone"
    m = _read_manifest_full(index_dir)
    assert m["deletes"] == []
    assert not glob.glob(f"{index_dir}/tombstones/delete=*")


def test_bm25_tombstones_pre_and_post_compaction(spark, tmp_path):
    from datapoints_csv_extractor_spark.operators.textops import (
        append_bm25_shard,
        bm25_topk_from_index,
        build_bm25_index,
        compact_bm25_index,
        delete_from_bm25_index,
    )

    idx = str(tmp_path / "bm25")
    docs1 = spark.createDataFrame(
        [
            (1, "alpine glaciers carve granite valleys slowly"),
            (2, "alpine meadows bloom under summer skies"),
        ],
        "doc_id long, text string",
    )
    docs2 = spark.createDataFrame(
        [(3, "glaciers retreat as granite ridges warm")],
        "doc_id long, text string",
    )
    build_bm25_index(docs1, idx, n_buckets=8)
    append_bm25_shard(docs2, idx, "s2")
    meta0 = _bm25_read_meta(idx)
    n0 = sum(s["n_docs"] for s in meta0["shards"].values())
    assert n0 == 3

    hits = {
        r.doc_id
        for r in bm25_topk_from_index(spark, idx, ["glaciers"], k=5).collect()
    }
    assert hits == {1, 3}

    assert delete_from_bm25_index(spark, idx, [1], delete_id="redact1")
    assert not delete_from_bm25_index(spark, idx, [1], delete_id="redact1")

    # Pre-compaction: doc 1 unretrievable, stats exclude it, and a
    # double-delete of the same doc under a new id counts zero.
    hits = {
        r.doc_id
        for r in bm25_topk_from_index(spark, idx, ["glaciers"], k=5).collect()
    }
    assert hits == {3}
    meta1 = _bm25_read_meta(idx)
    assert meta1["deletes"]["redact1"]["n_docs"] == 1
    assert meta1["deletes"]["redact1"]["dl_sum"] > 0
    assert delete_from_bm25_index(spark, idx, [1], delete_id="redact1b")
    assert _bm25_read_meta(idx)["deletes"]["redact1b"] == {
        "n_docs": 0,
        "dl_sum": 0,
    }

    # Compaction drops the postings physically and clears the ledger;
    # the folded stats equal a fresh index over the live docs.
    compact_bm25_index(spark, idx)
    meta2 = _bm25_read_meta(idx)
    assert meta2.get("deletes", {}) == {}
    assert sum(s["n_docs"] for s in meta2["shards"].values()) == 2
    assert not glob.glob(f"{idx}/tombstones/delete=*")
    raw_ids = {
        r.doc_id for r in spark.read.parquet(f"{idx}/postings").collect()
    }
    assert 1 not in raw_ids
    hits = {
        r.doc_id
        for r in bm25_topk_from_index(spark, idx, ["glaciers"], k=5).collect()
    }
    assert hits == {3}
    # avgdl parity with a from-scratch index over the live docs: the
    # subtracted dl_sum must equal what a rebuild would compute.
    fresh = str(tmp_path / "bm25_fresh")
    live = docs1.where(F.col("doc_id") != 1).unionByName(docs2)
    build_bm25_index(live, fresh, n_buckets=8)
    fm = _bm25_read_meta(fresh)
    assert sum(s["dl_sum"] for s in fm["shards"].values()) == sum(
        s["dl_sum"] for s in meta2["shards"].values()
    )


def test_bm25_delete_of_doc_reingested_across_shards(spark, tmp_path):
    # The shard ledger counts a doc once PER SHARD it was ingested
    # into; deleting that doc must subtract every shard's (count, dl)
    # contribution or N/avgdl drift after delete/compact.
    from datapoints_csv_extractor_spark.operators.textops import (
        append_bm25_shard,
        build_bm25_index,
        compact_bm25_index,
        delete_from_bm25_index,
    )

    idx = str(tmp_path / "bm25")
    build_bm25_index(
        spark.createDataFrame(
            [(1, "old short text"), (2, "stable other doc here")],
            "doc_id long, text string",
        ),
        idx,
        n_buckets=8,
    )
    # Doc 1 re-ingested with a LONGER updated text in a second shard.
    append_bm25_shard(
        spark.createDataFrame(
            [(1, "new much longer updated text body with more words")],
            "doc_id long, text string",
        ),
        idx,
        "s2",
    )
    meta = _bm25_read_meta(idx)
    ledger_n = sum(s["n_docs"] for s in meta["shards"].values())
    ledger_dl = sum(s["dl_sum"] for s in meta["shards"].values())
    assert ledger_n == 3  # doc 1 twice + doc 2 once
    delete_from_bm25_index(spark, idx, [1], delete_id="d1")
    d = _bm25_read_meta(idx)["deletes"]["d1"]
    assert d["n_docs"] == 2  # both shard occurrences subtracted
    assert d["dl_sum"] == ledger_dl - 4  # doc 2's dl = 4 tokens remains
    # After compaction the folded stats equal a fresh index over the
    # surviving doc alone.
    compact_bm25_index(spark, idx)
    meta2 = _bm25_read_meta(idx)
    assert sum(s["n_docs"] for s in meta2["shards"].values()) == 1
    assert sum(s["dl_sum"] for s in meta2["shards"].values()) == 4


def test_phrase_search_unions_positions_across_shards(spark, tmp_path):
    # A doc_id present in two shards must match phrases using the
    # UNION of its per-term position lists, not an arbitrary shard's.
    from datapoints_csv_extractor_spark.operators.textops import (
        append_bm25_shard,
        build_bm25_index,
        phrase_search_from_index,
    )

    idx = str(tmp_path / "bm25")
    build_bm25_index(
        spark.createDataFrame(
            [(5, "cat sat quietly")], "doc_id long, text string"
        ),
        idx,
        n_buckets=8,
    )
    append_bm25_shard(
        spark.createDataFrame(
            [(5, "the cat sat")], "doc_id long, text string"
        ),
        idx,
        "s2",
    )
    rows = phrase_search_from_index(spark, idx, ["cat", "sat"]).collect()
    assert len(rows) == 1
    # shard1: cat@0 sat@1; shard2: cat@1 sat@2 -> two adjacency runs.
    assert rows[0].doc_id == 5 and rows[0].n_hits == 2


def test_manifest_backward_compat_without_deletes_key(tmp_path):
    # A pre-tombstone manifest (no "deletes") reads with an empty
    # ledger and commits preserve it thereafter.
    from datapoints_csv_extractor_spark.operators.dedup import (
        _read_manifest,
        with_ingest,
    )

    store = str(tmp_path / "legacy")
    import os

    os.makedirs(store)
    with open(os.path.join(store, "manifest.json"), "w") as fh:
        json.dump({"ingests": ["a", "b"]}, fh)
    m = _read_manifest_full(store)
    assert m["ingests"] == ["a", "b"] and m["deletes"] == []
    assert update_json(
        manifest_path(store), with_ingest("c"), EMPTY_MANIFEST
    )["ingests"] == ["a", "b", "c"]
    assert _read_manifest(store) == ["a", "b", "c"]
    assert _read_manifest_full(store)["deletes"] == []


def test_forget_documents_across_all_stores(spark, tmp_path):
    """The right-to-be-forgotten composite: one call removes a
    published doc from the corpus (affected split partitions only),
    the band store, and the BM25 index; replaying the same delete id
    is a per-store no-op and removes nothing further."""
    import json as _json
    import os

    from datapoints_csv_extractor_spark.operators.dedup import (
        dedup_incremental,
    )
    from datapoints_csv_extractor_spark.operators.textops import (
        bm25_topk_from_index,
    )
    from datapoints_csv_extractor_spark.plans.corpus_ingest import (
        ingest_corpus_shard,
    )
    from datapoints_csv_extractor_spark.plans.redaction import (
        forget_documents,
    )
    from datapoints_csv_extractor_spark.sources.documents import (
        read_documents_jsonl,
    )

    corpus = str(tmp_path / "corpus")
    store = str(tmp_path / "bandstore")
    idx = str(tmp_path / "bm25")
    base = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "green turtles watch from a mossy riverbank under pale skies"
    )
    docs = [
        (1, base),
        (2, "completely different content about distributed query engines "
            "shuffling partitions across executors with adaptive plans"),
        (3, "entirely novel prose about alpine meadows and patient "
            "glaciers carving valleys through ancient granite ranges"),
    ]
    shard = tmp_path / "s.jsonl"
    shard.write_text(
        "\n".join(
            _json.dumps(
                {"doc_id": i, "text": t, "lang": "en", "source": "s"}
            )
            for i, t in docs
        )
    )
    stats = ingest_corpus_shard(
        spark, read_documents_jsonl(spark, str(shard)), corpus, store,
        ingest_id="day1", bm25_index_path=idx,
    )
    assert stats["published"] == 3

    ledger = forget_documents(
        spark, [1], corpus_path=corpus, band_store=store, bm25_index=idx,
        delete_id="req1",
    )
    assert ledger["corpus_rows_removed"] == 1
    assert ledger["band_store_committed"] and ledger["bm25_committed"]

    # Corpus: doc 1 gone, others intact, split layout preserved.
    out = spark.read.parquet(corpus)
    assert sorted(r.doc_id for r in out.collect()) == [2, 3]
    assert [d for d in os.listdir(corpus) if d.startswith("split=")]

    # Retrieval: unfindable.
    assert (
        bm25_topk_from_index(spark, idx, ["turtles"], k=5).collect() == []
    )
    # Dedup state: a near-copy of the forgotten doc is NOT flagged.
    v = dedup_incremental(
        spark.createDataFrame(
            [(50, base.replace("pale", "dark"))], "doc_id long, text string"
        ),
        store,
    ).collect()
    assert all(r.dup_of_doc_id != 1 for r in v)

    # Replay: per-store no-op, nothing further removed.
    again = forget_documents(
        spark, [1], corpus_path=corpus, band_store=store, bm25_index=idx,
        delete_id="req1",
    )
    assert again["corpus_rows_removed"] == 0
    assert not again["band_store_committed"] and not again["bm25_committed"]


def test_stream_forget_processes_takedown_queue(spark, tmp_path):
    """A streamed redaction queue drives forget_documents per batch:
    after the availableNow run the docs are gone from the streamed
    corpus, band store, and BM25 index; a checkpoint-restart replays
    no work (per-store no-op ledgers)."""
    import json as _json

    from datapoints_csv_extractor_spark.operators.textops import (
        bm25_topk_from_index,
    )
    from datapoints_csv_extractor_spark.plans.corpus_ingest import (
        ingest_corpus_shard,
    )
    from datapoints_csv_extractor_spark.plans.redaction import stream_forget
    from datapoints_csv_extractor_spark.sources.documents import (
        read_documents_jsonl,
    )

    corpus = str(tmp_path / "corpus")
    store = str(tmp_path / "bandstore")
    idx = str(tmp_path / "bm25")
    docs = [
        (1, "the quick brown fox jumps over the lazy dog near a mossy "
            "riverbank while seventeen green turtles watch quietly"),
        (2, "completely different content about distributed query engines "
            "shuffling partitions across executors with adaptive plans"),
    ]
    shard = tmp_path / "s.jsonl"
    shard.write_text(
        "\n".join(
            _json.dumps(
                {"doc_id": i, "text": t, "lang": "en", "source": "s"}
            )
            for i, t in docs
        )
    )
    ingest_corpus_shard(
        spark, read_documents_jsonl(spark, str(shard)), corpus, store,
        ingest_id="seed", bm25_index_path=idx,
    )

    qdir = tmp_path / "queue"
    qdir.mkdir()
    (qdir / "takedown1.json").write_text(_json.dumps({"doc_id": 1}))
    ids_stream = spark.readStream.schema("doc_id long").json(str(qdir))
    ledgers: list[tuple[int, dict]] = []
    q = stream_forget(
        spark, ids_stream, str(tmp_path / "ckpt"),
        corpus_path=corpus, band_store=store, bm25_index=idx,
        on_batch=lambda bid, led: ledgers.append((bid, led)),
    )
    q.awaitTermination(120)
    assert ledgers and ledgers[0][1]["corpus_rows_removed"] == 1
    assert sorted(r.doc_id for r in spark.read.parquet(corpus).collect()) == [2]
    assert (
        bm25_topk_from_index(spark, idx, ["turtles"], k=5).collect() == []
    )

    # Restart from the checkpoint: the processed file is not replayed
    # (and a forced replay of the same batch id would no-op anyway).
    ledgers.clear()
    q2 = stream_forget(
        spark, ids_stream, str(tmp_path / "ckpt"),
        corpus_path=corpus, band_store=store, bm25_index=idx,
        on_batch=lambda bid, led: ledgers.append((bid, led)),
    )
    q2.awaitTermination(120)
    assert ledgers == []
    assert sorted(r.doc_id for r in spark.read.parquet(corpus).collect()) == [2]


def test_refresh_ivf_index_folds_tombstones(spark, tmp_path):
    """An offline refresh retrains WITHOUT deleted vectors, clears
    the delete ledger it snapshotted, and removes the tombstone
    directories — the refresh doubles as a tombstone fold."""
    import random

    from datapoints_csv_extractor_spark.operators.dedup import (
        delete_from_store,
    )
    from datapoints_csv_extractor_spark.operators.similarity import (
        build_ivf_index,
        read_ivf_assignments,
        refresh_ivf_index,
    )

    rng = random.Random(11)
    e = spark.createDataFrame(
        [
            (i, 0, [rng.uniform(-1, 1) for _ in range(8)])
            for i in range(30)
        ],
        "vec_id long, label int, embedding array<double>",
    )
    index_dir = str(tmp_path / "ivf")
    build_ivf_index(e, index_dir, n_centroids=2)
    delete_from_store(
        spark, index_dir, [3, 4], delete_id="d", id_col="vec_id"
    )

    refresh_ivf_index(spark, index_dir, n_centroids=2, n_train_iters=1)

    stored = {
        r.vec_id for r in read_ivf_assignments(spark, index_dir).collect()
    }
    assert stored == set(range(30)) - {3, 4}
    raw = {
        r.vec_id
        for r in spark.read.parquet(f"{index_dir}/assignments").collect()
    }
    assert raw == stored, "refresh fold must drop deleted rows physically"
    m = _read_manifest_full(index_dir)
    assert m["deletes"] == []
    assert not glob.glob(f"{index_dir}/tombstones/delete=*")


def test_ivfpq_incremental_lifecycle_with_deletes(spark, tmp_path):
    """Full IVF-PQ store lifecycle: build, manifest-committed
    incremental append (replay no-op), tombstone delete honored by
    serving, physical fold via compaction."""
    import random

    from datapoints_csv_extractor_spark.operators.dedup import (
        delete_from_store,
    )
    from datapoints_csv_extractor_spark.operators.similarity import (
        ann_ivfpq_topk,
        append_ivfpq_shard,
        build_ivfpq_index,
    )
    from datapoints_csv_extractor_spark.plans.compaction import (
        compact_ivfpq_store,
    )

    rng = random.Random(19)
    dim = 32
    query = [rng.uniform(-1, 1) for _ in range(dim)]
    base_rows = [(0, 0, query)] + [
        (i, 1, [rng.uniform(-1, 1) for _ in range(dim)])
        for i in range(1, 120)
    ]
    e = spark.createDataFrame(
        base_rows, "vec_id long, label int, embedding array<double>"
    )
    index_dir = str(tmp_path / "ivfpq")
    build_ivfpq_index(e, index_dir, n_centroids=4, m=4, k=8, n_iters=2)

    # Incremental shard: planted near-dups of the query arrive later.
    shard = spark.createDataFrame(
        [
            (500 + i, 0, [x + rng.uniform(-0.02, 0.02) for x in query])
            for i in range(10)
        ],
        "vec_id long, label int, embedding array<double>",
    )
    assert append_ivfpq_shard(shard, index_dir, ingest_id="day1")
    assert not append_ivfpq_shard(shard, index_dir, ingest_id="day1")

    got = [
        r.vec_id
        for r in ann_ivfpq_topk(
            spark, index_dir, query, k=10, n_probe=4, exclude_vec_id=0
        ).collect()
    ]
    planted = set(range(500, 510))
    assert len(planted & set(got)) >= 8, got

    # Tombstone half the planted shard: they stop serving.
    dead = list(range(500, 505))
    assert delete_from_store(
        spark, index_dir, dead, delete_id="d1", id_col="vec_id"
    )
    got2 = [
        r.vec_id
        for r in ann_ivfpq_topk(
            spark, index_dir, query, k=10, n_probe=4, exclude_vec_id=0
        ).collect()
    ]
    assert set(got2).isdisjoint(dead)
    assert len(set(range(505, 510)) & set(got2)) >= 4

    # Compaction folds physically and clears the ledger.
    compact_ivfpq_store(spark, index_dir, min_ingests=1)
    raw = {
        r.vec_id
        for r in spark.read.parquet(f"{index_dir}/codes").collect()
    }
    assert raw.isdisjoint(dead)
    assert _read_manifest_full(index_dir)["deletes"] == []
    got3 = [
        r.vec_id
        for r in ann_ivfpq_topk(
            spark, index_dir, query, k=10, n_probe=4, exclude_vec_id=0
        ).collect()
    ]
    assert set(got3).isdisjoint(dead)


def test_store_stats_reports(spark, tmp_path):
    """The band-store and BM25 health reports: per-ingest/shard rows
    plus a tombstone summary, consistent with the actual store
    contents before and after deletes."""
    from datapoints_csv_extractor_spark.operators.dedup import (
        band_store_stats,
        dedup_incremental,
        delete_from_store,
    )
    from datapoints_csv_extractor_spark.operators.textops import (
        append_bm25_shard,
        bm25_index_stats,
        build_bm25_index,
        delete_from_bm25_index,
    )

    store = str(tmp_path / "band")
    for i, t in enumerate(_texts(2)):
        dedup_incremental(
            spark.createDataFrame([(i, t)], "doc_id long, text string"),
            store, ingest_id=f"s{i}",
        ).count()
    delete_from_store(spark, store, [0], delete_id="d")
    got = {r.ingest: r for r in band_store_stats(spark, store).collect()}
    assert got["s0"].n_docs == 1 and got["s1"].n_docs == 1
    assert got["tombstones"].n_docs == 1
    assert all(r.n_files >= 1 for r in got.values())

    idx = str(tmp_path / "bm25")
    build_bm25_index(
        spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "beta delta")],
            "doc_id long, text string",
        ),
        idx, n_buckets=8,
    )
    append_bm25_shard(
        spark.createDataFrame([(3, "gamma epsilon")], "doc_id long, text string"),
        idx, "s2",
    )
    delete_from_bm25_index(spark, idx, [2], delete_id="d")
    stats = {r.shard: r for r in bm25_index_stats(spark, idx).collect()}
    assert stats["base"].n_docs == 2 and stats["s2"].n_docs == 1
    assert stats["base"].n_postings == 5 and stats["s2"].n_postings == 2
    assert stats["deleted"].n_docs == 1 and stats["deleted"].dl_sum == 2


def test_store_inventory_reads_every_family(spark, tmp_path):
    """The unified inventory reports one ok row per live store, an
    ok=false row for a broken path, and never raises."""
    from pyspark.sql import functions as F

    from datapoints_csv_extractor_spark.operators.curation import (
        build_dsir_store,
    )
    from datapoints_csv_extractor_spark.operators.dedup import (
        dedup_incremental,
    )
    from datapoints_csv_extractor_spark.operators.similarity import (
        build_ivf_index,
        build_sq_index,
        pca_save,
        pca_train,
    )
    from datapoints_csv_extractor_spark.operators.textops import (
        build_bm25_index,
        build_lm_store,
    )
    from datapoints_csv_extractor_spark.plans.inventory import store_inventory
    from datapoints_csv_extractor_spark.sinks.merge_store import (
        upsert_into_store,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(50).select("doc_id", "text", "source")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    band = str(tmp_path / "band")
    dedup_incremental(docs.select("doc_id", "text"), band, ingest_id="a")
    bm25 = str(tmp_path / "bm25")
    build_bm25_index(docs.select("doc_id", "text"), bm25)
    ivf = str(tmp_path / "ivf")
    build_ivf_index(emb, ivf, n_centroids=4, n_train_iters=1)
    sq = str(tmp_path / "sq")
    build_sq_index(emb, sq)
    lm = str(tmp_path / "lm")
    build_lm_store(docs.select("doc_id", "text"), lm)
    dsir = str(tmp_path / "dsir")
    build_dsir_store(docs, docs.where(F.col("doc_id") % 2 == 0), dsir)
    pca = str(tmp_path / "pca")
    pca_save(spark, pca_train(emb, "embedding", k=2), pca)
    merge = str(tmp_path / "merge")
    upsert_into_store(
        spark,
        docs.select(
            F.col("doc_id").alias("k"),
            F.col("text").alias("v"),
            F.lit(1).alias("version"),
            F.lit(False).alias("deleted"),
        ),
        merge,
        keys=["k"],
        version_cols=["version"],
    )

    inv = store_inventory(
        spark,
        {
            "dedup": ("band", band),
            "search": ("bm25", bm25),
            "ann": ("ivf", ivf),
            "ann8": ("sq", sq),
            "quality-lm": ("lm", lm),
            "selection": ("dsir", dsir),
            "latest": ("merge", merge),
            "projector": ("pca", pca),
            "broken": ("band", str(tmp_path / "nope")),
            "weird": ("zzz", "/"),
        },
    ).collect()
    by = {r.store_type: r for r in inv}
    assert len(inv) == 10
    for t in ("band:dedup", "bm25:search", "ivf:ann", "sq:ann8",
              "lm:quality-lm", "dsir:selection", "merge:latest",
              "pca:projector"):
        assert by[t].ok and by[t].n_rows > 0, t
    assert not by["band:broken"].ok
    assert not by["weird"].ok


def test_concurrent_band_store_folds_preserve_both_ingests(spark, tmp_path):
    """Two racing ingest folds into one band store must both survive
    the manifest (the lock-protected read-modify-write contract) —
    neither committer may overwrite the other's entry — and the store
    must afterwards serve candidates from BOTH shards."""
    import threading

    from datapoints_csv_extractor_spark.operators.dedup import (
        dedup_incremental,
    )

    store = str(tmp_path / "band")
    text_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    text_b = "one two three four five six seven eight nine ten eleven"
    shard_a = spark.createDataFrame([(1, text_a)], "doc_id long, text string")
    shard_b = spark.createDataFrame([(2, text_b)], "doc_id long, text string")

    barrier = threading.Barrier(2)
    errors: list = []

    def fold(shard, ingest_id):
        try:
            barrier.wait()
            dedup_incremental(shard, store, ingest_id=ingest_id)
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    t1 = threading.Thread(target=fold, args=(shard_a, "racer_a"))
    t2 = threading.Thread(target=fold, args=(shard_b, "racer_b"))
    t1.start(); t2.start(); t1.join(120); t2.join(120)
    assert not errors
    ingests = set(_read_manifest_full(store)["ingests"])
    assert {"racer_a", "racer_b"} <= ingests

    # Near-copies of both shards' docs are flagged against the store.
    probe = spark.createDataFrame(
        [(10, text_a + " tail"), (11, text_b + " tail")],
        "doc_id long, text string",
    )
    flagged = {
        r.doc_id
        for r in dedup_incremental(
            probe, store, ingest_id="probe"
        ).collect()
    }
    assert flagged == {10, 11}


def test_sq8_tombstones_and_compaction(spark, tmp_path):
    """SQ8 deletion lifecycle: a tombstoned vector vanishes from
    serving immediately, compaction removes it physically and clears
    the ledger, and results are unchanged for the survivors."""
    from pyspark.sql import functions as F

    from datapoints_csv_extractor_spark.operators import similarity as V

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = str(tmp_path / "sq")
    V.build_sq_index(e, idx)
    q = list(e.where(F.col("vec_id") == 0).first().embedding)

    top = V.ann_sq_topk_from_index(spark, idx, q, exclude_vec_id=0).collect()
    victim = top[0].vec_id
    V.delete_from_sq_index(spark, idx, [victim])
    after = V.ann_sq_topk_from_index(spark, idx, q, exclude_vec_id=0).collect()
    assert victim not in {r.vec_id for r in after}
    assert [r.vec_id for r in after[:5]] == [
        r.vec_id for r in top if r.vec_id != victim
    ][:5]

    removed = V.compact_sq_index(spark, idx)
    assert removed == 1
    import os

    assert not os.path.isdir(os.path.join(idx, "deletes"))
    post = V.ann_sq_topk_from_index(spark, idx, q, exclude_vec_id=0).collect()
    assert [r.vec_id for r in post] == [r.vec_id for r in after]
    # replay-append-safe: deleting an already-gone id is a no-op fold
    V.delete_from_sq_index(spark, idx, [victim])
    assert V.compact_sq_index(spark, idx) == 0
