"""Document-corpus sources: JSONL + text-tree readers feed the
LLM-pipeline operators with the canonical (doc_id, text, ...) frame."""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import functions as F

from datapoints_csv_extractor_spark.sources.documents import (
    corrupt_line_stats,
    read_documents_jsonl,
    read_documents_text_tree,
)
from datapoints_csv_extractor_spark.operators.dedup import ngram_jaccard_pairs


def _write_jsonl(path: Path, rows, corrupt_lines=()) -> None:
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
        for line in corrupt_lines:
            f.write(line + "\n")


def test_jsonl_reader_schema_and_corrupt_handling(spark, tmp_path):
    p = tmp_path / "corpus.jsonl"
    _write_jsonl(
        p,
        [
            {"doc_id": 1, "text": "alpha beta gamma delta epsilon", "lang": "en"},
            {"doc_id": 2, "text": "uno dos tres cuatro cinco", "lang": "es"},
        ],
        corrupt_lines=['{"doc_id": broken', "not json at all"],
    )
    clean = read_documents_jsonl(spark, str(p))
    rows = {r.doc_id: r for r in clean.collect()}
    assert set(rows) == {1, 2}
    assert rows[1].lang == "en"
    # Explicit schema: no inference pass, stable column set.
    assert clean.columns == ["doc_id", "text", "lang", "source"]

    stats = corrupt_line_stats(spark, str(p)).collect()[0]
    assert stats.n_lines == 4
    assert stats.n_corrupt == 2


def test_text_tree_reader_deterministic_ids(spark, tmp_path):
    tree = tmp_path / "tree" / "sub"
    tree.mkdir(parents=True)
    (tree / "a.txt").write_text("alpha beta gamma delta epsilon zeta")
    (tree / "b.txt").write_text("alpha beta gamma delta epsilon eta")
    docs = read_documents_text_tree(spark, str(tmp_path / "tree"))
    rows = docs.collect()
    assert len(rows) == 2
    assert all(r.source.endswith(".txt") for r in rows)
    # Deterministic ids across reads.
    again = {r.source: r.doc_id for r in docs.collect()}
    assert {r.source: r.doc_id for r in rows} == again

    # The canonical frame feeds the dedup operators directly.
    pairs = ngram_jaccard_pairs(docs, threshold=0.3).collect()
    assert len(pairs) == 1
    assert pairs[0].jaccard > 0.4


def test_write_curated_corpus_partitioned_by_split(spark, tmp_path):
    from pyspark.sql import functions as F

    from datapoints_csv_extractor_spark.sinks.corpus import write_curated_corpus

    out = tmp_path / "curated"
    counts = write_curated_corpus(spark, "/root/testdata/sf0.001", str(out))
    assert counts and sum(counts.values()) > 0
    # Partitioned layout: split=... directories exist.
    assert any(p.name.startswith("split=") for p in out.iterdir() if p.is_dir())
    # Partition pruning: a split-filtered scan reads only its directory.
    scan = spark.read.parquet(str(out)).where(F.col("split") == "train")
    plan = scan._sc._jvm.PythonSQLUtils.explainString(
        scan._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan and "split" in plan
    # Kept set excludes near-dup non-canonicals: strictly fewer rows
    # than the raw corpus.
    assert sum(counts.values()) < 500


def test_ingest_corpus_shard_two_days(spark, tmp_path):
    """Two daily JSONL shards through the full ingest plan: day 2's
    near-copy of a day-1 doc is dropped against the persisted band
    store, low-quality docs never reach dedup, survivors land in the
    split-partitioned corpus, and the counts add up."""
    import json

    from datapoints_csv_extractor_spark.plans.corpus_ingest import (
        ingest_corpus_shard,
    )
    from datapoints_csv_extractor_spark.sources.documents import (
        read_documents_jsonl,
    )

    corpus = str(tmp_path / "corpus")
    store = str(tmp_path / "bandstore")
    base = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "green turtles watch from a mossy riverbank under pale skies"
    )
    other = (
        "completely different content about distributed query engines "
        "shuffling partitions across executors with adaptive plans"
    )

    def write_shard(name, docs):
        p = tmp_path / name
        p.write_text(
            "\n".join(json.dumps({"doc_id": i, "text": t, "lang": "en", "source": name}) for i, t in docs)
        )
        return str(p)

    day1 = write_shard(
        "day1.jsonl", [(1, base), (2, other), (3, "too short!!")]
    )
    stats1 = ingest_corpus_shard(
        spark, read_documents_jsonl(spark, day1), corpus, store
    )
    assert stats1 == {
        "received": 3, "pii_redacted": 0, "low_quality": 1,
        "resampled_out": 0, "perplexity_filtered": 0, "dsir_filtered": 0, "line_deduped": 0, "repetition_filtered": 0,
        "duplicate": 0, "published": 2, "indexed": 0,
    }

    day2 = write_shard(
        "day2.jsonl",
        [
            (101, base.replace("pale", "dark")),  # near-dup of day-1 doc 1
            (102, "entirely novel prose about alpine meadows and patient glaciers"),
        ],
    )
    stats2 = ingest_corpus_shard(
        spark, read_documents_jsonl(spark, day2), corpus, store
    )
    assert stats2 == {
        "received": 2, "pii_redacted": 0, "low_quality": 0,
        "resampled_out": 0, "perplexity_filtered": 0, "dsir_filtered": 0, "line_deduped": 0, "repetition_filtered": 0,
        "duplicate": 1, "published": 1, "indexed": 0,
    }

    out = spark.read.parquet(corpus)
    assert sorted(r.doc_id for r in out.collect()) == [1, 2, 102]
    assert "split" in out.columns
    # Partition layout: split is a directory column (pruned reads).
    import glob

    assert glob.glob(f"{corpus}/split=*"), "corpus must be split-partitioned"


def test_ingest_corpus_shard_curation_stages(spark, tmp_path):
    """The full curation stack inside the ingest plan: PII is scrubbed
    before text reaches the band store or the corpus, the classifier
    gate and per-source resampling drop docs deterministically, and
    the counts ledger adds up."""
    import json

    from datapoints_csv_extractor_spark.plans.corpus_ingest import (
        ingest_corpus_shard,
    )
    from datapoints_csv_extractor_spark.sources.documents import (
        read_documents_jsonl,
    )
    from datapoints_csv_extractor_spark.operators.dedup import dedup_incremental

    corpus = str(tmp_path / "corpus")
    store = str(tmp_path / "bandstore")
    filler = (
        "substantial enough prose discussing renewable microgrids and "
        "long horizon storage economics in coastal towns"
    )
    docs = [
        # kept, but carries an email that must be scrubbed
        {"doc_id": 1, "text": f"{filler} write to alice@example.com", "source": "keepall"},
        {
            "doc_id": 2,
            "text": (
                "wholly unrelated survey of medieval manuscript binding "
                "techniques and the trade routes that carried vellum north"
            ),
            "source": "keepall",
        },
        {"doc_id": 3, "text": "tiny!!", "source": "keepall"},  # low quality
        # downsampled source: threshold '00' keeps nothing
        {"doc_id": 4, "text": f"{filler} from the oversampled crawl", "source": "crawl"},
    ]
    p = tmp_path / "shard.jsonl"
    p.write_text("\n".join(json.dumps(d) for d in docs))

    stats = ingest_corpus_shard(
        spark,
        read_documents_jsonl(spark, str(p)),
        corpus,
        store,
        resample_thresholds={"crawl": "00"},
    )
    assert stats == {
        "received": 4, "pii_redacted": 1, "low_quality": 1,
        "resampled_out": 1, "perplexity_filtered": 0, "dsir_filtered": 0, "line_deduped": 0,
        "repetition_filtered": 0,
        "duplicate": 0, "published": 2, "indexed": 0,
    }
    out = spark.read.parquet(corpus)
    texts = {r.doc_id: r.text for r in out.collect()}
    assert set(texts) == {1, 2}
    assert "alice@example.com" not in texts[1]
    assert "<EMAIL>" in texts[1]

    # Re-ingesting the same shard is idempotent on decisions: doc 1's
    # redacted text is now a known dup against the store.
    stats2 = ingest_corpus_shard(
        spark,
        read_documents_jsonl(spark, str(p)),
        corpus,
        store,
        resample_thresholds={"crawl": "00"},
    )
    assert stats2["published"] == 0
    assert stats2["duplicate"] == 2

    # Every optional gate at once: the ledger (read off the checkpoint
    # jobs' observations) equals plain count()s of the same stages.
    docs, stored = _all_gates_docs()
    shard = tmp_path / "all_gates.jsonl"
    shard.write_text("\n".join(json.dumps(d) for d in docs))
    frame = read_documents_jsonl(spark, str(shard))
    lm, dsir = str(tmp_path / "lm"), str(tmp_path / "dsir")
    _build_gate_stores(spark, frame, lm, dsir)
    store_all = str(tmp_path / "store_all")
    dedup_incremental(
        spark.createDataFrame([(900, stored)], "doc_id long, text string"),
        store_all, ingest_id="seed",
    )
    gates = dict(
        classifier_threshold=-1.0,
        resample_thresholds={"crawl": "80"},
        line_dedup_tokens=6,
        lm_store_path=lm,
        max_ppl=25.0,
        dsir_store_path=dsir,
        min_dsir_logweight=-5.0,
        max_repeated_fraction=0.5,
    )
    all_corpus = str(tmp_path / "corpus_all")
    stats3 = ingest_corpus_shard(
        spark, frame, all_corpus, store_all,
        bm25_index_path=str(tmp_path / "bm25_all"), **gates,
    )
    expected = _count_oracle(spark, frame, **gates)
    published = spark.read.parquet(all_corpus).count()
    expected["duplicate"] = expected.pop("deduped_input") - published
    expected["published"] = expected["indexed"] = published
    assert stats3 == expected
    assert all(v > 0 for v in stats3.values()), stats3


_IN_DOMAIN = (
    "river stone bridge market harvest lantern orchard meadow valley "
    "village baker miller weaver candle winter summer festival song "
    "road hill"
).split()
_OFF_DOMAIN = (
    "quantum ledger protocol token wallet validator consensus block "
    "chain hash mining staking oracle bridge gas fee"
).split()


def _all_gates_docs() -> tuple[list[dict], str]:
    """A shard on which every optional ingest gate drops or rewrites
    at least one document, plus the text of a document the band store
    already holds (doc 34 repeats it):

    - 30 fails the quality gate; 31 carries an e-mail address;
    - ``crawl`` docs are resampled;
    - 33 opens with doc 1's first six-token line (line dedup);
    - 32 is gibberish the LM has never seen (perplexity);
    - 35 is prose from another domain (DSIR);
    - 40-42 share a 14-word phrase (repetition).
    """
    import random

    rng = random.Random(11)

    def prose(n, vocab=_IN_DOMAIN):
        return " ".join(rng.choice(vocab) for _ in range(n))

    docs = [
        {"doc_id": i, "text": prose(rng.randint(20, 40)),
         "source": "crawl" if i % 3 == 0 else "keepall"}
        for i in range(1, 25)
    ]
    stored, shared = prose(30), prose(14)
    first_line = " ".join(docs[0]["text"].split()[:6])
    docs += [
        {"doc_id": 30, "text": "tiny!!", "source": "keepall"},
        {"doc_id": 31, "text": prose(25) + " mail bob@example.org", "source": "keepall"},
        {"doc_id": 32, "text": "zzq vrk plm wqx jjt nnb qqy zpw mlk rrv ttx bbn "
                               "qpa wos edr fgt hyu jki olz xcv", "source": "keepall"},
        {"doc_id": 33, "text": first_line + " " + prose(20), "source": "keepall"},
        {"doc_id": 34, "text": stored, "source": "keepall"},
        {"doc_id": 35, "text": prose(30, _OFF_DOMAIN), "source": "keepall"},
    ]
    docs += [
        {"doc_id": 40 + j, "text": prose(j + 1) + " " + shared, "source": "keepall"}
        for j in range(3)
    ]
    return docs, stored


def _build_gate_stores(spark, frame, lm_path, dsir_path) -> None:
    """The LM knows every doc but the gibberish one; the DSIR target
    also leaves out the off-domain one."""
    from datapoints_csv_extractor_spark.operators.curation import build_dsir_store
    from datapoints_csv_extractor_spark.operators.textops import build_lm_store

    docs = frame.select("doc_id", "text")
    build_lm_store(docs.where(F.col("doc_id") != 32), lm_path)
    build_dsir_store(docs, docs.where(~F.col("doc_id").isin(32, 35)), dsir_path)


def _count_oracle(
    spark, frame, *, classifier_threshold, resample_thresholds,
    line_dedup_tokens, lm_store_path, max_ppl, dsir_store_path,
    min_dsir_logweight, max_repeated_fraction,
) -> dict[str, int]:
    """The ingest plan's pre-dedup stages, each counted with its own
    count(): the ledger every shard must reproduce. ``deduped_input``
    is the number of documents that reach the incremental dedup."""
    from datapoints_csv_extractor_spark.operators.curation import (
        dsir_score_from_store,
        line_dedup_reassemble,
        pii_counts,
        pii_redact,
        quality_classifier_score,
        repeated_spans,
    )
    from datapoints_csv_extractor_spark.operators.textops import (
        md5_prefix_bucket,
        perplexity_score_from_store,
        quality_passes,
        tokens,
    )

    c = pii_counts(F.col("text"))
    n_pii = frame.where((c["n_emails"] + c["n_phones"] + c["n_ips"]) > 0).count()
    docs = pii_redact(frame).drop("text").withColumnRenamed("text_redacted", "text")
    passed = docs.where(
        quality_passes(F.col("text"))
        & (quality_classifier_score(tokens(F.col("text"))) >= classifier_threshold)
    )
    n_passed = passed.count()
    bound = F.lit("zz")
    for src, thr in resample_thresholds.items():
        bound = F.when(F.col("source") == src, F.lit(thr)).otherwise(bound)
    sampled = passed.where(md5_prefix_bucket(F.col("doc_id")) < bound)
    n_sampled = sampled.count()
    lines = line_dedup_reassemble(
        sampled.select("doc_id", "text"), tokens_per_line=line_dedup_tokens
    )
    n_rewritten = lines.where(F.col("n_kept_lines") < F.col("n_lines")).count()
    docs = (
        sampled.join(lines.select("doc_id", "retained_text"), "doc_id", "left")
        .withColumn("text", F.coalesce("retained_text", "text"))
        .drop("retained_text")
    )
    dropped = {}
    for name, rejected in (
        ("perplexity_filtered", lambda d: perplexity_score_from_store(
            d.select("doc_id", "text"), lm_store_path, keep_below_ppl=max_ppl
        ).where(~F.col("keep"))),
        ("dsir_filtered", lambda d: dsir_score_from_store(
            d.select("doc_id", "text"), dsir_store_path,
            min_log_weight=min_dsir_logweight,
        ).where(~F.col("keep"))),
        ("repetition_filtered", lambda d: repeated_spans(
            d.withColumn("toks", tokens(F.col("text")))
        ).where(F.col("repeated_fraction") > max_repeated_fraction)),
    ):
        before = docs.count()
        docs = docs.join(rejected(docs).select("doc_id"), "doc_id", "left_anti")
        dropped[name] = before - docs.count()
    n_received = frame.count()
    return {
        "received": n_received,
        "pii_redacted": n_pii,
        "low_quality": n_received - n_passed,
        "resampled_out": n_passed - n_sampled,
        "line_deduped": n_rewritten,
        **dropped,
        "deduped_input": docs.count(),
    }


def test_ingest_corpus_shard_classifier_gate(spark, tmp_path):
    """The optional classifier threshold gates documents the cheap
    quality filter alone would keep; rejected docs count as
    low_quality and never reach the band store."""
    import json

    from datapoints_csv_extractor_spark.operators.curation import (
        quality_classifier_score,
    )
    from datapoints_csv_extractor_spark.operators.textops import tokens
    from datapoints_csv_extractor_spark.plans.corpus_ingest import (
        ingest_corpus_shard,
    )
    from datapoints_csv_extractor_spark.sources.documents import (
        read_documents_jsonl,
    )
    from pyspark.sql import functions as F

    docs = [
        {"doc_id": i, "text": f"sufficiently long document number {i} about topic{i} with several tokens", "source": "a"}
        for i in range(8)
    ]
    p = tmp_path / "shard.jsonl"
    p.write_text("\n".join(json.dumps(d) for d in docs))
    frame = read_documents_jsonl(spark, str(p))
    scores = {
        r.doc_id: r.s
        for r in frame.select(
            "doc_id", quality_classifier_score(tokens(F.col("text"))).alias("s")
        ).collect()
    }
    threshold = sorted(scores.values())[len(scores) // 2]  # median cut
    expect_pass = sum(1 for s in scores.values() if s >= threshold)

    stats = ingest_corpus_shard(
        spark, frame, str(tmp_path / "corpus"), str(tmp_path / "store"),
        classifier_threshold=threshold,
    )
    assert stats["low_quality"] == len(docs) - expect_pass
    assert stats["published"] + stats["duplicate"] == expect_pass


def test_ingest_folds_published_docs_into_bm25_store(spark, tmp_path):
    """With bm25_index_path set, every published doc becomes
    searchable in the standing index; duplicates and rejects are NOT
    indexed; a replayed shard id neither re-publishes nor re-indexes."""
    import json

    from datapoints_csv_extractor_spark.operators.textops import (
        bm25_topk_from_index,
    )
    from datapoints_csv_extractor_spark.plans.corpus_ingest import (
        ingest_corpus_shard,
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
    other = (
        "completely different content about distributed query engines "
        "shuffling partitions across executors with adaptive plans"
    )

    def write_shard(name, docs):
        p = tmp_path / name
        p.write_text(
            "\n".join(
                json.dumps(
                    {"doc_id": i, "text": t, "lang": "en", "source": name}
                )
                for i, t in docs
            )
        )
        return str(p)

    day1 = write_shard("d1.jsonl", [(1, base), (2, other), (3, "no!")])
    s1 = ingest_corpus_shard(
        spark, read_documents_jsonl(spark, day1), corpus, store,
        ingest_id="day1", bm25_index_path=idx,
    )
    assert s1["published"] == 2 and s1["indexed"] == 2
    hits = bm25_topk_from_index(spark, idx, ["turtles"], k=5).collect()
    assert [r["doc_id"] for r in hits] == [1]

    # day 2: one near-dup (dropped, must NOT be indexed), one new doc
    day2 = write_shard(
        "d2.jsonl",
        [(11, base.replace("pale", "dark")),
         (12, "entirely novel prose about alpine meadows and patient glaciers")],
    )
    s2 = ingest_corpus_shard(
        spark, read_documents_jsonl(spark, day2), corpus, store,
        ingest_id="day2", bm25_index_path=idx,
    )
    assert s2["published"] == 1 and s2["indexed"] == 1
    assert [
        r["doc_id"]
        for r in bm25_topk_from_index(spark, idx, ["glaciers"], k=5).collect()
    ] == [12]
    # the dropped near-dup is nowhere in the index
    assert bm25_topk_from_index(spark, idx, ["dark"], k=5).collect() == []

    # replay of day2 (same ingest id): nothing double-indexed
    s2b = ingest_corpus_shard(
        spark, read_documents_jsonl(spark, day2), corpus, store,
        ingest_id="day2", bm25_index_path=idx,
    )
    assert s2b["indexed"] == 0
    hits = bm25_topk_from_index(spark, idx, ["glaciers"], k=5).collect()
    assert len(hits) == 1


# Jobs the second shard of the fixture below runs with PII redaction,
# the quality gate, the band store and BM25 on: one checkpoint for the
# gates, the band-store fold (signatures, band joins, three table
# writes), one checkpoint for the survivors, the corpus write and the
# BM25 postings write. Counting with a separate count() per gate and
# re-running the survivors lineage per consumer took 48.
MAX_SHARD_JOBS = 23


def test_corpus_shard_job_count(spark, tmp_path):
    """Scale guard in the style of test_batch_consumers_do_not_rescan_csv:
    a shard's counts ride on the jobs that already materialise its
    rows, so the job count of a whole shard stays at the measured
    figure (each job is a driver round-trip, which dominates small
    shards)."""
    import uuid

    from datapoints_csv_extractor_spark.plans.corpus_ingest import (
        ingest_corpus_shard,
    )

    docs, _ = _all_gates_docs()
    paths = []
    for k, part in enumerate((docs[:12], docs[12:])):
        p = tmp_path / f"jobs{k}.jsonl"
        p.write_text("\n".join(json.dumps(d) for d in part))
        paths.append(str(p))

    def ingest(k):
        return ingest_corpus_shard(
            spark, read_documents_jsonl(spark, paths[k]),
            str(tmp_path / "corpus"), str(tmp_path / "bands"),
            ingest_id=f"jobs{k}", bm25_index_path=str(tmp_path / "bm25"),
        )

    ingest(0)
    sc = spark.sparkContext
    group = f"corpus-shard-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "second corpus shard")
    try:
        stats = ingest(1)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert stats["pii_redacted"] and stats["low_quality"] and stats["indexed"]
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs <= MAX_SHARD_JOBS, n_jobs


def _ingest_within(spark, seconds, *args, **kwargs):
    """Run ingest_corpus_shard on a daemon thread: an Observation whose
    job never ran would block its reader forever, so a hang fails the
    test instead of stalling the suite."""
    import threading

    from datapoints_csv_extractor_spark.plans.corpus_ingest import (
        ingest_corpus_shard,
    )

    out = {}

    def run():
        try:
            out["stats"] = ingest_corpus_shard(spark, *args, **kwargs)
        except BaseException as e:  # re-raised on the test thread
            out["error"] = e

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(seconds)
    assert not t.is_alive(), "ingest_corpus_shard did not return"
    if "error" in out:
        raise out["error"]
    return out["stats"]


def test_ingest_empty_and_all_rejected_shards(spark, tmp_path):
    """An empty shard and a shard whose documents all fail the quality
    gate return promptly, with every count but received/low_quality
    at zero and nothing published or indexed."""
    zero = {
        "received": 0, "pii_redacted": 0, "low_quality": 0,
        "resampled_out": 0, "perplexity_filtered": 0, "dsir_filtered": 0,
        "line_deduped": 0, "repetition_filtered": 0, "duplicate": 0,
        "published": 0, "indexed": 0,
    }
    empty = tmp_path / "empty.jsonl"
    empty.write_text("")
    rejected = tmp_path / "rejected.jsonl"
    rejected.write_text("\n".join(
        json.dumps({"doc_id": i, "text": "no!!", "source": "s"}) for i in range(5)
    ))
    for name, shard, expected in (
        ("empty", read_documents_jsonl(spark, str(empty)), zero),
        ("empty_frame", spark.createDataFrame(
            [], "doc_id long, text string, lang string, source string"
        ), zero),
        ("rejected", read_documents_jsonl(spark, str(rejected)),
         {**zero, "received": 5, "low_quality": 5}),
    ):
        stats = _ingest_within(
            spark, 300, shard,
            str(tmp_path / "corpus"), str(tmp_path / "bands"),
            ingest_id=name, bm25_index_path=str(tmp_path / "bm25"),
            line_dedup_tokens=4, max_repeated_fraction=0.5,
        )
        assert stats == expected, name


def test_ingest_without_ingest_id_indexes_every_run(spark, tmp_path):
    """Un-id'd ingest runs mint a fresh shard id per call, so the BM25
    fold indexes EVERY run's published docs. Previously a None
    ingest_id collapsed to the constant 'base', making every run after
    the first silently skip indexing (visible only as indexed:0)."""
    import json

    from datapoints_csv_extractor_spark.operators.textops import (
        bm25_topk_from_index,
    )
    from datapoints_csv_extractor_spark.plans.corpus_ingest import (
        ingest_corpus_shard,
    )
    from datapoints_csv_extractor_spark.sources.documents import (
        read_documents_jsonl,
    )

    corpus = str(tmp_path / "corpus")
    store = str(tmp_path / "bandstore")
    idx = str(tmp_path / "bm25")

    def write_shard(name, docs):
        p = tmp_path / name
        p.write_text(
            "\n".join(
                json.dumps(
                    {"doc_id": i, "text": t, "lang": "en", "source": name}
                )
                for i, t in docs
            )
        )
        return str(p)

    d1 = write_shard(
        "u1.jsonl",
        [(1, "the quick brown fox jumps over the lazy dog near a mossy "
             "riverbank while seventeen green turtles watch quietly")],
    )
    d2 = write_shard(
        "u2.jsonl",
        [(2, "entirely novel prose about alpine meadows and patient "
             "glaciers carving valleys through ancient granite ranges")],
    )
    s1 = ingest_corpus_shard(
        spark, read_documents_jsonl(spark, d1), corpus, store,
        bm25_index_path=idx,
    )
    s2 = ingest_corpus_shard(
        spark, read_documents_jsonl(spark, d2), corpus, store,
        bm25_index_path=idx,
    )
    assert s1["indexed"] == 1
    assert s2["indexed"] == 1, "second un-id'd run must still index"
    assert [
        r["doc_id"]
        for r in bm25_topk_from_index(spark, idx, ["glaciers"], k=5).collect()
    ] == [2]


def test_lm_store_roundtrip_and_ingest_perplexity_gate(spark, tmp_path):
    """The persisted LM store scores identically to the inline
    trainer, and the ingest plan's perplexity gate drops
    out-of-domain documents with the count ledger'd."""
    import json

    from datapoints_csv_extractor_spark.operators.textops import (
        build_lm_store,
        perplexity_score,
        perplexity_score_from_store,
    )
    from datapoints_csv_extractor_spark.plans.corpus_ingest import (
        ingest_corpus_shard,
    )
    from datapoints_csv_extractor_spark.sources.documents import (
        read_documents_jsonl,
    )

    trusted = [
        "the committee reviewed the quarterly budget and approved the "
        "infrastructure proposal after a long discussion of costs",
        "the proposal allocates the budget across infrastructure and "
        "maintenance with the committee reviewing costs quarterly",
        "after discussion the committee approved the maintenance budget "
        "and the infrastructure costs for the quarter",
    ]
    train = spark.createDataFrame(
        [(i, t) for i, t in enumerate(trusted)], "doc_id long, text string"
    )
    lm = str(tmp_path / "lm")
    build_lm_store(train, lm)

    probes = spark.createDataFrame(
        [
            (10, "the committee approved the budget for infrastructure "
                 "maintenance after reviewing the quarterly costs"),
            (11, "zzq vrk plm wqx jjt nnb qqy zpw mlk rrv ttx bbn"),
        ],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, perplexity_score(probes, train).collect()))
    b = sorted(map(tuple, perplexity_score_from_store(probes, lm).collect()))
    assert a == b

    # Ingest with the gate: the gibberish doc (which passes the cheap
    # length/punct gates) is perplexity-filtered; the in-domain doc
    # publishes.
    shard = tmp_path / "s.jsonl"
    shard.write_text(
        "\n".join(
            json.dumps({"doc_id": i, "text": t, "lang": "en", "source": "s"})
            for i, t in [
                (1, probes.collect()[0].text),
                (2, "zzq vrk plm wqx jjt nnb qqy zpw mlk rrv ttx bbn "
                    "qpa wos edr fgt hyu jki olz xcv bnm asd fgh jkl"),
            ]
        )
    )
    stats = ingest_corpus_shard(
        spark, read_documents_jsonl(spark, str(shard)),
        str(tmp_path / "corpus"), str(tmp_path / "band"),
        # The tiny trusted vocab compresses the ppl range (the
        # unseen-bigram floor is ~ln(V)); 20 separates the measured
        # in-domain 16.5 from the gibberish 22.0 deterministically.
        lm_store_path=lm, max_ppl=20.0,
    )
    assert stats["perplexity_filtered"] == 1
    assert stats["published"] == 1
    out = spark.read.parquet(str(tmp_path / "corpus"))
    assert [r.doc_id for r in out.collect()] == [1]


def test_dsir_store_ingest_gate(spark, tmp_path):
    """The DSIR gate drops off-domain documents (negative importance
    log-weight vs the target/raw model) before dedup and ledgers them
    as dsir_filtered; on-domain docs publish."""
    from datapoints_csv_extractor_spark.operators.curation import (
        build_dsir_store,
        dsir_score_from_store,
    )
    from datapoints_csv_extractor_spark.plans.corpus_ingest import (
        ingest_corpus_shard,
    )

    target = [
        "the scan reads the partition and prunes the columns",
        "the join broadcasts the dimension and keeps the keys",
        "the window orders the rows and ranks the values",
    ]
    raw = target + [
        "lorem ipsum dolor sit amet consectetur adipiscing elit sed",
        "quick brown foxes jump over lazy dogs near riverbanks daily",
    ]
    store = str(tmp_path / "dsir")
    build_dsir_store(
        spark.createDataFrame(
            [(i, t) for i, t in enumerate(raw)], "doc_id long, text string"
        ),
        spark.createDataFrame(
            [(i, t) for i, t in enumerate(target)], "doc_id long, text string"
        ),
        store,
    )

    on_domain = "the scan prunes the columns and the join keeps the keys"
    off_domain = "lorem ipsum dolor sit amet quick brown foxes jump daily"
    probes = spark.createDataFrame(
        [(1, on_domain), (2, off_domain)], "doc_id long, text string"
    )
    scored = {r.doc_id: r.log_weight
              for r in dsir_score_from_store(probes, store).collect()}
    assert scored[1] > 0 > scored[2]

    shard = tmp_path / "s.jsonl"
    shard.write_text(
        "\n".join(
            json.dumps({"doc_id": i, "text": t, "lang": "en", "source": "s"})
            for i, t in [(1, on_domain), (2, off_domain)]
        )
    )
    stats = ingest_corpus_shard(
        spark, read_documents_jsonl(spark, str(shard)),
        str(tmp_path / "corpus"), str(tmp_path / "band"),
        dsir_store_path=store, min_dsir_logweight=0.0,
    )
    assert stats["dsir_filtered"] == 1
    assert stats["published"] == 1
    out = spark.read.parquet(str(tmp_path / "corpus"))
    assert [r.doc_id for r in out.collect()] == [1]


def _warc_record(rtype, rid, uri, body: bytes, extra_http=False) -> bytes:
    if extra_http:
        body = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
        )
    hdr = (
        f"WARC/1.0\r\n"
        f"WARC-Type: {rtype}\r\n"
        f"WARC-Record-ID: <urn:uuid:{rid}>\r\n"
        f"WARC-Target-URI: {uri}\r\n"
        f"WARC-Date: 2024-01-01T00:00:00Z\r\n"
        f"Content-Type: application/http\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode()
    return hdr + body + b"\r\n\r\n"


def test_read_documents_warc_plain_and_gzip(spark, tmp_path):
    """WARC ingestion: response records get their HTTP headers
    stripped, conversion (WET-style) records pass through, warcinfo
    records are skipped, a corrupt archive poisons only itself, and
    record-level gzip members (.warc.gz) decode."""
    import gzip

    from datapoints_csv_extractor_spark.sources.documents import (
        read_documents_warc,
    )

    recs = (
        _warc_record("warcinfo", "w0", "-", b"software: test")
        + _warc_record(
            "response", "r1", "http://a.example/x",
            b"hello <b>world</b>", extra_http=True,
        )
        + _warc_record("conversion", "c1", "http://a.example/x", b"hello world")
    )
    (tmp_path / "a.warc").write_bytes(recs)
    # Record-level gzip members: each record its own gzip stream.
    gz = b"".join(
        gzip.compress(r)
        for r in (
            _warc_record("response", "r2", "http://b.example/y",
                         b"second doc", extra_http=True),
        )
    )
    (tmp_path / "b.warc.gz").write_bytes(gz)
    (tmp_path / "c.warc").write_bytes(b"NOT A WARC AT ALL")

    rows = read_documents_warc(spark, str(tmp_path)).collect()
    by_uri = {}
    for r in rows:
        by_uri.setdefault(r.url, []).append(r)
    assert set(by_uri) == {"http://a.example/x", "http://b.example/y"}
    a = sorted(by_uri["http://a.example/x"], key=lambda r: r.warc_record_id)
    texts = sorted(r.text for r in a)
    assert texts == ["hello <b>world</b>", "hello world"]  # headers stripped
    assert by_uri["http://b.example/y"][0].text == "second doc"
    assert all(r.doc_id is not None for r in rows)
    # Determinism of ids across re-ingest.
    again = {r.warc_record_id: r.doc_id
             for r in read_documents_warc(spark, str(tmp_path)).collect()}
    assert {r.warc_record_id: r.doc_id for r in rows} == again


def test_html_to_text_and_features(spark):
    """Closed-form HTML extraction: script/style/comment removal,
    tag-to-space (no word fusion), entity decode incl. the &amp;lt;
    double-decode trap, and the link-density signal."""
    from datapoints_csv_extractor_spark.operators.textops import (
        html_features,
        html_to_text,
    )

    html = (
        "<html><head><title>My &amp; Title</title>"
        "<style>p { x: 1; }</style>"
        "<script>if (1 < 2) alert('hi');</script></head>"
        "<body><!-- nope --><p>alpha</p><p>beta</p>"
        '<a href="/l">click here</a>'
        "<p>5 &lt; 7 &amp;lt;literal&amp;gt; &quot;q&quot;&nbsp;.</p>"
        "</body></html>"
    )
    df = spark.createDataFrame([(1, html)], "doc_id long, html string")
    txt = df.select(html_to_text(F.col("html")).alias("t")).collect()[0].t
    # Block closes become newlines (C4/dup-line filters judge lines);
    # inline tags become spaces; script/style/comment gone.
    assert txt == 'alpha\nbeta\nclick here 5 < 7 &lt;literal&gt; "q" .'
    feats = html_features(df, F.col("html")).collect()[0]
    assert feats.title == "My & Title"
    assert feats.n_links == 1
    assert feats.link_char_frac == round(len("click here") / len(txt), 4)


def test_warc_to_text_pipeline_hop(spark, tmp_path):
    """WARC response bodies flow through html_to_text into
    filter-ready prose — the crawl path end-to-end."""
    from datapoints_csv_extractor_spark.operators.textops import html_to_text
    from datapoints_csv_extractor_spark.sources.documents import (
        read_documents_warc,
    )

    body = b"<html><body><p>crawled prose</p><script>x()</script></body></html>"
    (tmp_path / "a.warc").write_bytes(
        _warc_record("response", "r1", "http://x.example/", body,
                     extra_http=True)
    )
    docs = read_documents_warc(spark, str(tmp_path))
    out = docs.select(html_to_text(F.col("text")).alias("t")).collect()
    assert [r.t for r in out] == ["crawled prose"]


def test_ingest_warc_crawl_end_to_end(spark, tmp_path):
    """The full crawl path: WARC archives -> robots gate -> HTML
    extraction -> C4 sentence floor -> corpus ingest. One page is
    robots-blocked before any text work, one fails the C4 lorem-ipsum
    cut, two good pages publish, and the ledger accounts for all."""
    from datapoints_csv_extractor_spark.plans.corpus_ingest import (
        ingest_warc_crawl,
    )

    def page(*paras):
        return (
            "<html><head><title>t</title></head><body>"
            + "".join(f"<p>{p}</p>" for p in paras)
            + "</body></html>"
        ).encode()

    good1 = page(
        "the quick brown fox jumps over the lazy dog today.",
        "seventeen green turtles watch from a mossy riverbank.",
        "pale skies stretch over the quiet northern valley.",
    )
    good2 = page(
        "distributed query engines shuffle partitions across executors.",
        "adaptive plans coalesce partitions at runtime for efficiency.",
        "broadcast joins keep dimension tables off the exchange path.",
    )
    lorem = page(
        "standard lorem ipsum filler text appears right here today.",
        "more filler prose follows the boilerplate opening line now.",
        "yet another sentence to clear every cheap length gate.",
    )
    blocked = page(
        "this page lives under a disallowed prefix and must not load.",
        "its text would pass every filter if it were ever extracted.",
        "the robots gate has to drop it before the text stage runs.",
    )
    recs = (
        _warc_record("response", "g1", "http://crawl.example/articles/1",
                     good1, extra_http=True)
        + _warc_record("response", "g2", "http://crawl.example/articles/2",
                       good2, extra_http=True)
        + _warc_record("response", "l1", "http://crawl.example/articles/3",
                       lorem, extra_http=True)
        + _warc_record("response", "b1", "http://crawl.example/private/1",
                       blocked, extra_http=True)
    )
    (tmp_path / "crawl.warc").write_bytes(recs)

    rules = spark.createDataFrame(
        [("crawl.example", "*", "/private", False)],
        "domain string, agent string, path_prefix string, allow boolean",
    )
    stats = ingest_warc_crawl(
        spark,
        str(tmp_path),
        str(tmp_path / "corpus"),
        str(tmp_path / "band"),
        robots_rules=rules,
        c4_min_sentences=3,
        ingest_id="crawl1",
    )
    assert stats["robots_blocked"] == 1
    assert stats["c4_filtered"] == 1
    assert stats["received"] == 2
    assert stats["published"] == 2

    out = spark.read.parquet(str(tmp_path / "corpus"))
    texts = [r.text for r in out.collect()]
    assert len(texts) == 2
    # Markup never reaches the corpus; line structure survives.
    assert all("<" not in t for t in texts)
    assert all(t.count("\n") == 2 for t in texts)


def test_ingest_warc_crawl_frontier_skips_seen_urls(spark, tmp_path):
    """A second crawl over an archive overlapping the first fetch
    drops the already-seen URL at the frontier, before text work."""
    from datapoints_csv_extractor_spark.plans.corpus_ingest import (
        ingest_warc_crawl,
    )

    def page(*paras):
        return (
            "<html><body>"
            + "".join(f"<p>{p}</p>" for p in paras)
            + "</body></html>"
        ).encode()

    a = page(
        "the quick brown fox jumps over the lazy dog today.",
        "seventeen green turtles watch from a mossy riverbank.",
        "pale skies stretch over the quiet northern valley.",
    )
    b = page(
        "distributed query engines shuffle partitions across executors.",
        "adaptive plans coalesce partitions at runtime for efficiency.",
        "broadcast joins keep dimension tables off the exchange path.",
    )
    d1 = tmp_path / "day1"; d1.mkdir()
    (d1 / "a.warc").write_bytes(
        _warc_record("response", "r1", "http://f.example/a", a,
                     extra_http=True)
    )
    d2 = tmp_path / "day2"; d2.mkdir()
    (d2 / "b.warc").write_bytes(
        _warc_record("response", "r2", "http://f.example/a", a,
                     extra_http=True)
        + _warc_record("response", "r3", "http://f.example/b", b,
                       extra_http=True)
    )
    frontier = str(tmp_path / "frontier")
    s1 = ingest_warc_crawl(
        spark, str(d1), str(tmp_path / "corpus"), str(tmp_path / "band"),
        frontier_path=frontier, c4_min_sentences=3, ingest_id="d1",
    )
    assert s1["already_seen"] == 0 and s1["published"] == 1
    s2 = ingest_warc_crawl(
        spark, str(d2), str(tmp_path / "corpus"), str(tmp_path / "band"),
        frontier_path=frontier, c4_min_sentences=3, ingest_id="d2",
    )
    assert s2["already_seen"] == 1
    assert s2["received"] == 1 and s2["published"] == 1


def test_html_main_content_drops_nav_keeps_prose(spark):
    """Block scoring: the link-dense nav and the short stub drop;
    both prose paragraphs survive in order; a prose block WITH a
    modest inline link stays (link density under the ceiling)."""
    from datapoints_csv_extractor_spark.operators.textops import (
        html_main_content,
    )

    html = (
        "<html><body>"
        '<div><a href="/1">home</a> <a href="/2">about</a> '
        '<a href="/3">contact us</a></div>'
        "<p>This is the first real paragraph of the article text.</p>"
        "<p>short.</p>"
        "<p>A second paragraph citing <a href=\"/r\">one source</a> "
        "inline but otherwise full of ordinary running prose.</p>"
        "</body></html>"
    )
    df = spark.createDataFrame([(1, html)], "doc_id long, html string")
    out = df.select(
        html_main_content(F.col("html")).alias("m")
    ).collect()[0].m
    lines = out.split("\n")
    assert len(lines) == 2
    assert lines[0] == "This is the first real paragraph of the article text."
    assert lines[1].startswith("A second paragraph citing one source")
    assert "home" not in out and "short." not in out


def test_stream_warc_ingest_two_drains(spark, tmp_path):
    """The streaming crawl drive: drain one archive, drop a new
    archive (containing one already-seen URL and one new page) and
    drain again — the checkpointed source never re-reads archive 1,
    the frontier drops the re-crawled URL, and both drains publish
    exactly their new pages."""
    from datapoints_csv_extractor_spark.plans.corpus_ingest import (
        stream_warc_ingest,
    )

    def page(*paras):
        return (
            "<html><body>"
            + "".join(f"<p>{p}</p>" for p in paras)
            + "</body></html>"
        ).encode()

    a = page(
        "the quick brown fox jumps over the lazy dog today.",
        "seventeen green turtles watch from a mossy riverbank.",
        "pale skies stretch over the quiet northern valley.",
    )
    b = page(
        "distributed query engines shuffle partitions across executors.",
        "adaptive plans coalesce partitions at runtime for efficiency.",
        "broadcast joins keep dimension tables off the exchange path.",
    )
    crawl = tmp_path / "crawl"; crawl.mkdir()
    (crawl / "a.warc").write_bytes(
        _warc_record("response", "s1", "http://st.example/a", a,
                     extra_http=True)
    )
    stats_log = []
    args = dict(
        warc_path=str(crawl),
        corpus_path=str(tmp_path / "corpus"),
        store_path=str(tmp_path / "band"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        frontier_path=str(tmp_path / "frontier"),
        c4_min_sentences=3,
        on_batch=lambda bid, st: stats_log.append((bid, st)),
    )
    stream_warc_ingest(spark, **args)
    total1 = sum(st["published"] for _, st in stats_log)
    assert total1 == 1

    (crawl / "b.warc").write_bytes(
        _warc_record("response", "s2", "http://st.example/a", a,
                     extra_http=True)  # re-crawl of the seen URL
        + _warc_record("response", "s3", "http://st.example/b", b,
                       extra_http=True)
    )
    stats_log.clear()
    stream_warc_ingest(spark, **args)
    assert sum(st["published"] for _, st in stats_log) == 1
    assert sum(st["already_seen"] for _, st in stats_log) == 1

    out = spark.read.parquet(str(tmp_path / "corpus"))
    assert out.count() == 2
