"""Daily corpus-shard ingestion: the production composition of the
LLM-pipeline pieces.

A pretraining corpus is not built in one batch — shards arrive
continuously (a crawl day, a dump, a partner drop) and each must be
quality-gated, deduped against EVERYTHING already accepted, split, and
published, without ever recomputing the existing corpus. This plan
wires the incremental pieces end to end:

    JSONL shard (sources/documents.py — skip-don't-fail parse)
      -> PII redaction (operators/curation.py — map-only regex scrub;
         runs FIRST so no un-redacted text flows anywhere downstream)
      -> cheap quality gate (textops.quality_passes, scan-side),
         optionally AND a shipped-weights classifier score
         (curation.quality_classifier_score)
      -> optional per-source mixture resampling (deterministic
         hash-mod; a re-ingested shard makes identical decisions)
      -> dedup_incremental (operators/dedup.py — asymmetric band join
         against the persisted MinHash store; O(|shard| + candidates))
      -> deterministic split assignment (textops.split_assignment)
      -> append to the split-partitioned corpus (sinks/corpus.py)

Per-shard cost is linear in the shard; the corpus-sized state lives in
two append-only parquet stores (the curated corpus + the band store).
This is the reference's fetch-known/create-missing batch loop
(csv_extractor.py:151-154) raised to corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from datapoints_csv_extractor_spark.operators.curation import (
    pii_counts,
    pii_redact,
    quality_classifier_score,
)
from datapoints_csv_extractor_spark.operators.dedup import dedup_incremental
from datapoints_csv_extractor_spark.operators.textops import (
    md5_prefix_bucket,
    quality_passes,
    split_assignment,
    tokens,
)
from datapoints_csv_extractor_spark.sinks.corpus import write_corpus


def _checkpoint_counted(df: DataFrame) -> tuple[DataFrame, int]:
    """Materialise ``df`` and read its row count off that same job."""
    obs = Observation()
    out = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint()
    return out, obs.get["n"]


def ingest_corpus_shard(
    spark: SparkSession,
    shard: DataFrame,
    corpus_path: str,
    store_path: str,
    est_threshold: float = 0.5,
    redact_pii: bool = True,
    classifier_threshold: float | None = None,
    resample_thresholds: dict[str, str] | None = None,
    line_dedup_tokens: int | None = None,
    max_repeated_fraction: float | None = None,
    ingest_id: str | None = None,
    corpus_mode: str = "append",
    bm25_index_path: str | None = None,
    lm_store_path: str | None = None,
    max_ppl: float = 1000.0,
    dsir_store_path: str | None = None,
    min_dsir_logweight: float = 0.0,
) -> dict[str, int]:
    """Ingest one (doc_id, text, ...) shard into the curated corpus.

    PII is scrubbed before anything else touches the text (signatures,
    the band store, and the published corpus only ever see redacted
    text). Quality-rejected and resampled-out docs never reach the
    dedup stage (no signatures are wasted on them — and a dropped doc
    must not block a later clean near-copy). Docs flagged by the
    incremental dedup (against the stored corpus OR an earlier doc in
    the same shard) are dropped; survivors get their split and append
    to the corpus.

    ``classifier_threshold`` additionally gates on the shipped-weights
    hashed linear classifier score; ``resample_thresholds`` maps a
    source name to an md5-prefix hex bound (e.g. ``{"crawl": "40"}``
    keeps ~25% of that source; unlisted sources keep everything) —
    both stages are pure projections, so the whole pre-dedup pipeline
    stays one map-only pass over the shard.

    Two optional repetition stages run between the gates and the
    MinHash dedup (boilerplate must be gone BEFORE signatures are
    computed, or shared navigation text manufactures false near-dup
    verdicts):

    - ``line_dedup_tokens``: C4-style within-shard line dedup
      (``curation.line_dedup_reassemble``) — each repeated
      N-token line survives only at its first occurrence and documents
      are reassembled from their kept lines (docs are rewritten, not
      dropped).
    - ``max_repeated_fraction``: drops documents whose
      ``curation.repeated_spans`` repeated-gram fraction exceeds the
      bound (the suffix-array-style self/cross-repetition filter).

    ``lm_store_path`` adds the CCNet-style perplexity gate: documents
    scoring above ``max_ppl`` against the persisted reference bigram
    LM (``textops.build_lm_store``) are dropped between the cheap
    gates and the dedup stage. ``dsir_store_path`` adds the DSIR
    domain-relevance gate next to it: documents whose hashed-bigram
    importance log-weight against the persisted target/raw model
    (``curation.build_dsir_store``) falls below
    ``min_dsir_logweight`` are dropped the same way.

    Returns the shard's bookkeeping counts (the numbers an ingest
    pipeline alarms on): ``received``, ``pii_redacted``,
    ``low_quality``, ``resampled_out``, ``perplexity_filtered``,
    ``dsir_filtered``, ``line_deduped``,
    ``repetition_filtered``, ``duplicate``, ``published``,
    ``indexed`` (docs folded into the optional standing BM25 store at
    ``bm25_index_path`` — published text becomes immediately
    searchable, same per-shard idempotence as the band-store fold).
    Every count is an ``Observation`` read off the checkpoint job that
    already materialises the rows it counts; no stage runs a
    ``count()`` of its own.
    """
    # One id drives BOTH persisted folds (band store + BM25 store).
    # When the caller didn't supply one, mint a fresh uuid — the
    # at-most-once contract dedup_incremental documents. The BM25 fold
    # previously defaulted a None id to the constant 'base', so every
    # un-id'd CLI run after the first silently skipped indexing (the
    # same-shard-id replay guard rejected it).
    if ingest_id is None:
        import uuid

        ingest_id = uuid.uuid4().hex[:12]

    # The raw count, the PII count, the quality gate and the resample
    # ride one checkpoint job; each later gate's "before" is the
    # previous gate's observed "after".
    raw = Observation()
    raw_aggs = [F.count(F.lit(1)).alias("n")]
    if redact_pii:
        c = pii_counts(F.col("text"))
        flagged = (c["n_emails"] + c["n_phones"] + c["n_ips"]) > 0
        raw_aggs.append(F.count(F.when(flagged, 1)).alias("n_pii"))
    shard = shard.observe(raw, *raw_aggs)
    if redact_pii:
        shard = (
            pii_redact(shard).drop("text").withColumnRenamed("text_redacted", "text")
        )

    quality_ok = quality_passes(F.col("text"))
    if classifier_threshold is not None:
        quality_ok = quality_ok & (
            quality_classifier_score(tokens(F.col("text"))) >= classifier_threshold
        )
    passed = shard.where(quality_ok)
    if resample_thresholds:
        bound = F.coalesce(
            *(
                [
                    F.when(F.col("source") == src, F.lit(thr))
                    for src, thr in sorted(resample_thresholds.items())
                ]
                + [F.lit("zz")]
            )
        )
        quality = Observation()
        passed = passed.observe(quality, F.count(F.lit(1)).alias("n")).where(
            md5_prefix_bucket(F.col("doc_id")) < bound
        )
    passed, n_current = _checkpoint_counted(passed)
    got = raw.get
    n_received, n_pii = got["n"], got.get("n_pii", 0)
    n_passed = quality.get["n"] if resample_thresholds else n_current
    n_resampled_out = n_passed - n_current

    n_line_deduped = 0
    if line_dedup_tokens is not None:
        from datapoints_csv_extractor_spark.operators.curation import (
            line_dedup_reassemble,
        )

        reassembled = line_dedup_reassemble(
            passed.select("doc_id", "text"), tokens_per_line=line_dedup_tokens
        ).select(
            "doc_id",
            F.col("retained_text").alias("__retained"),
            (F.col("n_kept_lines") < F.col("n_lines")).alias("__rewritten"),
        )
        # Left join + coalesce: zero-line docs (empty text) produce no
        # reassembly row but must not vanish from the shard here —
        # the quality gate owns that decision.
        rewritten = Observation()
        passed = (
            passed.join(reassembled, "doc_id", "left")
            .observe(rewritten, F.count(F.when(F.col("__rewritten"), 1)).alias("n"))
            .withColumn("text", F.coalesce(F.col("__retained"), F.col("text")))
            .drop("__retained", "__rewritten")
            .localCheckpoint()
        )
        n_line_deduped = rewritten.get["n"]

    n_perplexity = 0
    if lm_store_path is not None:
        # CCNet-style LM gate against the STANDING reference model
        # (textops.build_lm_store): documents whose bigram perplexity
        # exceeds the bound read nothing like the trusted corpus and
        # drop BEFORE dedup spends signatures on them. Docs too short
        # for any bigram produce no score row and pass (the length
        # gate owns that decision).
        from datapoints_csv_extractor_spark.operators.textops import (
            perplexity_score_from_store,
        )

        too_weird = (
            perplexity_score_from_store(
                passed.select("doc_id", "text"), lm_store_path,
                keep_below_ppl=max_ppl,
            )
            .where(~F.col("keep"))
            .select("doc_id")
        )
        passed, n_after = _checkpoint_counted(
            passed.join(too_weird, "doc_id", "left_anti")
        )
        n_perplexity, n_current = n_current - n_after, n_after

    n_dsir = 0
    if dsir_store_path is not None:
        # DSIR gate against the standing importance model
        # (curation.build_dsir_store): documents that read less like
        # the target domain than ``min_dsir_logweight`` drop before
        # dedup. Too-short docs (no bigram) score log-weight 0 and the
        # threshold decides them like everyone else.
        from datapoints_csv_extractor_spark.operators.curation import (
            dsir_score_from_store,
        )

        off_domain = (
            dsir_score_from_store(
                passed.select("doc_id", "text"), dsir_store_path,
                min_log_weight=min_dsir_logweight,
            )
            .where(~F.col("keep"))
            .select("doc_id")
        )
        passed, n_after = _checkpoint_counted(
            passed.join(off_domain, "doc_id", "left_anti")
        )
        n_dsir, n_current = n_current - n_after, n_after

    n_repetition = 0
    if max_repeated_fraction is not None:
        from datapoints_csv_extractor_spark.operators.curation import (
            repeated_spans,
        )

        repetitive = (
            repeated_spans(passed.withColumn("toks", tokens(F.col("text"))))
            .where(F.col("repeated_fraction") > max_repeated_fraction)
            .select("doc_id")
        )
        passed, n_after = _checkpoint_counted(
            passed.join(repetitive, "doc_id", "left_anti")
        )
        n_repetition, n_current = n_current - n_after, n_after

    verdicts = dedup_incremental(
        passed.select("doc_id", "text"), store_path, est_threshold,
        ingest_id=ingest_id,
    )
    # Counted from the shard-sized lineage (checkpointed shard +
    # verdicts), NOT by re-reading the corpus: per-shard cost must stay
    # O(|shard|), independent of how big the corpus has grown. The one
    # checkpoint feeds the corpus write and the BM25 fold. The dup ids
    # are at most one long per shard doc, so they broadcast: no shuffle
    # of the shard for the anti-join.
    survivors, n_published = _checkpoint_counted(
        passed.join(
            F.broadcast(verdicts.select("doc_id")), "doc_id", "left_anti"
        ).withColumn("split", split_assignment(F.col("doc_id")))
    )
    write_corpus(survivors, corpus_path, mode=corpus_mode)
    n_indexed = 0
    if bm25_index_path is not None and n_published:
        # Published docs also become searchable: fold them into the
        # standing BM25 store. Same shard id as the band-store fold,
        # so a replayed batch is a no-op here too; a brand-new store
        # is seeded on first use.
        import os

        from datapoints_csv_extractor_spark.operators.textops import (
            append_bm25_shard,
            build_bm25_index,
        )

        pub = survivors.select("doc_id", "text")
        sid = ingest_id
        if os.path.exists(os.path.join(bm25_index_path, "meta.json")):
            if append_bm25_shard(pub, bm25_index_path, sid):
                n_indexed = n_published
        else:
            # Seed under THIS ingest's shard id: a replayed seeding
            # batch re-seeds (overwrite + same-id commit), never
            # double-appends.
            build_bm25_index(pub, bm25_index_path, shard_id=sid)
            n_indexed = n_published
    return {
        "received": n_received,
        "pii_redacted": n_pii,
        "low_quality": n_received - n_passed,
        "resampled_out": n_resampled_out,
        "perplexity_filtered": n_perplexity,
        "dsir_filtered": n_dsir,
        "line_deduped": n_line_deduped,
        "repetition_filtered": n_repetition,
        "duplicate": n_current - n_published,
        "published": n_published,
        "indexed": n_indexed,
    }


def stream_ingest_corpus(
    spark: SparkSession,
    docs_stream: DataFrame,
    corpus_path: str,
    store_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
    on_batch=None,
    **stage_kwargs,
):
    """Continuous corpus ingestion: the full curation plan
    (``ingest_corpus_shard`` — PII scrub, quality gate, resample,
    incremental dedup, split) applied to every micro-batch of a
    document stream.

    Replay safety (foreachBatch is at-least-once): each batch
    publishes into ``corpus_path/batch=<id>/`` with OVERWRITE mode, so
    a crash-replayed batch rewrites its own directory instead of
    double-appending, and the band-store fold is keyed by the same
    batch id (manifest-committed, idempotent — operators/dedup.py).
    Readers see one corpus: partition discovery turns ``batch=`` into
    a column, and the ``split=`` layout nests beneath it unchanged.

    ``on_batch(batch_id, stats)`` receives each batch's count ledger.
    Extra keyword args flow to ``ingest_corpus_shard`` (e.g.
    ``classifier_threshold``, ``resample_thresholds``).
    """

    def _handle(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        stats = ingest_corpus_shard(
            spark,
            batch_df,
            f"{corpus_path}/batch={batch_id}",
            store_path,
            ingest_id=f"batch_{batch_id}",
            corpus_mode="overwrite",
            **stage_kwargs,
        )
        if on_batch is not None:
            on_batch(batch_id, stats)

    writer = docs_stream.writeStream.foreachBatch(_handle).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def ingest_warc_crawl(
    spark: SparkSession,
    warc_path: str,
    corpus_path: str,
    store_path: str,
    robots_rules: DataFrame | None = None,
    c4_min_sentences: int | None = None,
    frontier_path: str | None = None,
    ingest_id: str | None = None,
    **ingest_kwargs,
):
    """End-to-end crawl ingestion: WARC archives -> the curated
    corpus, composing the crawl-hygiene operators in the order a
    production pipeline runs them:

    1. ``read_documents_warc`` — archive scan (file-level
       parallelism, corrupt archives contained);
    2. URL normalization (``url_normalize``) and, when
       ``robots_rules`` is given, the robots.txt longest-prefix gate
       (disallowed URLs are dropped BEFORE any text work — at crawl
       scale this is the cheapest place to cut);
    3. ``html_to_text`` — markup-stripped visible text;
    4. optionally the C4 sentence-floor page gate (the
       lorem-ipsum/brace/badword page cuts plus >= n kept
       sentences), as a pre-filter in front of the ingest plan's own
       quality gates;
    5. ``ingest_corpus_shard`` — PII scrub, quality/perplexity/DSIR
       gates, incremental near-dup against the persisted band store,
       split assignment, partitioned publish. All its knobs pass
       through via ``ingest_kwargs``.

    Returns the ingest plan's count ledger extended with the
    crawl-stage drops (``already_seen``, ``robots_blocked``,
    ``c4_filtered``). With ``frontier_path`` set, URLs already in
    the persisted seen-store (plans/frontier.py) are dropped before
    robots/text work, and this batch's surviving URLs are committed
    back — repeated crawls of overlapping archives skip refetched
    pages at O(batch) store cost. Every
    stage before the band store is map-only or broadcast-joined, so
    the crawl prefix adds no shuffle beyond the robots longest-match
    window."""
    from datapoints_csv_extractor_spark.sources.documents import (
        read_documents_warc,
    )

    raw = read_documents_warc(spark, warc_path)
    return ingest_crawl_docs(
        spark, raw, corpus_path, store_path,
        robots_rules=robots_rules, c4_min_sentences=c4_min_sentences,
        frontier_path=frontier_path, ingest_id=ingest_id,
        **ingest_kwargs,
    )


def ingest_crawl_docs(
    spark: SparkSession,
    raw: DataFrame,
    corpus_path: str,
    store_path: str,
    robots_rules: DataFrame | None = None,
    c4_min_sentences: int | None = None,
    frontier_path: str | None = None,
    ingest_id: str | None = None,
    **ingest_kwargs,
):
    """The crawl-hygiene stages of ``ingest_warc_crawl`` over an
    already-parsed raw documents frame (doc_id, text=HTML, url ...)
    — shared by the batch reader path and the streaming drive
    (``stream_warc_ingest``), so both run the identical frontier ->
    robots -> extract -> C4 -> publish plan."""
    from datapoints_csv_extractor_spark.operators.curation import (
        c4_rules,
        robots_filter,
        url_normalize,
    )
    from datapoints_csv_extractor_spark.operators.textops import html_to_text

    raw = raw.withColumn("url", url_normalize(F.col("url")))
    ledger_extra = {"already_seen": 0, "robots_blocked": 0, "c4_filtered": 0}
    if frontier_path is not None:
        from datapoints_csv_extractor_spark.plans.frontier import (
            frontier_filter,
        )

        before = raw.count()
        raw = frontier_filter(spark, raw, frontier_path)
        ledger_extra["already_seen"] = before - raw.count()
    if robots_rules is not None:
        verdicts = robots_filter(
            raw.select("doc_id", "url"), robots_rules
        ).select("doc_id", "allowed")
        raw = raw.join(verdicts, "doc_id")
        ledger_extra["robots_blocked"] = raw.where(~F.col("allowed")).count()
        raw = raw.where(F.col("allowed")).drop("allowed")

    docs = raw.withColumn("text", html_to_text(F.col("text")))

    if c4_min_sentences is not None:
        verdict = c4_rules(
            docs, min_sentences=c4_min_sentences
        ).select("doc_id", "passes_c4")
        docs = docs.join(verdict, "doc_id")
        ledger_extra["c4_filtered"] = docs.where(~F.col("passes_c4")).count()
        docs = docs.where(F.col("passes_c4")).drop("passes_c4")

    shard = docs.select(
        "doc_id", "text",
        F.lit("und").alias("lang"),
        F.coalesce(F.col("url"), F.lit("warc")).alias("source"),
    )
    stats = ingest_corpus_shard(
        spark, shard, corpus_path, store_path,
        ingest_id=ingest_id, **ingest_kwargs,
    )
    if frontier_path is not None:
        from datapoints_csv_extractor_spark.plans.frontier import (
            frontier_commit,
        )

        # Every URL that REACHED the text stage is recorded as seen —
        # including docs later dropped by quality/dedup (a recrawl
        # would re-drop them; refetching is the waste to prevent).
        # Robots-blocked URLs are NOT recorded: a rule change should
        # make them fetchable.
        frontier_commit(
            spark, docs.select("url"), frontier_path,
            ingest_id=ingest_id or "crawl",
        )
    stats.update(ledger_extra)
    return stats


def stream_warc_ingest(
    spark: SparkSession,
    warc_path: str,
    corpus_path: str,
    store_path: str,
    checkpoint_dir: str,
    robots_rules: DataFrame | None = None,
    c4_min_sentences: int | None = None,
    frontier_path: str | None = None,
    on_batch=None,
    available_now: bool = True,
    max_files_per_trigger: int | None = 20,
    **ingest_kwargs,
):
    """Streaming crawl ingestion: a binaryFile file stream over the
    archive directory drives the SAME frontier -> robots -> extract
    -> C4 -> publish plan as ``ingest_warc_crawl``, one micro-batch
    of newly-arrived archives at a time (``foreachBatch`` — stores
    are batch sinks). The checkpointed file-source log guarantees
    each archive is processed once across restarts, and within a
    replayed batch every stage converges: the frontier commit and
    corpus ingest are keyed by a deterministic per-batch ingest id,
    the same effectively-once discipline as the live TEBIS path
    (streaming/live.py) and stream_scd2_fold.

    ``max_files_per_trigger`` bounds a micro-batch the way the
    reference's live loop caps files per cycle; ``on_batch`` (if
    given) receives (batch_id, stats) per micro-batch. With
    ``available_now`` the query drains everything present and stops
    — the backfill mode; pass False for a continuous tail."""
    from datapoints_csv_extractor_spark.sources.documents import (
        parse_warc_binary,
    )

    # Streaming file sources require an explicit schema; binaryFile's
    # is fixed by the format.
    binary_schema = (
        "path string, modificationTime timestamp, "
        "length long, content binary"
    )
    reader = (
        spark.readStream.format("binaryFile")
        .schema(binary_schema)
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.warc*")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.load(warc_path)

    def _handle(batch_df: DataFrame, batch_id: int) -> None:
        raw = parse_warc_binary(batch_df)
        stats = ingest_crawl_docs(
            spark, raw, corpus_path, store_path,
            robots_rules=robots_rules,
            c4_min_sentences=c4_min_sentences,
            frontier_path=frontier_path,
            ingest_id=f"warc-stream-{batch_id}",
            **ingest_kwargs,
        )
        if on_batch is not None:
            on_batch(batch_id, stats)

    writer = (
        stream.writeStream.foreachBatch(_handle)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
