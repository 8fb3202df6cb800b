"""Text-analysis operators over the documents table (SURVEY.md §7
Phase 4 / BASELINE.json north-star: the text half of an LLM
training-data pipeline).

All hot-path expressions are built-in JVM functions (split/regexp/
higher-order array ops) — no Python in the token loop. Tokenization is
pinned to ``split(trim(text), '\\s+')`` minus empty strings so the
DuckDB oracle (string_split_regex) produces the identical token
stream.

Scale: every operator here is embarrassingly parallel per document
(scan -> project, no shuffle except the final aggregate when one is
asked for), so it runs at 100 TB as a single map stage fused by
whole-stage codegen.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from datapoints_csv_extractor_spark.operators.relational import load
from datapoints_csv_extractor_spark.sinks import store_commit

# Deterministic stopword lists shared verbatim with the SQL oracle.
STOPWORDS_EN = ["the", "a", "and", "of", "to", "is", "in", "that", "it", "for"]
STOPWORDS_DE = ["der", "die", "das", "und", "ist", "nicht", "mit", "ein"]
STOPWORDS_ES = ["el", "la", "de", "que", "y", "en", "un"]
STOPWORDS_FR = ["le", "les", "des", "et", "une", "dans", "pour"]


def tokens(text: Column) -> Column:
    """Whitespace tokens, empty strings removed (matches
    ``list_filter(string_split_regex(trim(x), '\\s+'), t -> t <> '')``)."""
    return F.array_remove(F.split(F.trim(text), r"\s+"), "")


def _hits(toks: Column, words: list[str]) -> Column:
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.array_intersect(toks, arr))


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting per document: total, distinct, avg token length.

    Tokens are materialized once per row (withColumn) — referencing
    the tokenizer expression from several output columns would
    re-evaluate it per column (HOFs skip codegen/CSE).
    """
    d = load(spark, sf_dir, "documents").withColumn("toks", tokens(F.col("text")))
    toks = F.col("toks")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.round(
            F.aggregate(toks, F.lit(0).cast("double"), lambda acc, t: acc + F.length(t))
            / F.greatest(F.size(toks), F.lit(1)),
            4,
        ).alias("avg_token_len"),
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fixed-size overlapping token-window chunking — the
    context-window splitter every training/RAG pipeline runs between
    curation and tokenization: chunk ``i`` covers tokens
    ``[i*stride, i*stride + chunk_tokens)`` with
    ``stride = chunk_tokens - overlap``, so consecutive chunks share
    ``overlap`` tokens and no token is dropped. A document shorter
    than one window still emits exactly one (possibly short) chunk,
    and an empty document emits one empty chunk — downstream joins
    never lose doc_ids.

    Pure JVM projection: one tokenize, one integer chunk-count
    (integer-until-the-end arithmetic — no float ceil, so both
    engines compute the identical count), one
    ``explode(sequence(...))``, one ``slice`` + ``array_join`` per
    chunk. Map-only at any scale; output rows ~= corpus tokens /
    stride. Emits (id, chunk_id, n_tokens, chunk_text)."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    d = docs.withColumn("__toks", tokens(F.col(text_col)))
    n = F.size(F.col("__toks"))
    # ceil((n - overlap) / stride) in exact integer math, floored at
    # 1; floor-then-cast keeps both engines identical.
    n_chunks = F.greatest(
        F.floor(
            (n - F.lit(overlap) + F.lit(stride - 1)) / F.lit(stride)
        ).cast("long"),
        F.lit(1).cast("long"),
    )
    piece = F.slice(
        F.col("__toks"), F.col("chunk_id").cast("int") * stride + 1,
        chunk_tokens,
    )
    return (
        d.withColumn(
            "chunk_id",
            F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)),
        )
        .select(
            F.col(id_col),
            "chunk_id",
            F.size(piece).alias("n_tokens"),
            F.array_join(piece, " ").alias("chunk_text"),
        )
    )


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing chunking demo: 64-token windows with 8-token
    overlap over the corpus; emits the chunk's md5 instead of its
    text to keep the compared frame narrow (the hash pins every byte
    of the chunk content anyway)."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    c = chunk_documents(d, chunk_tokens=64, overlap=8)
    return c.select(
        "doc_id",
        "chunk_id",
        "n_tokens",
        F.md5(F.col("chunk_text")).alias("chunk_hash"),
    ).orderBy("doc_id", "chunk_id")


def chunk_documents_oracle_sql(chunk_tokens: int = 64, overlap: int = 8) -> str:
    """DuckDB twin of q_chunk_documents: identical integer chunk
    count, 1-based inclusive list slice == Spark's (start, length)
    slice, same separator join."""
    stride = chunk_tokens - overlap
    return f"""
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split_regex(trim(text), '\\s+'),
                               x -> x <> '') AS toks
            FROM documents
        ), p AS (
            SELECT doc_id, toks,
                   greatest((len(toks) - {overlap} + {stride - 1})
                            // {stride}, 1) AS n_chunks
            FROM t
        )
        SELECT doc_id,
               i AS chunk_id,
               len(toks[i * {stride} + 1 : i * {stride} + {chunk_tokens}])
                   AS n_tokens,
               md5(array_to_string(
                   toks[i * {stride} + 1 : i * {stride} + {chunk_tokens}],
                   ' ')) AS chunk_hash
        FROM p, unnest(generate_series(0, n_chunks - 1)) AS g(i)
        ORDER BY doc_id, chunk_id
    """


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length, word count, punctuation ratio,
    stopword ratio, type-token ratio — the standard cheap filters a
    pretraining pipeline applies before expensive dedup."""
    d = load(spark, sf_dir, "documents").withColumn("toks", tokens(F.col("text")))
    toks = F.col("toks")
    n_tok = F.size(toks)
    text_len = F.length(F.col("text"))
    n_punct = text_len - F.length(F.regexp_replace(F.col("text"), r"[^0-9A-Za-z\s]", ""))
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin(*STOPWORDS_EN))
    )
    return d.select(
        "doc_id",
        text_len.alias("text_len"),
        n_tok.alias("n_words"),
        F.round(n_punct / F.greatest(text_len, F.lit(1)), 4).alias("punct_ratio"),
        F.round(stop_hits / F.greatest(n_tok, F.lit(1)), 4).alias("stopword_ratio"),
        F.round(F.size(F.array_distinct(toks)) / F.greatest(n_tok, F.lit(1)), 4).alias(
            "type_token_ratio"
        ),
        (
            (text_len >= 20)
            & (F.round(n_punct / F.greatest(text_len, F.lit(1)), 4) < 0.3)
        ).alias("passes_quality"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID heuristic + agreement with the
    labeled lang column. (A production system would use char n-gram
    profiles; the mechanism — per-doc token-set scoring, argmax over
    langs — is identical and equally shuffle-free.)"""
    d = load(spark, sf_dir, "documents").withColumn("toks", tokens(F.col("text")))
    toks = F.col("toks")
    en, de = _hits(toks, STOPWORDS_EN), _hits(toks, STOPWORDS_DE)
    es, fr = _hits(toks, STOPWORDS_ES), _hits(toks, STOPWORDS_FR)
    guess = (
        F.when((en >= de) & (en >= es) & (en >= fr), "en")
        .when((de >= es) & (de >= fr), "de")
        .when(es >= fr, "es")
        .otherwise("fr")
    )
    return d.select(
        "doc_id",
        "lang",
        en.alias("en_hits"),
        de.alias("de_hits"),
        es.alias("es_hits"),
        fr.alias("fr_hits"),
        guess.alias("guessed_lang"),
        (guess == F.col("lang")).alias("agrees"),
    )


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of the case/space-normalized text
    (exact-dup key) + a coarse length bucket (cheap blocking key)."""
    d = load(spark, sf_dir, "documents")
    normalized = F.lower(F.trim(F.col("text")))
    return d.select(
        "doc_id",
        F.md5(normalized).alias("fingerprint"),
        (F.floor(F.length(F.col("text")) / 100) * 100).cast("long").alias("len_bucket"),
    )


def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: split into letter runs / digit runs /
    punctuation runs (the pre-tokenization pass every BPE tokenizer
    applies before merges), via one vectorized regexp_extract_all —
    the cheap token-budget estimator a training pipeline runs over
    every document. Pattern is RE2-safe (no lookahead) so the DuckDB
    oracle evaluates the identical automaton."""
    d = load(spark, sf_dir, "documents")
    pieces = F.regexp_extract_all(
        F.col("text"), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"), 0
    )
    n = F.size(pieces)
    return d.select(
        "doc_id",
        n.alias("n_bpe_tokens"),
        F.size(F.filter(pieces, lambda p: p.rlike("^[A-Za-z]+$"))).alias("n_word_tokens"),
        F.size(F.filter(pieces, lambda p: p.rlike("^[0-9]+$"))).alias("n_digit_tokens"),
        F.round(
            F.aggregate(pieces, F.lit(0.0), lambda acc, p: acc + F.length(p))
            / F.greatest(n, F.lit(1)),
            4,
        ).alias("avg_piece_len"),
    )


def winnowing_fingerprints(
    d: DataFrame, k: int = 5, window: int = 4
) -> DataFrame:
    """Winnowing fingerprints (the rolling-hash document signature):
    hash every k-gram of tokens, slide a window of ``window``
    consecutive hashes, keep each window's minimum — the classic
    plagiarism/near-dup signature whose guarantee is that any match
    of length >= window+k-1 tokens is always detected.

    Input needs (doc_id, text). All array ops are JVM HOFs over a
    token array materialized ONCE (the HOF-CSE rule); one explode at
    the end produces the long (doc_id, fingerprint) table that joins
    against itself for match detection — same blocked-equijoin shape
    as the shingle dedup. Selection density is ~2/(window+1) of all
    k-grams, so the fingerprint table is a fraction of the full
    shingle table at 100 TB.
    """
    toks = tokens(F.col("text"))
    d2 = d.withColumn("toks", toks).where(F.size("toks") >= k + window - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(F.col("toks")) - (k - 1)),
        lambda i: F.xxhash64(
            F.concat_ws(" ", *[F.element_at(F.col("toks"), i + j) for j in range(k)])
        ),
    )
    d3 = d2.withColumn("ghash", grams)
    mins = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("ghash")) - (window - 1)),
            lambda i: F.array_min(F.slice(F.col("ghash"), i, window)),
        )
    )
    return d3.select("doc_id", F.explode(mins).alias("fingerprint"))


def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing (rows-only: xxhash64 has no DuckDB twin):
    per-doc winnowing fingerprint count + xor-fold summary."""
    fp = winnowing_fingerprints(load(spark, sf_dir, "documents"))
    # bit_xor, not sum: summing raw xxhash64 longs overflows int64 and
    # hard-errors under ANSI mode (the driver's Spark 4 session default;
    # this engine must be correct under the caller's session, not just
    # its own ansi=false default). XOR folds are overflow-free and just
    # as stable a per-doc summary.
    return fp.groupBy("doc_id").agg(
        F.count("*").alias("n_fingerprints"),
        F.bit_xor("fingerprint").alias("fingerprint_xor"),
    )


def winnowing_near_dup(
    fp: DataFrame, min_shared: int = 2, max_fingerprint_df: int = 128
) -> DataFrame:
    """Match detection over winnowing fingerprints: document pairs
    sharing >= ``min_shared`` selected fingerprints — the guarantee is
    that any common run of >= window+k-1 tokens shares at least one
    fingerprint, so plagiarized/near-dup spans always collide.

    Same blocked-equijoin shape (and hot-key df cap) as the shingle
    join, but over the winnowed signature (~2/(window+1) density), so
    the join input is a fraction of the full shingle table. Input:
    (doc_id, fingerprint) from winnowing_fingerprints.
    """
    fp = fp.distinct()
    hot = (
        fp.groupBy("fingerprint")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > max_fingerprint_df)
        .select("fingerprint")
    )
    fp = fp.join(F.broadcast(hot), "fingerprint", "left_anti")
    a = fp.select(F.col("doc_id").alias("doc_id_1"), "fingerprint")
    b = fp.select(F.col("doc_id").alias("doc_id_2"), "fingerprint")
    return (
        a.join(b, "fingerprint")
        .where(F.col("doc_id_1") < F.col("doc_id_2"))
        .groupBy("doc_id_1", "doc_id_2")
        .agg(F.count("*").alias("shared_fingerprints"))
        .where(F.col("shared_fingerprints") >= min_shared)
    )


def q_winnowing_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing (rows-only: xxhash64-based): winnowing match pairs."""
    return winnowing_near_dup(
        winnowing_fingerprints(load(spark, sf_dir, "documents"))
    )


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization: lowercase, strip non-alphanumeric
    punctuation, squeeze whitespace — the pass that runs before every
    fingerprint/dedup so near-identical texts collapse. Pure codegen
    expressions; the md5 over the normalized form is the dedup key
    q_fingerprint uses on raw text."""
    d = load(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^0-9a-z\s]", " "),
            r"\s+",
            " ",
        )
    )
    return d.select(
        "doc_id",
        F.length(norm).alias("norm_len"),
        F.md5(norm).alias("norm_hash"),
        F.substring(norm, 1, 40).alias("norm_prefix"),
    )


def q_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-20 word bigrams: explode per-doc bigram arrays,
    count, TakeOrdered. The n-gram frequency profile a data pipeline
    uses for boilerplate detection (over-represented bigrams = repeated
    template text). Shuffle only carries (bigram, partial count) after
    map-side combine; top-k avoids a global sort."""
    d = load(spark, sf_dir, "documents").withColumn("toks", tokens(F.col("text")))
    toks = F.col("toks")
    n = F.size(toks)
    bigrams = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
    )
    return (
        d.where(n >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("bigram"))
        .limit(20)
    )


def q_bigram_lift(
    spark: SparkSession, sf_dir: str, min_count: int = 5, k: int = 20
) -> DataFrame:
    """Top-``k`` collocations by pointwise lift: p(xy)/(p(x)p(y)) =
    c(xy)*N^2 / (M*c(x)*c(y)) for adjacent word pairs — the
    association complement of q_top_bigrams (raw frequency surfaces
    boilerplate; lift surfaces pairs that co-occur far beyond chance,
    i.e. genuine collocations, even when rare). PMI is ln(lift); the
    log is left to the reader because engine ln differs in the last
    ulp (the q_retrieval_metrics lesson) and the RANKING under a
    monotone transform is identical anyway.

    All counts are exact integers off two aggregates of one tokenized
    scan; the statistic is one integer product ratio divided once
    (c(xy)*N*N stays in long up to ~10^5-doc corpora per the factors'
    magnitudes — at 100 TB the same formula runs in double with a
    stated tolerance). min_count floors the variance of rare-pair
    estimates, standard collocation practice."""
    d = load(spark, sf_dir, "documents").withColumn(
        "toks", tokens(F.col("text"))
    )
    toks = F.col("toks")
    n = F.size(toks)
    uni = d.select(F.explode(toks).alias("w"))
    wc = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c_w"))
    pairs = (
        d.where(n >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), n - 1),
                    lambda i: F.struct(
                        F.element_at(toks, i).alias("w1"),
                        F.element_at(toks, i + 1).alias("w2"),
                    ),
                )
            ).alias("p")
        )
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    bc = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .where(F.col("c_xy") >= min_count)
    )
    totals = uni.agg(F.count(F.lit(1)).alias("n_uni")).crossJoin(
        pairs.agg(F.count(F.lit(1)).alias("n_bi"))
    )
    c1 = wc.select(F.col("w").alias("w1"), F.col("c_w").alias("c1"))
    c2 = wc.select(F.col("w").alias("w2"), F.col("c_w").alias("c2"))
    lift = (
        F.col("c_xy") * F.col("n_uni") * F.col("n_uni")
    ) / (F.col("n_bi") * F.col("c1") * F.col("c2"))
    return (
        bc.join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            F.col("c_xy").alias("n_occurrences"),
            F.round(lift, 4).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("bigram"))
        .limit(k)
    )


def quality_passes(text: Column) -> Column:
    """The pipeline's cheap quality gate (shared by the curation
    composites and the shard-ingest plan): minimum length and a
    punctuation-ratio ceiling."""
    text_len = F.length(text)
    n_punct = text_len - F.length(F.regexp_replace(text, r"[^0-9A-Za-z\s]", ""))
    return (text_len >= 20) & (
        F.round(n_punct / F.greatest(text_len, F.lit(1)), 4) < 0.3
    )


def md5_prefix_bucket(doc_id: Column) -> Column:
    """First two md5 hex chars of the id — THE shared hash-decision
    bucket for split assignment, mixture resampling, and the ingest
    plan's resample stage. Single definition on purpose: those
    decisions are only mutually consistent (and reproducible across
    re-ingests) while every consumer computes the identical bytes."""
    return F.substring(F.md5(doc_id.cast("string")), 1, 2)


def split_assignment(doc_id: Column) -> Column:
    """Deterministic train/val/test split by hashed id (~80/10/10) —
    hash-mod, not RNG: stable across runs, engines, and corpus growth."""
    bucket = md5_prefix_bucket(doc_id)
    return (
        F.when(bucket < "cc", "train").when(bucket < "e6", "val").otherwise("test")
    )


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by hashed id — the
    reproducible-split idiom (see split_assignment). md5's first two
    hex chars partition [00..ff] into ~80/10/10; pure projection, no
    shuffle, and the same expression runs verbatim in any engine for
    audit."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        md5_prefix_bucket(F.col("doc_id")).alias("hash_bucket"),
        split_assignment(F.col("doc_id")).alias("split"),
    )


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics for tokenizer budgeting: total and
    distinct token counts, plus the token-mass fraction covered by the
    top-100 vocabulary (ties broken by token text so the cut is
    engine-independent). One shuffle to count the vocab (map-side
    combined); the two singleton aggregates then cross-join — a 1x1
    broadcast nested loop, parameter-sized by construction."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(F.explode(tokens(F.col("text"))).alias("token"))
    counts = tok.groupBy("token").agg(F.count("*").alias("c"))
    totals = counts.agg(
        F.sum("c").alias("n_total_tokens"),
        F.count("*").alias("n_distinct_tokens"),
    )
    top = (
        counts.orderBy(F.desc("c"), F.asc("token"))
        .limit(100)
        .agg(F.sum("c").alias("top_c"))
    )
    return totals.crossJoin(top).select(
        "n_total_tokens",
        "n_distinct_tokens",
        F.round(F.col("top_c") / F.col("n_total_tokens"), 4).alias(
            "top100_coverage"
        ),
    )


# Sequence-packing parallelism target: each hash group's running-sum
# window sorts and scans its docs serially, so groups should stay
# around this many documents. 32 groups suffice for every test SF; a
# 10B-doc corpus derives ~1000 groups instead of scanning 312M docs
# per window partition.
PACKING_DOCS_PER_GROUP = 10_000_000


def q_sequence_packing(
    spark: SparkSession,
    sf_dir: str,
    token_budget: int = 2048,
    n_groups: int | None = 32,
) -> DataFrame:
    """Token-budget sequence packing: assign each document to a
    training pack of ~``token_budget`` whitespace tokens — the
    pre-tokenization packing step that turns a curated corpus into
    fixed-size training sequences.

    Scale shape: a single global running sum would serialize into one
    partition, so documents first hash into ``n_groups`` independent
    groups (deterministic: doc_id mod) and pack by cumulative token
    count WITHIN their group — the windows parallelize per group and
    the global pack id is (group, bucket). Deterministic ordering
    (doc_id) makes the assignment reproducible across runs and engines.

    ``n_groups=None`` derives the group count from the corpus size
    (ceil(n_docs / PACKING_DOCS_PER_GROUP), floor 32) so window
    parallelism scales with the data; the default stays a fixed 32 for
    cross-engine oracle stability (the group assignment is part of the
    output contract). Pack ids are ``pack_group * 2^40 + bucket`` —
    disjoint id ranges up to 2^40 packs (~2200 tera-tokens) per group,
    so ids cannot alias across groups.
    """
    d = load(spark, sf_dir, "documents").withColumn("toks", tokens(F.col("text")))
    if n_groups is None:
        n_docs = d.count()
        n_groups = max(32, -(-n_docs // PACKING_DOCS_PER_GROUP))
    from pyspark.sql import Window

    n_tok = F.size(F.col("toks"))
    g = (F.col("doc_id") % n_groups).cast("int")
    w = (
        Window.partitionBy("pack_group")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    staged = d.select(
        "doc_id", g.alias("pack_group"), n_tok.alias("n_tokens")
    ).withColumn(
        "tokens_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    pack_in_group = F.floor(F.col("tokens_before") / token_budget)
    return staged.select(
        "doc_id",
        "pack_group",
        "n_tokens",
        (F.col("pack_group").cast("long") * F.lit(1 << 40) + pack_in_group).alias(
            "pack_id"
        ),
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition signals (the Gopher-style boilerplate filters a
    pretraining pipeline applies): the fraction of mass held by the
    single most frequent token, and the fraction of repeated bigrams.
    High values mean templated/degenerate text.

    All per-document HOF arithmetic over the one materialized token
    array; the per-distinct-token count is O(distinct * n) per row —
    bounded by document length, embarrassingly parallel, no shuffle.
    """
    d = load(spark, sf_dir, "documents").withColumn("toks", tokens(F.col("text")))
    toks = F.col("toks")
    n = F.size(toks)
    top_count = F.array_max(
        F.transform(
            F.array_distinct(toks),
            lambda dt: F.size(F.filter(toks, lambda t: t == dt)),
        )
    )
    bigrams = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
    )
    d2 = d.where(n >= 2).withColumn("bgs", bigrams)
    n_bg = F.size(F.col("bgs"))
    return d2.select(
        "doc_id",
        n.alias("n_tokens"),
        F.round(top_count / n, 4).alias("top_token_fraction"),
        F.round(
            (n_bg - F.size(F.array_distinct(F.col("bgs")))) / n_bg, 4
        ).alias("dup_bigram_fraction"),
    )


def q_curation_pipeline_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete curation decision, one row per document:

      keep = passes cheap quality filters
             AND canonical for its EXACT-dup group (min doc_id per md5)
             AND canonical for its NEAR-dup cluster (MinHash pipeline
                 components; docs in no cluster are their own canonical)
             AND not contaminated against the held-out eval slice

    with the drop reason materialized at the standard precedence
    (quality < exact-dup < near-dup < contamination). This is the
    whole-engine composite: scan-side quality predicates, one md5
    shuffle, the O(n) MinHash band path, and the blocked decontamination
    join — every stage individually scale-shaped, composed here exactly
    as a production pipeline deploys them. Rows-only at the driver
    (xxhash64 inside the MinHash stage).

    The corpus is scanned and TOKENIZED exactly once: a
    localCheckpointed (doc_id, text, toks) frame feeds the quality
    predicates, the md5 window, the MinHash shingles (k=3), and the
    decontamination grams (k=8). Without the shared frame each subtree
    independently re-reads and re-tokenizes the corpus — 3 extra full
    passes whose cost dominates at scale; materializing once trades
    executor storage for those passes, the standard cache-reuse call
    for a multi-consumer scan.
    """
    from pyspark.sql import Window

    from datapoints_csv_extractor_spark.operators.dedup import (
        decontamination_from_toks,
        minhash_dedup_pipeline_from_toks,
    )

    from datapoints_csv_extractor_spark.operators.skew import spread_scan

    d = (
        spread_scan(load(spark, sf_dir, "documents").select("doc_id", "text"))
        .withColumn("toks", tokens(F.col("text")))
        .localCheckpoint()
    )
    exact_canonical = F.min("doc_id").over(Window.partitionBy(F.md5(F.col("text"))))
    flagged = d.select(
        "doc_id",
        quality_passes(F.col("text")).alias("passes_quality"),
        (F.col("doc_id") == exact_canonical).alias("is_exact_canonical"),
    )
    # The MinHash component loop (driver-sequential actions) and the
    # decontamination gram join are INDEPENDENT consumers of the
    # shared tokenized checkpoint; run them as two concurrent driver
    # jobs (guide §2.6) so the contamination pass executes on cores
    # the cluster loop's per-round tail leaves idle instead of
    # strictly after it. Results are unchanged — the contamination
    # frame is simply materialized (localCheckpoint) by its thread.
    from concurrent.futures import ThreadPoolExecutor

    def _clusters():
        return minhash_dedup_pipeline_from_toks(
            d.select("doc_id", "toks")
        ).select("doc_id", F.col("canonical_doc_id").alias("near_canonical"))

    def _contaminated():
        return (
            decontamination_from_toks(
                d.where(F.col("doc_id") % 50 != 0).select("doc_id", "toks"),
                d.where(F.col("doc_id") % 50 == 0).select("doc_id", "toks"),
            )
            .select("doc_id", F.lit(True).alias("is_contaminated"))
            .localCheckpoint()
        )

    with ThreadPoolExecutor(max_workers=2) as _pool:
        _fc = _pool.submit(_clusters)
        _fd = _pool.submit(_contaminated)
        clusters = _fc.result()
        contaminated = _fd.result()
    out = (
        flagged.join(clusters, "doc_id", "left")
        .join(contaminated, "doc_id", "left")
        .select(
            "doc_id",
            "passes_quality",
            "is_exact_canonical",
            F.coalesce(
                F.col("near_canonical") == F.col("doc_id"), F.lit(True)
            ).alias("is_near_canonical"),
            F.coalesce("is_contaminated", F.lit(False)).alias("is_contaminated"),
        )
    )
    keep = (
        F.col("passes_quality")
        & F.col("is_exact_canonical")
        & F.col("is_near_canonical")
        & ~F.col("is_contaminated")
    )
    return out.select(
        "doc_id",
        "passes_quality",
        "is_exact_canonical",
        "is_near_canonical",
        "is_contaminated",
        keep.alias("keep"),
        F.when(~F.col("passes_quality"), "low_quality")
        .when(~F.col("is_exact_canonical"), "exact_duplicate")
        .when(~F.col("is_near_canonical"), "near_duplicate")
        .when(F.col("is_contaminated"), "contaminated")
        .otherwise("kept")
        .alias("reason"),
    )


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone composite: the end-to-end keep/drop decision a
    training-data pipeline makes per document —

      keep = passes cheap quality filters
             AND is the canonical copy of its exact-dup group
             (min doc_id per md5(text), from the dedup operator)

    with the drop reason materialized. Composes q_text_quality's
    predicate with exact dedup in one plan: scan -> project (quality,
    hash) -> one shuffle on the hash for the canonical window -> final
    project. At 100 TB near-dup canonicals (MinHash clusters) slot in
    as one more join against the same frame.
    """
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents").withColumn("toks", tokens(F.col("text")))
    canonical = F.min("doc_id").over(Window.partitionBy(F.md5(F.col("text"))))
    flagged = d.select(
        "doc_id",
        quality_passes(F.col("text")).alias("passes_quality"),
        (F.col("doc_id") == canonical).alias("is_canonical"),
    )
    return flagged.select(
        "doc_id",
        "passes_quality",
        "is_canonical",
        (F.col("passes_quality") & F.col("is_canonical")).alias("keep"),
        F.when(~F.col("passes_quality"), "low_quality")
        .when(~F.col("is_canonical"), "exact_duplicate")
        .otherwise("kept")
        .alias("reason"),
    )


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str, top_k: int = 3) -> DataFrame:
    """Top-``top_k`` TF-IDF terms per document — the classic salient-
    term extraction a corpus-analysis pass runs (tagging, clustering
    features, search-index previews).

    tf counts shuffle once on (doc_id, token) with map-side combine;
    document frequency is one more aggregate over the distinct pairs
    (no second scan of the text); idf = ln((N+1)/(df+1)) with the +1
    smoothing that keeps corpus-wide terms finite. The per-doc top-k
    is a rank window over the scored pairs — rows by then are a few
    per (doc, distinct token), not per occurrence. Ties break on token
    text so the cut is engine-independent.

    The doc count N is parameter-sized and joins in as a 1-row
    broadcast (same shape as q_vocab_coverage's totals join).
    """
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents").withColumn("toks", tokens(F.col("text")))
    pairs = d.select("doc_id", F.explode(F.col("toks")).alias("token"))
    tf = pairs.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = d.select(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
                4,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select("doc_id", "rank", "token", F.col("tf").alias("tf"), "tfidf")
    )


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM quality score per document: the mean unigram log
    probability of its tokens under the corpus's own unigram model —
    the cheap perplexity proxy (CCNet-style) pipelines use to rank
    documents by "typicality" before an expensive model pass.

    Two aggregates: corpus token counts (one shuffle, map-side
    combined), then token-level explode joined to the counts and
    folded per doc. The counts table has one row per DISTINCT token —
    not broadcastable at corpus scale, so the join strategy is left to
    AQE. Per-token log-probs are rounded to 6 dp and summed as
    DECIMAL(18,6) so the per-doc sum is order-independent and
    engine-exact (double summation order differs between engines).
    """
    d = load(spark, sf_dir, "documents").withColumn("toks", tokens(F.col("text")))
    pairs = d.select("doc_id", F.explode(F.col("toks")).alias("token"))
    counts = pairs.groupBy("token").agg(F.count("*").alias("cnt"))
    total = pairs.select(F.count("*").alias("total"))
    lp = F.round(
        F.log(F.col("cnt") / F.col("total")), 6
    ).cast("decimal(18,6)")
    return (
        pairs.join(counts, "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            # The exact decimal sum casts to double BEFORE dividing:
            # decimal-division precision/scale rules differ between
            # engines, double division does not.
            F.round(
                F.sum(lp).cast("double") / F.count("*"), 4
            ).alias("mean_token_logprob"),
        )
    )


def q_token_chunks(
    spark: SparkSession,
    sf_dir: str,
    window: int = 128,
    stride: int = 96,
) -> DataFrame:
    """Sliding-window token chunking: split each document into
    ``window``-token chunks every ``stride`` tokens (overlap =
    window - stride) — the context-window chunking step that prepares
    long documents for fixed-length training or embedding.

    Chunk count = 1 + ceil(max(n - window, 0) / stride) (the last
    chunk may be short; every token lands in >= 1 chunk). One explode
    per chunk, per-row HOF slicing, NO shuffle — embarrassingly
    parallel at any scale. The chunk content is fingerprinted (md5 of
    the space-joined slice) so results stay compact and verifiable.
    """
    d = load(spark, sf_dir, "documents").withColumn("toks", tokens(F.col("text")))
    n = F.size(F.col("toks"))
    n_chunks = (
        F.lit(1)
        + F.ceil(F.greatest(n - window, F.lit(0)) / F.lit(stride)).cast("int")
    )
    d2 = d.where(n > 0).select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    start = F.col("chunk_idx") * stride + 1
    chunk = F.slice(F.col("toks"), start, window)
    return d2.select(
        "doc_id",
        "chunk_idx",
        start.alias("start_token"),
        F.size(chunk).alias("chunk_n_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
    )


def q_source_mixture(
    spark: SparkSession, sf_dir: str, token_budget: int = 1_000_000
) -> DataFrame:
    """Training-mixture bookkeeping per corpus source: document and
    token counts, each source's share of total token mass, and its
    allocation of a fixed training token budget at natural
    (share-proportional) weighting — the table a pretraining run's
    data card starts from, and the input to any reweighting decision.

    One groupBy(source) with map-side combine; the totals join is a
    1-row broadcast (parameter-sized by construction). Counts are
    integer-exact, so the single double division per row is
    engine-deterministic.
    """
    d = load(spark, sf_dir, "documents").withColumn("toks", tokens(F.col("text")))
    per_source = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.col("toks")).cast("long")).alias("n_tokens"),
    )
    totals = per_source.agg(F.sum("n_tokens").alias("total_tokens"))
    share = F.col("n_tokens") / F.col("total_tokens")
    return (
        per_source.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(share, 4).alias("token_share"),
            F.round(share * token_budget, 0).cast("long").alias("budget_tokens"),
        )
        .orderBy("source")
    )


def bpe_train(
    docs: DataFrame, n_merges: int = 10, text_col: str = "text"
) -> list[tuple[str, str]]:
    """Distributed byte-pair-encoding merge training (Sennrich et al.
    2016): learn the first ``n_merges`` merge rules from a corpus.

    The classic formulation operates on the WORD VOCABULARY with
    frequencies, not the raw corpus — so the corpus is touched exactly
    once (explode tokens -> groupBy word, map-side combined), and
    every merge iteration runs on the vocab table (distinct words:
    orders of magnitude smaller than the corpus; ~10M rows even at
    100 TB). Per iteration: one pair-count aggregate weighted by word
    frequency (map-side combined), one TakeOrdered(1) for the best
    pair (count desc, pair asc — deterministic tie-break), and one
    codegen'd fold that applies the merge left-to-right to each
    symbol sequence. The driver holds only the merge table.

    Returns the merge rules in order. No SQL twin (iterative state);
    pytest pins parity with a pure-Python BPE reference.
    """
    vocab = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    chars = F.transform(
        F.sequence(F.lit(1), F.length(F.col("word"))),
        lambda i: F.col("word").substr(i, F.lit(1)),
    )
    state = vocab.select(
        "freq", chars.alias("syms")
    ).localCheckpoint()

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        syms = F.col("syms")
        n = F.size(syms)
        pair_arr = F.when(
            n >= 2,
            F.transform(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.struct(
                    F.element_at(syms, i).alias("left"),
                    F.element_at(syms, i + 1).alias("right"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<left:string,right:string>>"))
        top = (
            state.select("freq", F.explode(pair_arr).alias("p"))
            .groupBy("p.left", "p.right")
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.desc("c"), F.asc("left"), F.asc("right"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b = top[0]["left"], top[0]["right"]
        merges.append((a, b))
        # Left-to-right merge fold: append each symbol, fusing it into
        # the accumulator's tail when (tail, symbol) == (a, b). The
        # when() is lazily evaluated, so element_at on an empty
        # accumulator never runs (ANSI-safe). Shared with bpe_encode.
        state = state.select(
            "freq", _bpe_merge_fold(syms, a, b).alias("syms")
        ).localCheckpoint()
    return merges


def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing: the first 10 BPE merge rules learned from the
    corpus, with their rank (rows-only: iterative training has no SQL
    twin; python-reference parity pinned in pytest)."""
    merges = bpe_train(load(spark, sf_dir, "documents"), n_merges=10)
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "merge_rank int, left string, right string",
    )


def _bpe_merge_fold(syms: Column, a: str, b: str) -> Column:
    """One merge rule applied left-to-right over a symbol array — the
    same JVM fold ``bpe_train`` uses, factored for the encode path."""
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (s == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(F.element_at(acc, -1), s)),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    doc_col: str = "doc_id",
    checkpoint_every: int = 16,
) -> DataFrame:
    """Apply trained BPE merges to a corpus — the tokenization step a
    training export actually runs, inverse-side of ``bpe_train``.

    Scale shape: merges apply to the DISTINCT WORD table (one
    shuffle; vocabulary is orders of magnitude smaller than the
    corpus — the same reduction the trainer exploits), in training
    order via chained JVM folds (``localCheckpoint`` every
    ``checkpoint_every`` rules keeps the expression tree bounded for
    real vocab-sized merge lists). The corpus then joins its tokens
    to the encoded vocabulary (AQE picks broadcast while the vocab
    fits, shuffle join beyond) and each document reassembles in token
    order with sort_array + flatten — all JVM, zero Python.

    Returns (doc_col, bpe_tokens array<string>, n_bpe_tokens).
    """
    words = docs.select(
        F.explode(tokens(F.col(text_col))).alias("word")
    ).distinct()
    chars = F.transform(
        F.sequence(F.lit(1), F.length(F.col("word"))),
        lambda i: F.col("word").substr(i, F.lit(1)),
    )
    enc = words.select("word", chars.alias("syms"))
    for i, (a, b) in enumerate(merges):
        enc = enc.select("word", _bpe_merge_fold(F.col("syms"), a, b).alias("syms"))
        if (i + 1) % checkpoint_every == 0:
            enc = enc.localCheckpoint()

    toks = docs.select(
        F.col(doc_col),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "word"),
    )
    assembled = (
        toks.join(enc, "word")
        .groupBy(doc_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("syms")))
                    ),
                    lambda s: s["syms"],
                )
            ).alias("bpe_tokens")
        )
    )
    return assembled.select(
        doc_col,
        "bpe_tokens",
        F.size("bpe_tokens").alias("n_bpe_tokens"),
    )


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing: corpus tokenized with the 10 trained merges;
    returns per-doc BPE token counts (rows-only — iterative-training
    lineage; pure-Python encode parity pinned in pytest)."""
    d = load(spark, sf_dir, "documents")
    merges = bpe_train(d, n_merges=10)
    return bpe_encode(d, merges).select("doc_id", "n_bpe_tokens").orderBy("doc_id")


def q_topk_ngrams_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source top-5 word trigrams — the grouped heavy-hitters
    report a pipeline uses to spot per-domain boilerplate (each
    source's over-represented templates, not the global profile
    q_top_bigrams gives).

    Two-stage exact top-k: (1) explode trigrams -> count by
    (source, trigram) with map-side partial aggregation, so the
    shuffle carries one row per (partition, source, trigram), never
    raw gram instances; (2) row_number window per source over the
    COUNTED table — bounded by distinct grams per source, orders of
    magnitude smaller than the corpus, so the sort is cheap and the
    plan stays two shuffles total at any scale. A global TakeOrdered
    (q_top_bigrams' shape) cannot express per-group k; a per-group
    heap via window-on-counts is the standard scale answer."""
    d = load(spark, sf_dir, "documents").withColumn(
        "toks", tokens(F.col("text"))
    )
    toks = F.col("toks")
    n = F.size(toks)
    trigrams = F.transform(
        F.sequence(F.lit(1), n - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at(toks, i),
            F.element_at(toks, i + 1),
            F.element_at(toks, i + 2),
        ),
    )
    counts = (
        d.where(n >= 3)
        .select("source", F.explode(trigrams).alias("trigram"))
        .groupBy("source", "trigram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(
        F.desc("n_occurrences"), F.asc("trigram")
    )
    return (
        counts.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 5)
        .orderBy("source", "rk")
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Distributed BM25 keyword retrieval: score every document
    against a bag-of-terms query and return the top-k.

    The exact-match retrieval primitive the embedding ANN stack
    (hybrid search's other leg) doesn't cover. Plan shape at scale:

    - term frequencies: explode tokens -> ONE hash aggregate on
      (doc_id, term), filtered to the query's terms BEFORE the
      shuffle, so the exchange carries only matching-term partials
      (|Q| terms, not the vocabulary).
    - corpus stats (N, sum of doc lengths) are one tiny two-long
      aggregate fetched to the driver — parameter-sized, the same
      posture as the ANN centroid fetches; avgdl is derived as an
      exact integer-sum quotient so both engines see the identical
      double.
    - per-term document frequencies aggregate the tf table (<= |Q|
      rows out) and broadcast back — no second corpus scan, no
      skew surface.
    - the Lucene-style IDF ln((N - df + .5)/(df + .5) + 1) keeps
      scores positive; final top-k is a TakeOrdered on the rounded
      score with doc_id tie-break, never a global sort.
    """
    d = docs.select(
        "doc_id", tokens(F.col("text")).alias("toks")
    ).select("doc_id", F.size("toks").alias("dl"), "toks")
    n_docs, dl_sum = d.agg(
        F.count(F.lit(1)), F.sum("dl")
    ).first()
    if not n_docs:
        # Empty corpus: no scores to rank — return the empty top-k
        # frame (same defensive posture as read_store on an empty
        # snapshot) instead of dividing by zero below.
        return docs.sparkSession.createDataFrame(
            [], "doc_id long, bm25 double"
        )
    avgdl = dl_sum / n_docs  # exact: integer sum / integer count
    qlit = F.array(*[F.lit(t) for t in query_terms])
    tf = (
        d.select("doc_id", "dl", F.explode("toks").alias("term"))
        .where(F.array_contains(qlit, F.col("term")))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    return _bm25_rank(tf, n_docs, avgdl, k1, b, k)


def _bm25_rank(
    tf: DataFrame, n_docs: int, avgdl: float, k1: float, b: float, k: int
) -> DataFrame:
    """Shared scoring tail for the live-scan and persisted-index BM25
    paths: per-term document frequencies from the (already
    query-filtered) tf table broadcast back, Lucene-style IDF, top-k
    TakeOrdered on the rounded score."""
    dfs = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    f, dl = F.col("f").cast("double"), F.col("dl").cast("double")
    part = idf * (
        f * (k1 + 1.0) / (f + k1 * (1.0 - b + b * dl / F.lit(avgdl)))
    )
    return (
        tf.join(F.broadcast(dfs), "term")
        .groupBy("doc_id")
        .agg(F.round(F.sum(part), 4).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(k)
    )


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing BM25: a three-term query with deliberately mixed
    document frequencies (one rare term dominates via IDF) over the
    documents table, top-10."""
    d = load(spark, sf_dir, "documents")
    return bm25_topk(d, ["dup", "window", "merge"], k=10)


def _bm25_meta_path(index_dir: str) -> str:
    """The store's meta — the commit point of every mutation, read
    and committed through ``sinks/store_commit.py`` like the band-store
    manifest."""
    return os.path.join(index_dir, "meta.json")


def _bm25_write_shard(
    docs: DataFrame, index_dir: str, shard_id: str, n_buckets: int
) -> dict:
    """Write one shard's postings under postings/shard=<id>/bucket=N
    (overwrite — a crashed partial shard is simply rewritten on
    replay) and return its stats entry. Not committed until the
    caller folds it into meta. The stats are observed on the postings
    write itself, so the shard is scanned once."""
    stats = Observation()
    shard_stats = (
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum("dl"), F.lit(0)).alias("dl_sum"),
    )
    d = (
        docs.select("doc_id", tokens(F.col("text")).alias("toks"))
        .select("doc_id", F.size("toks").alias("dl"), "toks")
        .observe(stats, *shard_stats)
    )
    # Positions ride along (0-based token offsets, sorted): they make
    # the store PHRASE-CAPABLE (bucket-pruned candidate fetch +
    # position-adjacency verify) at the cost of one int per token —
    # the standard positional-postings trade.
    tf = (
        d.select(
            "doc_id", "dl", F.posexplode("toks").alias("pos", "term")
        )
        .groupBy("doc_id", "dl", "term")
        .agg(
            F.count(F.lit(1)).alias("f"),
            F.sort_array(F.collect_list("pos")).alias("positions"),
        )
    )
    postings = tf.withColumn(
        "bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")
    )
    postings.write.mode("overwrite").partitionBy("bucket").parquet(
        os.path.join(index_dir, "postings", f"shard={shard_id}")
    )
    try:
        got = stats.get
    except Py4JJavaError:
        # A known-empty input (an empty local frame) lets adaptive
        # execution prune the observed stage, which leaves no metrics
        # row to read; aggregate the input directly instead.
        got = d.agg(*shard_stats).first().asDict()
    return {"n_docs": got["n_docs"], "dl_sum": got["dl_sum"]}


def build_bm25_index(
    docs: DataFrame, index_dir: str, n_buckets: int = 64,
    shard_id: str = "base",
) -> None:
    """Build half of the BM25 lifecycle: persist the inverted index as
    a postings table partitioned by (shard, term-hash bucket), plus
    parameter-sized per-shard corpus stats in a committed meta.

    The same build-once/query-many posture as the IVF/PQ ANN stores:
    one corpus scan computes (term, doc_id, f, dl) postings; writing
    them partitioned by ``bucket = xxhash64(term) % n_buckets`` means
    a query later reads ONLY its terms' bucket directories —
    partition pruning does the index lookup, no corpus re-scan, no
    driver-side index structure. df is computed at query time from
    the fetched postings (complete per term by construction), so the
    store holds no derived state. The shard level is the incremental
    ingest unit (``append_bm25_shard``); meta lists COMMITTED shards
    only, so queries never see a half-written ingest. ``shard_id``
    names the seed shard so a replayed seeding ingest (e.g. a
    streaming batch) stays idempotent under its own id."""
    stats = _bm25_write_shard(docs, index_dir, shard_id, n_buckets)
    store_commit.write_json(
        _bm25_meta_path(index_dir),
        {"n_buckets": n_buckets, "shards": {shard_id: stats}},
    )


def append_bm25_shard(
    docs: DataFrame, index_dir: str, shard_id: str
) -> bool:
    """Incremental half: fold a new document shard into the standing
    index WITHOUT touching existing postings — one shard-local scan,
    a shard=<id> directory write, and an atomic meta commit adding
    the shard's stats. Replay-idempotent: a shard id already in meta
    is a no-op (returns False); a crashed previous attempt left an
    uncommitted directory that the rewrite simply replaces. The commit
    is a locked read-modify-write, so a racing append or compaction
    keeps its own shards. This is the daily-ingest story the band
    store and IVF store already have, on the retrieval axis."""
    path = _bm25_meta_path(index_dir)
    meta = store_commit.read_json(path)
    if shard_id in meta["shards"]:
        return False
    stats = _bm25_write_shard(docs, index_dir, shard_id, meta["n_buckets"])
    store_commit.update_json(
        path, lambda m: {**m, "shards": m["shards"] | {shard_id: stats}}, None
    )
    return True


def _bm25_tombstones(
    spark: SparkSession, index_dir: str, meta: dict
) -> DataFrame | None:
    """Committed tombstoned doc_ids (meta's ``deletes`` ledger), or
    None when nothing is deleted."""
    deletes = meta.get("deletes", {})
    if not deletes:
        return None
    return (
        spark.read.parquet(
            *[
                os.path.join(index_dir, "tombstones", f"delete={d}")
                for d in deletes
            ]
        )
        .select("doc_id")
        .distinct()
    )


def delete_from_bm25_index(
    spark: SparkSession,
    index_dir: str,
    doc_ids,
    delete_id: str | None = None,
) -> bool:
    """Tombstone documents in the standing BM25 store — the redaction
    path: a deleted doc must stop being retrievable immediately AND
    stop distorting the corpus statistics (BM25's IDF and length
    normalization both read N and avgdl).

    The batch writes ``tombstones/delete=<id>/`` (doc_id), computes
    the deleted docs' aggregate stats from the CURRENT postings (one
    doc-filtered read: n_docs and summed dl over docs actually
    present and not already tombstoned — double-deletes count zero),
    and commits both into meta's ``deletes`` ledger atomically.
    Scoring subtracts the ledger's stats and anti-joins the postings;
    ``compact_bm25_index`` later drops the rows physically and clears
    the ledger. Replaying a committed ``delete_id`` is a no-op
    (returns False).

    ``doc_ids`` is a list of ints or a DataFrame with ``doc_id``.
    """
    import uuid

    from pyspark.sql import DataFrame as _DF

    delete_id = delete_id or uuid.uuid4().hex[:12]
    path = _bm25_meta_path(index_dir)
    meta = store_commit.read_json(path)
    if delete_id in meta.get("deletes", {}):
        return False
    ids = (
        doc_ids
        if isinstance(doc_ids, _DF)
        else spark.createDataFrame([(int(i),) for i in doc_ids], "doc_id long")
    ).select("doc_id").distinct().localCheckpoint()
    ids.write.mode("overwrite").parquet(
        os.path.join(index_dir, "tombstones", f"delete={delete_id}")
    )
    live = _bm25_read_postings(spark, index_dir, meta)
    prior = _bm25_tombstones(spark, index_dir, meta)
    if prior is not None:
        live = live.join(prior, "doc_id", "left_anti")
    # Per-(shard, doc) grain, NOT per doc: the shard ledger's
    # n_docs/dl_sum counted a doc once per shard it was ingested into
    # (a re-ingested doc contributes each shard's dl), so the delete
    # ledger must subtract the same way or N/avgdl drift after
    # delete/compact.
    n_docs, dl_sum = (
        live.join(ids, "doc_id")
        .select("shard", "doc_id", "dl")
        .distinct()
        .agg(F.count(F.lit(1)), F.sum("dl"))
        .first()
    )
    stats = {"n_docs": n_docs, "dl_sum": dl_sum or 0}
    store_commit.update_json(
        path,
        lambda m: {**m, "deletes": m.get("deletes", {}) | {delete_id: stats}},
        None,
    )
    return True


def compact_bm25_index(spark: SparkSession, index_dir: str) -> tuple[int, int]:
    """Fold all committed shards into one — the small-files answer for
    a store that ingests daily. Reads only committed postings,
    rewrites them as a single new shard, commits a meta listing just
    it (stats summed) plus any shard or delete committed after the
    snapshot, then sweeps unreferenced shard and tombstone directories
    (which also garbage-collects crashed ingest leftovers). Returns
    (shards_before, shards_after)."""
    import uuid

    path = _bm25_meta_path(index_dir)
    meta = store_commit.read_json(path)
    committed = list(meta["shards"])
    deletes = meta.get("deletes", {})
    if len(committed) < 2 and not deletes:
        return (len(committed), len(committed))
    new_id = f"compact{uuid.uuid4().hex[:8]}"
    posts = _bm25_read_postings(spark, index_dir, meta)
    keep_cols = [
        c
        for c in ("doc_id", "dl", "term", "f", "positions", "bucket")
        if c in posts.columns
    ]
    posts = posts.select(*keep_cols)
    dead = _bm25_tombstones(spark, index_dir, meta)
    if dead is not None:
        # Tombstone fold: deleted docs' postings drop physically and
        # their stats leave the ledger (already subtracted below).
        posts = posts.join(dead, "doc_id", "left_anti")
    posts.write.mode("overwrite").partitionBy("bucket").parquet(
        os.path.join(index_dir, "postings", f"shard={new_id}")
    )
    folded = {
        "n_docs": sum(s["n_docs"] for s in meta["shards"].values())
        - sum(d["n_docs"] for d in deletes.values()),
        "dl_sum": sum(s["dl_sum"] for s in meta["shards"].values())
        - sum(d["dl_sum"] for d in deletes.values()),
    }

    def _swap(m: dict) -> dict:
        # Shards and deletes committed AFTER our snapshot (a racing
        # writer) were not folded, so they stay listed.
        m["shards"] = {new_id: folded} | {
            s: v for s, v in m["shards"].items() if s not in committed
        }
        m["deletes"] = {
            d: v for d, v in m.get("deletes", {}).items() if d not in deletes
        }
        return m

    final = store_commit.update_json(path, _swap, None)
    store_commit.sweep(
        os.path.join(index_dir, "postings"), "shard=",
        {f"shard={s}" for s in final["shards"]},
    )
    store_commit.sweep(
        os.path.join(index_dir, "tombstones"), "delete=",
        {f"delete={d}" for d in final["deletes"]},
    )
    return (len(committed), len(final["shards"]))


def _bm25_read_postings(
    spark: SparkSession, index_dir: str, meta: dict
) -> DataFrame:
    """All COMMITTED postings (shard partition-pruned to meta's
    ledger) — uncommitted/crashed shard directories are invisible."""
    shards = [F.lit(s) for s in meta["shards"]]
    return spark.read.parquet(os.path.join(index_dir, "postings")).where(
        F.col("shard").isin(*shards) if shards else F.lit(False)
    )


def bm25_topk_from_index(
    spark: SparkSession,
    index_dir: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Query half: identical scores to ``bm25_topk`` (pinned in
    pytest) without touching the corpus. The query's bucket set is
    computed with the same JVM xxhash64 the writer used (one
    literal-frame job, no corpus scan); the postings read prunes to
    committed shards AND those buckets (both are partition columns),
    and scoring reuses the shared tail with corpus stats summed over
    the shard ledger."""
    meta = store_commit.read_json(_bm25_meta_path(index_dir))
    deletes = meta.get("deletes", {})
    n_docs = sum(s["n_docs"] for s in meta["shards"].values()) - sum(
        d["n_docs"] for d in deletes.values()
    )
    dl_sum = sum(s["dl_sum"] for s in meta["shards"].values()) - sum(
        d["dl_sum"] for d in deletes.values()
    )
    if n_docs <= 0:
        # Nothing (live) indexed: empty top-k, no division by zero.
        return spark.createDataFrame([], "doc_id long, bm25 double")
    avgdl = dl_sum / n_docs
    bdf = (
        spark.createDataFrame([(t,) for t in query_terms], "term string")
        .select(
            F.pmod(F.xxhash64("term"), F.lit(meta["n_buckets"]))
            .cast("int")
            .alias("bucket")
        )
        .distinct()
        .collect()
    )
    buckets = [r["bucket"] for r in bdf]
    qlit = F.array(*[F.lit(t) for t in query_terms])
    tf = (
        _bm25_read_postings(spark, index_dir, meta)
        .where(
            F.col("bucket").isin(buckets)
            & F.array_contains(qlit, F.col("term"))
        )
        .select("doc_id", "dl", "term", "f")
    )
    dead = _bm25_tombstones(spark, index_dir, meta)
    if dead is not None:
        # Deleted docs stop being retrievable immediately; their
        # postings drop physically at the next compaction.
        tf = tf.join(dead, "doc_id", "left_anti")
    return _bm25_rank(tf, n_docs, avgdl, k1, b, k)


def q_bm25_index_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing persisted-index BM25: build the inverted index
    into a scratch dir, then answer the same three-term query as
    q_bm25_search from the store — same oracle, because the index
    path is deterministically score-identical to the live scan."""
    import tempfile

    d = load(spark, sf_dir, "documents")
    index_dir = tempfile.mkdtemp(prefix="bm25_index_")
    build_bm25_index(d, index_dir)
    return bm25_topk_from_index(
        spark, index_dir, ["dup", "window", "merge"], k=10
    )


def compression_ratio(docs: DataFrame) -> DataFrame:
    """Per-document zlib compression ratio — the classic cheap
    repetitiveness signal (template/boilerplate text compresses far
    below natural prose; near-random noise compresses above it).
    Complements the exact repeated-span detector: spans find WHICH
    text repeats, the ratio is a one-number prior that needs no
    n-gram state.

    Python is unavoidable here (no JVM zlib expression), so the cost
    discipline is the Arrow one: ``mapInPandas`` batches (zero
    per-row Python call overhead beyond the C zlib call itself) over
    a scan fanned to cluster parallelism by ``spread_scan`` — the
    same byte-priced-coalescer guard every other Arrow stage in this
    repo carries. Output: (doc_id, n_bytes, compressed_bytes,
    compression_ratio)."""
    import pandas as pd  # noqa: F401 (schema doc)

    from datapoints_csv_extractor_spark.operators.skew import spread_scan

    src = spread_scan(docs.select("doc_id", "text"))

    def _batches(it):
        import zlib

        import pandas as pd

        for pdf in it:
            raw = [t.encode("utf-8") if t is not None else b"" for t in pdf["text"]]
            nb = [len(b) for b in raw]
            cb = [len(zlib.compress(b, 6)) if b else 0 for b in raw]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": nb,
                    "compressed_bytes": cb,
                    "compression_ratio": [
                        round(c / n, 4) if n else 0.0
                        for c, n in zip(cb, nb)
                    ],
                }
            )

    return src.mapInPandas(
        _batches,
        schema="doc_id long, n_bytes long, compressed_bytes long, "
        "compression_ratio double",
    )


def q_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing compression-ratio signal over the documents
    table (rows-only: no SQL zlib; the repetitive-vs-random ordering
    property and determinism are pinned in pytest)."""
    return compression_ratio(load(spark, sf_dir, "documents")).orderBy(
        "doc_id"
    )


def _bigram_array(toks: Column) -> Column:
    """Adjacent word bigrams WITH multiplicity (unlike the dedup
    shingles, which are distinct sets): "w1 w2" strings, empty for
    docs under two tokens. ``toks`` must be a materialized column
    reference (the shingles_of_tokens O(len^2) lambda lesson)."""
    n = F.size(toks)
    idx = F.sequence(F.lit(1), n - 1)
    bg = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i), F.element_at(toks, i + 1)
        ),
    )
    return F.when(n >= 2, bg).otherwise(F.array().cast("array<string>"))


def perplexity_score(
    docs_score: DataFrame,
    docs_train: DataFrame,
    keep_below_ppl: float = 1000.0,
) -> DataFrame:
    """CCNet-style n-gram LM perplexity filter: score each document's
    text under a bigram language model trained on a REFERENCE corpus,
    and keep documents whose perplexity sits below the threshold —
    the classic pretraining quality gate (train the LM on trusted
    text; crawl pages that look nothing like it score high perplexity
    and drop).

    Model: bigram MLE with add-1/2 (Jeffreys) smoothing,
    P(w2 | w1) = (c(w1 w2) + 0.5) / (c(w1 ·) + 0.5 V), V = train
    vocabulary size. Per doc: avg negative log-likelihood over its
    adjacent bigrams and ppl = exp(avg_nll). Deterministic integer
    counts + one ln/exp at the end — the same engine-exactness
    discipline as the BM25 scorer, so the DuckDB twin is hash-exact.

    Scale shape: training is two hash aggregates over the exploded
    train bigrams (counts, then per-context totals) plus one
    parameter-sized vocab count; scoring is an equijoin of the score
    side's exploded bigrams against the (gram, count) table — no pair
    space, no windows; AQE broadcasts the LM when it is small and
    shuffle-joins when it is not. At 100 TB the LM table is bounded
    by the TRAIN corpus's distinct bigrams, not by the data being
    scored.
    """
    spark = docs_score.sparkSession
    tr = docs_train.select(
        tokens(F.col("text")).alias("toks")
    ).localCheckpoint()
    tb = tr.select(F.explode(_bigram_array(F.col("toks"))).alias("gram"))
    big = (
        tb.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("c12"))
        .withColumn("w1", F.split(F.col("gram"), " ")[0])
    ).localCheckpoint()
    ctx = big.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab_size = (
        tr.select(F.explode("toks").alias("tk")).agg(
            F.countDistinct("tk")
        ).first()[0]
    ) or 1

    sb = (
        docs_score.select(
            "doc_id", tokens(F.col("text")).alias("toks")
        )
        .select(
            "doc_id", F.explode(_bigram_array(F.col("toks"))).alias("gram")
        )
        .withColumn("w1", F.split(F.col("gram"), " ")[0])
    )
    nll = -F.log(
        (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(0.5))
        / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(0.5) * F.lit(float(vocab_size)))
    )
    avg_nll = F.sum(nll) / F.count(F.lit(1))
    return (
        sb.join(big.select("gram", "c12"), "gram", "left")
        .join(ctx, "w1", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(avg_nll, 4).alias("avg_nll"),
            F.round(F.exp(avg_nll), 2).alias("ppl"),
            (F.exp(avg_nll) <= F.lit(keep_below_ppl)).alias("keep"),
        )
        .orderBy("doc_id")
    )


def q_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing: even doc_ids play the trusted reference corpus,
    odd doc_ids are the crawl being scored — every odd doc gets its
    bigram-LM perplexity and a keep verdict."""
    d = load(spark, sf_dir, "documents")
    return perplexity_score(
        d.where(F.col("doc_id") % 2 == 1),
        d.where(F.col("doc_id") % 2 == 0),
    )


def bm25_index_stats(spark: SparkSession, index_dir: str) -> DataFrame:
    """Health report for the BM25 store, one row per committed shard:
    (shard, n_docs, dl_sum, n_postings, n_buckets_used) plus one
    'deleted' summary row — when n_postings fragmentation grows or
    the deleted row dominates, ``compact_bm25_index`` is due. One
    shard-pruned aggregate over postings; shard-count-sized output."""
    meta = store_commit.read_json(_bm25_meta_path(index_dir))
    per_shard = {
        r["shard"]: r
        for r in _bm25_read_postings(spark, index_dir, meta)
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_postings"),
            F.countDistinct("bucket").alias("n_buckets_used"),
        )
        .collect()
    }
    rows = []
    for sid, s in meta["shards"].items():
        p = per_shard.get(sid)
        rows.append(
            (
                sid,
                s["n_docs"],
                s["dl_sum"],
                p["n_postings"] if p else 0,
                p["n_buckets_used"] if p else 0,
            )
        )
    deletes = meta.get("deletes", {})
    rows.append(
        (
            "deleted",
            sum(d["n_docs"] for d in deletes.values()),
            sum(d["dl_sum"] for d in deletes.values()),
            0,
            0,
        )
    )
    return spark.createDataFrame(
        rows,
        "shard string, n_docs long, dl_sum long, n_postings long, "
        "n_buckets_used long",
    )


def build_lm_store(train_docs: DataFrame, store_path: str) -> None:
    """Persist the bigram LM the perplexity gate scores against:
    (gram, c12) and (w1, c1) parquet tables plus a parameter-sized
    meta (vocab size). Train ONCE on the trusted reference corpus;
    every later shard scores against the store without touching the
    training data again — the standing-model pattern the BM25 and
    ANN stores already follow, on the quality axis."""
    tr = train_docs.select(tokens(F.col("text")).alias("toks")).localCheckpoint()
    big = (
        tr.select(F.explode(_bigram_array(F.col("toks"))).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("c12"))
        .withColumn("w1", F.split(F.col("gram"), " ")[0])
    )
    big.write.mode("overwrite").parquet(os.path.join(store_path, "bigrams"))
    (
        big.groupBy("w1")
        .agg(F.sum("c12").alias("c1"))
        .write.mode("overwrite")
        .parquet(os.path.join(store_path, "contexts"))
    )
    vocab_size = (
        tr.select(F.explode("toks").alias("tk")).agg(F.countDistinct("tk")).first()[0]
    ) or 1
    store_commit.write_json(
        os.path.join(store_path, "meta.json"), {"vocab_size": int(vocab_size)}
    )


def perplexity_score_from_store(
    docs_score: DataFrame, store_path: str, keep_below_ppl: float = 1000.0
) -> DataFrame:
    """Score documents against a persisted LM store — identical
    arithmetic (and output) to ``perplexity_score``, zero training
    work in the plan."""
    spark = docs_score.sparkSession
    vocab_size = store_commit.read_json(os.path.join(store_path, "meta.json"))[
        "vocab_size"
    ]
    big = spark.read.parquet(os.path.join(store_path, "bigrams"))
    ctx = spark.read.parquet(os.path.join(store_path, "contexts"))
    sb = (
        docs_score.select("doc_id", tokens(F.col("text")).alias("toks"))
        .select(
            "doc_id", F.explode(_bigram_array(F.col("toks"))).alias("gram")
        )
        .withColumn("w1", F.split(F.col("gram"), " ")[0])
    )
    nll = -F.log(
        (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(0.5))
        / (
            F.coalesce(F.col("c1"), F.lit(0))
            + F.lit(0.5) * F.lit(float(vocab_size))
        )
    )
    avg_nll = F.sum(nll) / F.count(F.lit(1))
    return (
        sb.join(big.select("gram", "c12"), "gram", "left")
        .join(ctx, "w1", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(avg_nll, 4).alias("avg_nll"),
            F.round(F.exp(avg_nll), 2).alias("ppl"),
            (F.exp(avg_nll) <= F.lit(keep_below_ppl)).alias("keep"),
        )
        .orderBy("doc_id")
    )


def _term_eq(term: str):
    """Unary element == literal lambda (factory, so the HOF sees a
    1-arg function — a 2-arg lambda would receive the INDEX as its
    second argument)."""
    return lambda x: x == F.lit(term)


def phrase_hits(toks: Column, phrase_terms: list[str]) -> Column:
    """Occurrence count of an exact token phrase inside a token array:
    per term j, an equality map over the array shifted by j, then a
    positionwise AND fold — pure JVM HOFs, map-only, O(len *
    phrase_len) per document, overlapping starts counted.

    Deliberately CAPTURE-FREE: no lambda references ``toks``. An
    element_at(toks, i) start-position scan re-evaluates the captured
    tokenizer expression per position once CollapseProject inlines it
    (HOF lambdas get no CSE) — O(len^2) interpreted work, measured 8x
    slower at sf0.1. slice/transform/zip_with take ``toks`` as a
    direct argument, so the tokenizer runs once per row per term.
    Short docs count zero (greatest() clamps the slice length)."""
    n = len(phrase_terms)
    length = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    eqs = [
        F.transform(F.slice(toks, j + 1, length), _term_eq(t))
        for j, t in enumerate(phrase_terms)
    ]
    acc = eqs[0]
    for e in eqs[1:]:
        acc = F.zip_with(acc, e, lambda a, b: a & b)
    return F.size(F.filter(acc, lambda x: x))


def reduce_and(conds: list[Column]) -> Column:
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def q_phrase_search(
    spark: SparkSession, sf_dir: str, phrase: str = "group order"
) -> DataFrame:
    """Exact-phrase retrieval over the corpus — the "find this exact
    quote" query a decontamination audit or takedown request runs
    (BM25 finds topical matches; THIS finds verbatim spans). Map-only:
    tokenize once, count phrase occurrences per doc with a
    start-position scan, keep hits. No shuffle but the final sort;
    at 100 TB it is one codegen'd pass over the corpus — or, when the
    corpus has the BM25 store, the terms' buckets prune candidates
    first and this verifies."""
    d = load(spark, sf_dir, "documents").withColumn(
        "toks", tokens(F.col("text"))
    )
    terms = phrase.split()
    return (
        d.select("doc_id", phrase_hits(F.col("toks"), terms).alias("n_hits"))
        .where(F.col("n_hits") > 0)
        .orderBy("doc_id")
    )


def phrase_search_from_index(
    spark: SparkSession, index_dir: str, phrase_terms: list[str]
) -> DataFrame:
    """Index-served exact-phrase retrieval: fetch ONLY the phrase
    terms' bucket partitions (the same pruning the BM25 scorer uses),
    align each candidate doc's per-term position lists, and count
    adjacency runs — position of term j must equal position of term 0
    plus j for every j. One bucket-pruned scan + one doc_id-grouped
    join; the corpus text is never read. Requires a positional store
    (shards written since positions shipped); raises a clear error on
    a legacy store. Tombstoned docs are excluded like every other
    read."""
    if len(phrase_terms) < 2:
        raise ValueError("phrase needs at least two terms")
    meta = store_commit.read_json(_bm25_meta_path(index_dir))
    bdf = (
        spark.createDataFrame([(t,) for t in set(phrase_terms)], "term string")
        .select(
            F.pmod(F.xxhash64("term"), F.lit(meta["n_buckets"]))
            .cast("int")
            .alias("bucket")
        )
        .distinct()
        .collect()
    )
    buckets = [r["bucket"] for r in bdf]
    qlit = F.array(*[F.lit(t) for t in phrase_terms])
    posts = _bm25_read_postings(spark, index_dir, meta)
    if "positions" not in posts.columns:
        raise ValueError(
            "store predates positional postings — rebuild or compact "
            "after re-ingesting to enable phrase search"
        )
    posts = posts.where(
        F.col("bucket").isin(buckets)
        & F.array_contains(qlit, F.col("term"))
    ).select("doc_id", "term", "positions")
    dead = _bm25_tombstones(spark, index_dir, meta)
    if dead is not None:
        posts = posts.join(dead, "doc_id", "left_anti")
    # Pivot the term rows per doc into one row of per-term position
    # lists, then count adjacency runs JVM-side. A doc_id re-ingested
    # across shards has one postings row PER SHARD for the same term —
    # union the lists (flatten + distinct), never pick an arbitrary
    # shard's (F.first across shards would undercount hits).
    per_doc = posts.groupBy("doc_id").agg(
        *[
            F.array_sort(
                F.array_distinct(
                    F.flatten(
                        F.collect_list(
                            F.when(F.col("term") == t, F.col("positions"))
                        )
                    )
                )
            ).alias(f"p{j}")
            for j, t in enumerate(phrase_terms)
        ]
    )
    # A doc missing ANY term cannot match (collect_list skipped every
    # row -> empty list after flatten).
    for j in range(len(phrase_terms)):
        per_doc = per_doc.where(F.size(F.col(f"p{j}")) > 0)
    starts = F.col("p0")
    run_ok = lambda i: reduce_and(  # noqa: E731
        [
            F.array_contains(F.col(f"p{j}"), i + j)
            for j in range(1, len(phrase_terms))
        ]
    )
    n_hits = F.size(F.filter(starts, run_ok))
    return (
        per_doc.select("doc_id", n_hits.alias("n_hits"))
        .where(F.col("n_hits") > 0)
        .orderBy("doc_id")
    )


def q_phrase_search_indexed(
    spark: SparkSession, sf_dir: str, phrase: str = "group order"
) -> DataFrame:
    """Driver-facing index-served phrase search: build the positional
    BM25 store into scratch, answer the same phrase as
    q_phrase_search from postings alone — same oracle, because the
    position-adjacency count is construction-identical to the live
    token scan."""
    import tempfile

    d = load(spark, sf_dir, "documents")
    index_dir = tempfile.mkdtemp(prefix="bm25_phrase_")
    build_bm25_index(d, index_dir)
    return phrase_search_from_index(spark, index_dir, phrase.split())


# --------------------------------------------------------------------------
# Count-Min sketch (mergeable frequency estimation)
# --------------------------------------------------------------------------

def countmin_table(
    items: DataFrame,
    item_col: str = "item",
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Build a Count-Min sketch over an item stream as a (row, bucket,
    c) table — the frequency member of the mergeable-sketch family
    next to HLL (distinct) and the equi-width bins (quantiles): counts
    are additive, so per-shard/per-day sketches merge by summing
    buckets, and the state is depth x width CELLS no matter how many
    distinct items the stream carries. That cardinality independence
    is the 100 TB point: exact token counts shuffle one row per
    DISTINCT key (billions); this shuffles at most depth x width.

    Hash row i uses the md5 of "<i>:<item>" (independent-enough rows,
    engine-reproducible — the DuckDB oracle recomputes them). Point
    estimates read min over rows: >= truth always, overshooting by
    <= e*N/width with probability 1 - (1/2)^depth (Cormode &
    Muthukrishnan 2005).
    """
    x = F.col(item_col).cast("string")
    rows = F.array(*[F.lit(i) for i in range(depth)])
    # Pre-aggregate to (distinct item, n) BEFORE hashing: md5 work
    # drops from depth x occurrences to depth x vocabulary (measured
    # 3.2 s -> 1.9 s on the token demo at sf0.1), and cell counts are
    # identical because counts are additive per item. The extra
    # aggregate is map-side combined and shuffles one row per
    # distinct key — still bounded, and the SKETCH (the thing that
    # ships) stays depth x width.
    counted = items.groupBy(x.alias("item")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        counted.select("item", "n", F.explode(rows).alias("row"))
        .select(
            "row",
            "n",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("row").cast("string"),
                                F.lit(":"),
                                F.col("item"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % width
            ).alias("bucket"),
        )
        .groupBy("row", "bucket")
        .agg(F.sum("n").alias("c"))
    )


def countmin_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    probe_col: str = "item",
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-estimate the probes' frequencies from a Count-Min table:
    each probe expands to its depth (row, bucket) cells, joins the
    sketch (broadcast — the sketch is parameter-sized), and takes the
    min over rows. Missing cells read 0 (an item that hashed to only
    empty cells never occurred)."""
    x = F.col(probe_col).cast("string")
    rows = F.array(*[F.lit(i) for i in range(depth)])
    cells = (
        probes.select(x.alias("item"), F.explode(rows).alias("row"))
        .select(
            "item",
            "row",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("row").cast("string"),
                                F.lit(":"),
                                F.col("item"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % width
            ).alias("bucket"),
        )
    )
    return (
        cells.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy("item")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("n_est"))
    )


def q_countmin_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing Count-Min demo with its honesty check inline:
    sketch every corpus token into 4 x 1024 cells, point-estimate ten
    known tokens, and emit the exact count next to the estimate — the
    overcount column IS the sketch's measured error (always >= 0; the
    one-sided CM guarantee)."""
    from datapoints_csv_extractor_spark.operators.relational import load

    d = load(spark, sf_dir, "documents").withColumn("toks", tokens(F.col("text")))
    toks = d.select(F.explode(F.col("toks")).alias("item"))
    sketch = countmin_table(toks)
    probe_terms = [
        "scan", "join", "order", "group", "value",
        "data", "key", "row", "window", "merge",
    ]
    probes = spark.createDataFrame(
        [(t,) for t in probe_terms], "item string"
    )
    est = countmin_estimate(sketch, probes)
    exact = (
        toks.join(F.broadcast(probes), "item")
        .groupBy("item")
        .agg(F.count("*").alias("n_exact"))
    )
    return (
        probes.join(est, "item", "left")
        .join(exact, "item", "left")
        .select(
            "item",
            F.coalesce(F.col("n_est"), F.lit(0)).alias("n_est"),
            F.coalesce(F.col("n_exact"), F.lit(0)).alias("n_exact"),
            (
                F.coalesce(F.col("n_est"), F.lit(0))
                - F.coalesce(F.col("n_exact"), F.lit(0))
            ).alias("overcount"),
        )
        .orderBy("item")
    )


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-QA fertility report per source: BPE-ish pieces per
    whitespace word (fertility — the number tokenizer evaluations
    report per language/domain; high fertility = the vocab fragments
    this source), bytes per piece, and the digit/punct piece shares
    that explain WHY a source is expensive to tokenize. One scan, one
    20-row aggregate; pure column arithmetic from exact integer sums
    so both engines agree to the rounded digit."""
    d = load(spark, sf_dir, "documents")
    pieces = F.regexp_extract_all(
        F.col("text"), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"), 0
    )
    per_doc = d.select(
        "source",
        F.size(pieces).cast("long").alias("n_pieces"),
        F.size(tokens(F.col("text"))).cast("long").alias("n_words"),
        F.length(F.col("text")).cast("long").alias("n_bytes"),
        F.size(F.filter(pieces, lambda p: p.rlike("^[0-9]+$")))
        .cast("long")
        .alias("n_digit"),
        F.size(
            F.filter(pieces, lambda p: p.rlike(r"^[^A-Za-z0-9\s]+$"))
        )
        .cast("long")
        .alias("n_punct"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.sum("n_pieces").alias("total_pieces"),
            F.sum("n_words").alias("total_words"),
            F.round(
                F.sum("n_pieces") / F.sum("n_words"), 4
            ).alias("fertility"),
            F.round(F.sum("n_bytes") / F.sum("n_pieces"), 4).alias(
                "bytes_per_piece"
            ),
            F.round(F.sum("n_digit") / F.sum("n_pieces"), 4).alias(
                "digit_share"
            ),
            F.round(F.sum("n_punct") / F.sum("n_pieces"), 4).alias(
                "punct_share"
            ),
        )
        .orderBy("source")
    )


def spacesaving_summaries(
    items: DataFrame, col: str = "item", capacity: int = 256
) -> DataFrame:
    """Per-partition space-saving (Metwally et al.) summaries: each
    partition tracks at most ``capacity`` counters in one pass and
    emits (pid, item, cnt, err, pmin) rows where cnt OVERESTIMATES the
    partition-local count, cnt - err UNDERESTIMATES it, and any item
    the partition did NOT track occurred at most ``pmin`` times there
    (the smallest tracked count; 0 when the partition never filled).
    A per-partition sentinel row (item NULL) carries ``pmin`` so the
    merge can bound untracked items even for partitions that tracked
    nothing relevant.

    This is the frequent-ITEMS sketch the engine's family was missing
    (Count-Min answers "how often is X?" — space-saving answers
    "WHICH items are frequent?"). State is bounded at ``capacity``
    counters per partition regardless of input size; the Python pass
    is Arrow-batched with a C-speed value_counts per batch feeding
    bulk counter updates (the bulk variant keeps both bounds: an
    evicted counter inherits min+c with err=min)."""
    import uuid

    import pandas as pd

    def summarize(batches):
        import heapq

        pid = uuid.uuid4().hex[:12]
        counts: dict = {}
        # Lazily-invalidated min-heap of (count-snapshot, item): an
        # eviction pops until a snapshot matches the live count, so
        # finding the minimum is O(log) amortized instead of an
        # O(capacity) scan per new item (the difference between fine
        # and 5e9 dict scans on a 10M-vocabulary partition). Stale
        # entries are bounded by rebuilding when the heap outgrows
        # 4x capacity — O(capacity) amortized over >= 3x capacity
        # pushes.
        heap: list = []
        filled = False

        def push(item) -> None:
            heapq.heappush(heap, (counts[item][0], item))
            if len(heap) > 4 * capacity:
                heap[:] = [(v[0], i) for i, v in counts.items()]
                heapq.heapify(heap)

        for pdf in batches:
            vc = pdf[col].dropna().value_counts()
            for item, c in vc.items():
                c = int(c)
                got = counts.get(item)
                if got is not None:
                    got[0] += c
                    push(item)
                elif len(counts) < capacity:
                    counts[item] = [c, 0]
                    push(item)
                else:
                    filled = True
                    while True:
                        snap, m_item = heapq.heappop(heap)
                        live = counts.get(m_item)
                        if live is not None and live[0] == snap:
                            break
                    m = counts.pop(m_item)[0]
                    counts[item] = [m + c, m]
                    push(item)
        pmin = (
            min((v[0] for v in counts.values()), default=0)
            if (filled or len(counts) >= capacity)
            else 0
        )
        rows = [(pid, item, v[0], v[1], pmin) for item, v in counts.items()]
        rows.append((pid, None, 0, 0, pmin))
        yield pd.DataFrame(
            rows, columns=["pid", "item", "cnt", "err", "pmin"]
        )

    return items.select(F.col(col).alias("item")).mapInPandas(
        summarize, "pid string, item string, cnt long, err long, pmin long"
    )


def heavy_hitters(
    items: DataFrame, col: str = "item", capacity: int = 256, k: int = 20
) -> DataFrame:
    """Top-``k`` frequent items with DETERMINISTIC count bounds from
    one distributed pass: merge the per-partition space-saving
    summaries so that for every reported item

        lower = sum(tracked cnt - err)            <= true count
        upper = sum(tracked cnt)
                + sum(pmin of partitions that did NOT track it) >= true count

    (an untracked item occurred at most pmin times in that
    partition). Every item with true count > sum(pmin) is guaranteed
    to be tracked somewhere and therefore reported as a candidate.
    Merge cost: the summaries are <= n_partitions x (capacity+1) rows
    — parameter-sized, one small groupBy + one broadcast-scale scalar,
    nothing proportional to the data."""
    summaries = spacesaving_summaries(items, col, capacity).localCheckpoint()
    return merge_spacesaving_summaries(summaries, k)


def merge_spacesaving_summaries(summaries: DataFrame, k: int = 20) -> DataFrame:
    """Merge (pid, item, cnt, err, pmin) space-saving summary rows —
    from one pass's partitions OR many batches' stored summaries (the
    bounds compose across any partitioning of the stream) — into the
    top-``k`` [lower, upper] brackets."""
    total_min = (
        summaries.select("pid", "pmin")
        .distinct()
        .agg(F.coalesce(F.sum("pmin"), F.lit(0)))
        .first()[0]
    )
    merged = (
        summaries.where(F.col("item").isNotNull())
        .groupBy("item")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("err").alias("err"),
            F.sum("pmin").alias("covered_min"),
        )
    )
    return (
        merged.select(
            "item",
            (F.col("cnt") - F.col("err")).alias("lower"),
            (F.col("cnt") + (F.lit(total_min) - F.col("covered_min"))).alias(
                "upper"
            ),
        )
        .orderBy(F.col("lower").desc(), "item")
        .limit(k)
    )


def q_heavy_hitter_tokens(
    spark: SparkSession, sf_dir: str, k: int = 20
) -> DataFrame:
    """Driver-facing space-saving demo with its honesty check inline
    (the Count-Min demo's discipline): the top-k corpus tokens by
    guaranteed lower bound, each with its exact count joined next to
    the [lower, upper] bracket — bracket_ok is the measured guarantee.
    Rows-only: the bracket depends on partition boundaries; the
    bracketing INVARIANT (never the luck of the layout) is what
    pytest pins."""
    from datapoints_csv_extractor_spark.operators.relational import load

    d = load(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens(F.col("text"))).alias("item"))
    hh = heavy_hitters(toks, capacity=512, k=k)
    exact = toks.groupBy("item").agg(F.count(F.lit(1)).alias("n_exact"))
    return (
        hh.join(exact, "item", "left")
        .select(
            "item",
            "lower",
            "upper",
            F.coalesce(F.col("n_exact"), F.lit(0)).alias("n_exact"),
            (
                (F.col("lower") <= F.col("n_exact"))
                & (F.col("n_exact") <= F.col("upper"))
            ).alias("bracket_ok"),
        )
        .orderBy(F.col("lower").desc(), "item")
    )


def q_heavy_hitters_ample(
    spark: SparkSession, sf_dir: str, k: int = 25
) -> DataFrame:
    """Space-saving under AMPLE capacity, oracle-exact: capacity is
    sized above the corpus's global distinct-token count (one
    distinct-count job, a driver scalar), so no partition ever
    evicts, every tracked counter is exact (err=0, pmin=0), and the
    merged [lower, upper] brackets collapse onto the true counts —
    the report IS the exact top-k by count. That makes the whole
    summarize -> merge machinery expressible as GROUP BY count /
    ORDER BY / LIMIT in ANSI SQL, turning the family's pytest-only
    bracketing invariant into a hash-exact DuckDB comparison (the
    starved-capacity behavior stays pinned in pytest, where partition
    layout is controlled). Fully deterministic: ties break on the
    token itself."""
    from datapoints_csv_extractor_spark.operators.relational import load

    d = load(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens(F.col("text"))).alias("item"))
    cap = toks.select("item").distinct().count() + 1
    return (
        heavy_hitters(toks, capacity=cap, k=k)
        .orderBy(F.col("lower").desc(), "item")
    )


def heavy_hitters_ample_oracle_sql(k: int = 25) -> str:
    """DuckDB twin of q_heavy_hitters_ample: with no evictions the
    space-saving brackets equal the exact token counts."""
    return f"""
        WITH toks AS (
            SELECT unnest(list_filter(string_split_regex(trim(text),
                   '\\s+'), x -> x <> '')) AS item
            FROM documents
        ), counts AS (
            SELECT item, count(*) AS n FROM toks GROUP BY item
        )
        SELECT item, n AS lower, n AS upper
        FROM counts
        ORDER BY lower DESC, item
        LIMIT {k}
    """


# --------------------------------------------------------------------------
# HTML -> text extraction (the step between WARC ingest and the filters)
# --------------------------------------------------------------------------

# Java-regex ∩ RE2 patterns: (?is) flags and lazy quantifiers are
# implemented identically by both engines; no lookaround, no backrefs.
_HEAD_RE = r"(?is)<head[^>]*>.*?</head>"
_SCRIPT_RE = r"(?is)<script[^>]*>.*?</script>"
_STYLE_RE = r"(?is)<style[^>]*>.*?</style>"
_COMMENT_RE = r"(?s)<!--.*?-->"
_BLOCK_RE = r"(?i)</p>|<br[^>]*>|</div>|</li>|</h[1-6]>|</tr>"
_TAG_RE = r"<[^>]+>"
_ANCHOR_RE = r"(?is)<a[^>]*>(.*?)</a>"
_TITLE_RE = r"(?is)<title[^>]*>(.*?)</title>"


def html_to_text(html: Column) -> Column:
    """Visible text of an HTML page — the extraction pass between
    ``sources.documents.read_documents_warc`` (which yields raw
    response bodies) and the text filters (C4/Gopher/lang-id), which
    all assume markup-free prose. Drops the head block (title/meta
    are metadata, not body text), script/style blocks and comments,
    replaces every remaining tag with a space (so
    ``a</p><p>b`` does not fuse into ``ab``) EXCEPT block
    boundaries (``</p> <br> </div> </li> </h1..6> </tr>``), which
    become newlines — line structure is load-bearing downstream: the
    C4 line filters and dup-line repetition signals judge lines, and
    an extractor that flattens a page to one line silently disables
    them. Decodes the six basic entities (``&amp;`` last, so
    ``&amp;lt;`` round-trips to the literal ``&lt;`` and is not
    double-decoded), collapses horizontal whitespace runs, strips
    spaces around newlines, and collapses blank-line runs. Pure JVM
    regexp chain — map-only, scan-speed at 100 TB, no Python."""
    t = F.regexp_replace(html, _HEAD_RE, " ")
    t = F.regexp_replace(t, _SCRIPT_RE, " ")
    t = F.regexp_replace(t, _STYLE_RE, " ")
    t = F.regexp_replace(t, _COMMENT_RE, " ")
    t = F.regexp_replace(t, _BLOCK_RE, "\n")
    t = F.regexp_replace(t, _TAG_RE, " ")
    for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                    ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&")):
        t = F.regexp_replace(t, ent, ch)
    t = F.regexp_replace(t, r"[ \t\r]+", " ")
    t = F.regexp_replace(t, r" ?\n ?", "\n")
    t = F.regexp_replace(t, r"\n+", "\n")
    # Explicit edge-trim (DuckDB's trim() strips spaces only, so the
    # oracle could not mirror F.trim's whitespace set).
    return F.regexp_replace(t, r"^\s+|\s+$", "")


def html_features(docs: DataFrame, html: Column) -> DataFrame:
    """Per-page extraction report: cleaned text, its length, the
    <title>, anchor count, and link-character density (raw captured
    anchor inner text over cleaned text chars — boilerplate-heavy
    navigation pages score high; the classic signal content
    extractors threshold on). One map-only projection."""
    anchors = F.regexp_extract_all(html, F.lit(_ANCHOR_RE), 1)
    link_chars = F.coalesce(
        F.aggregate(
            anchors, F.lit(0).cast("long"),
            lambda acc, a: acc + F.length(F.trim(a)),
        ),
        F.lit(0).cast("long"),
    )
    text = html_to_text(html)
    text_chars = F.length(text)
    return docs.select(
        "doc_id",
        html_to_text(F.regexp_extract(html, _TITLE_RE, 1)).alias("title"),
        text.alias("text_clean"),
        text_chars.cast("long").alias("text_chars"),
        F.size(anchors).alias("n_links"),
        F.round(
            link_chars / F.greatest(text_chars.cast("long"), F.lit(1).cast("long")), 4
        ).alias("link_char_frac"),
    ).orderBy("doc_id")


def _synthesize_html(d: DataFrame) -> DataFrame:
    """Deterministic HTML pages built from doc_id + the doc's own
    text (the augmentation idiom: the corpus ships plain prose, so
    both engines wrap it in identical markup first). Exercises every
    extraction rule: script/style/comment blocks, entities incl. the
    &amp;lt; double-decode trap, anchors, and a modular nav-heavy
    variant for the link-density signal."""
    did = F.col("doc_id")
    body = F.substring(F.col("text"), 1, 60)
    page = F.concat(
        F.lit("<html><head><title>Page "),
        (did % 17).cast("string"),
        F.lit(" &amp; friends</title>"),
        F.lit("<style>body { color: red; }</style>"),
        F.lit("<script>var x = 1 < 2;</script></head><body>"),
        F.lit("<!-- hidden comment -->"),
        F.lit("<p>"), body, F.lit("</p>"),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit('<nav><a href="/a">home sweet home</a>'),
                F.lit('<a href="/b">about &amp;lt;us&amp;gt;</a></nav>'),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 4 == 0,
            F.lit("<p>5 &lt; 7 &quot;quoted&quot; &#39;q&#39;&nbsp;end</p>"),
        ).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    return d.select("doc_id", page.alias("html"))


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing HTML extraction over synthesized pages (see
    ``_synthesize_html``): title, cleaned-text stats, link density."""
    from datapoints_csv_extractor_spark.operators.relational import load

    d = _synthesize_html(load(spark, sf_dir, "documents"))
    return html_features(d, F.col("html")).select(
        "doc_id", "title", "text_chars", "n_links", "link_char_frac",
        F.md5(F.col("text_clean")).alias("clean_md5"),
    )


def html_extract_oracle_sql() -> str:
    """DuckDB twin of q_html_extract: identical synthesis and regexp
    chain. The 11-deep nested regexp_replace is composed
    programmatically (paren-count mistakes in a hand-written nest
    are exactly the bug this avoids); DuckDB needs the explicit 'g'
    flag where Spark's regexp_replace is global by default."""
    steps = [
        (r"(?is)<head[^>]*>.*?</head>", " "),
        (r"(?is)<script[^>]*>.*?</script>", " "),
        (r"(?is)<style[^>]*>.*?</style>", " "),
        (r"(?s)<!--.*?-->", " "),
        (r"(?i)</p>|<br[^>]*>|</div>|</li>|</h[1-6]>|</tr>", "\n"),
        (r"<[^>]+>", " "),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&nbsp;", " "),
        ("&amp;", "&"),
        (r"[ \t\r]+", " "),
        (r" ?\n ?", "\n"),
        (r"\n+", "\n"),
        (r"^\s+|\s+$", ""),
    ]

    def chain(expr: str) -> str:
        for pat, rep in steps:
            # A newline replacement must reach DuckDB as chr(10) (a
            # plain '\n' literal would be the two chars backslash-n).
            rep_sql = "chr(10)" if rep == "\n" else (
                "'" + rep.replace("'", "''") + "'"
            )
            expr = (
                f"regexp_replace({expr}, '{pat}', {rep_sql}, 'g')"
            )
        return expr

    clean_html = chain("html")
    clean_title = chain(
        "coalesce(regexp_extract(html,"
        " '(?is)<title[^>]*>(.*?)</title>', 1), '')"
    )
    return rf"""
        WITH pages AS (
            SELECT doc_id,
                   '<html><head><title>Page '
                   || CAST(doc_id % 17 AS VARCHAR)
                   || ' &amp; friends</title>'
                   || '<style>body {{ color: red; }}</style>'
                   || '<script>var x = 1 < 2;</script></head><body>'
                   || '<!-- hidden comment -->'
                   || '<p>' || substring(text, 1, 60) || '</p>'
                   || CASE WHEN doc_id % 3 = 0 THEN
                        '<nav><a href="/a">home sweet home</a>'
                        || '<a href="/b">about &amp;lt;us&amp;gt;</a></nav>'
                        ELSE '' END
                   || CASE WHEN doc_id % 4 = 0 THEN
                        '<p>5 &lt; 7 &quot;quoted&quot; &#39;q&#39;&nbsp;end</p>'
                        ELSE '' END
                   || '</body></html>' AS html
            FROM documents
        ), cleaned AS (
            SELECT doc_id, html,
                   {clean_html} AS text_clean,
                   {clean_title} AS title,
                   regexp_extract_all(html, '(?is)<a[^>]*>(.*?)</a>', 1)
                       AS anchors
            FROM pages
        )
        SELECT doc_id, title,
               CAST(length(text_clean) AS BIGINT) AS text_chars,
               len(anchors) AS n_links,
               round(CAST(coalesce(list_sum(list_transform(anchors,
                         a -> length(trim(a)))), 0) AS BIGINT)
                     / greatest(CAST(length(text_clean) AS BIGINT), 1),
                     4) AS link_char_frac,
               md5(text_clean) AS clean_md5
        FROM cleaned ORDER BY doc_id
    """


def html_main_content(
    html: Column,
    min_block_chars: int = 30,
    max_link_frac: float = 0.4,
) -> Column:
    """Main-content text of an HTML page — block-level boilerplate
    removal in the jusText/Readability tradition: split the page at
    block boundaries (the same tag set html_to_text turns into
    newlines), score each block by cleaned-text length and LINK
    DENSITY (anchor-text chars / text chars), and keep only prose
    blocks (long enough, link-sparse). Navigation bars, footers, and
    related-links rails are short and link-dense — page-level link
    density (html_features) flags nav-heavy PAGES; this removes the
    nav blocks from mixed pages while keeping their article text.

    Whole chain is JVM HOFs over one split (every lambda touches
    only its own element — capture-free), map-only at any scale.
    Kept blocks join with newlines, matching html_to_text's block
    contract downstream (C4 line filters etc.)."""
    blocks = F.split(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(html, _HEAD_RE, " "), _SCRIPT_RE, " "
            ),
            _STYLE_RE,
            " ",
        ),
        _BLOCK_RE,
    )

    def clean(b: Column) -> Column:
        t = F.regexp_replace(b, _COMMENT_RE, " ")
        t = F.regexp_replace(t, _TAG_RE, " ")
        for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                        ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&")):
            t = F.regexp_replace(t, ent, ch)
        return F.trim(F.regexp_replace(t, r"\s+", " "))

    def link_chars(b: Column) -> Column:
        return F.coalesce(
            F.aggregate(
                F.regexp_extract_all(b, F.lit(_ANCHOR_RE), 1),
                F.lit(0).cast("long"),
                lambda acc, a: acc + F.length(F.trim(a)),
            ),
            F.lit(0).cast("long"),
        )

    scored = F.transform(
        blocks,
        lambda b: F.struct(
            clean(b).alias("txt"), link_chars(b).alias("lc")
        ),
    )
    kept = F.filter(
        scored,
        lambda s: (F.length(s["txt"]) >= min_block_chars)
        & (
            s["lc"]
            <= F.round(max_link_frac * F.length(s["txt"]), 0).cast("long")
        ),
    )
    return F.array_join(
        F.transform(kept, lambda s: s["txt"]), "\n"
    )


def q_html_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing main-content extraction over synthesized mixed
    pages: every page carries a link-dense nav block, a too-short
    stub block, and 1-2 prose paragraphs built from the doc's own
    text — only the prose must survive. Output pins the kept-block
    count and the exact main text (md5)."""
    from datapoints_csv_extractor_spark.operators.relational import load

    d = load(spark, sf_dir, "documents")
    did = F.col("doc_id")
    para1 = F.concat(
        F.lit("<p>Article body one: "),
        F.substring(F.col("text"), 1, 80),
        F.lit(".</p>"),
    )
    para2 = F.when(
        did % 3 != 0,
        F.concat(
            F.lit("<p>Article body two continues with "),
            F.substring(F.col("text"), 40, 60),
            F.lit(".</p>"),
        ),
    ).otherwise(F.lit(""))
    page = F.concat(
        F.lit('<html><head><title>x</title></head><body>'),
        F.lit('<div><a href="/a">home</a> <a href="/b">news</a> '
              '<a href="/c">sports page</a> <a href="/d">more links</a></div>'),
        para1,
        para2,
        F.lit("<p>ok.</p>"),  # too short -> dropped
        F.lit("</body></html>"),
    )
    main = html_main_content(page)
    return d.select(
        "doc_id",
        F.size(
            F.split(main, "\n")
        ).alias("n_kept_blocks"),
        F.length(main).cast("long").alias("main_chars"),
        F.md5(main).alias("main_md5"),
    ).orderBy("doc_id")


def html_main_content_oracle_sql(
    min_block_chars: int = 30, max_link_frac: float = 0.4
) -> str:
    """DuckDB twin of q_html_main_content: identical synthesis,
    block split, per-block clean/link-density scoring (the regexp
    chain is composed programmatically, as in
    html_extract_oracle_sql), filter, and newline join."""
    steps = [
        (r"(?s)<!--.*?-->", " "),
        (r"<[^>]+>", " "),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&nbsp;", " "),
        ("&amp;", "&"),
        (r"\s+", " "),
    ]

    def chain(expr: str) -> str:
        for pat, rep in steps:
            rep_sql = "'" + rep.replace("'", "''") + "'"
            expr = f"regexp_replace({expr}, '{pat}', {rep_sql}, 'g')"
        return f"trim({expr})"

    clean_b = chain("b")
    strip3 = (
        "regexp_replace(regexp_replace(regexp_replace(page, "
        "'(?is)<head[^>]*>.*?</head>', ' ', 'g'), "
        "'(?is)<script[^>]*>.*?</script>', ' ', 'g'), "
        "'(?is)<style[^>]*>.*?</style>', ' ', 'g')"
    )
    return rf"""
        WITH pages AS (
            SELECT doc_id,
                   '<html><head><title>x</title></head><body>'
                   || '<div><a href="/a">home</a> <a href="/b">news</a> '
                   || '<a href="/c">sports page</a> <a href="/d">more links</a></div>'
                   || '<p>Article body one: ' || substring(text, 1, 80)
                   || '.</p>'
                   || CASE WHEN doc_id % 3 != 0
                        THEN '<p>Article body two continues with '
                          || substring(text, 40, 60) || '.</p>'
                        ELSE '' END
                   || '<p>ok.</p>'
                   || '</body></html>' AS page
            FROM documents
        ), blocks AS (
            SELECT doc_id,
                   string_split_regex({strip3},
                       '(?i)</p>|<br[^>]*>|</div>|</li>|</h[1-6]>|</tr>')
                       AS bs
            FROM pages
        ), scored AS (
            SELECT doc_id,
                   list_transform(bs, b -> struct_pack(
                       txt := {clean_b},
                       lc := CAST(coalesce(list_sum(list_transform(
                           regexp_extract_all(b,
                               '(?is)<a[^>]*>(.*?)</a>', 1),
                           a -> length(trim(a)))), 0) AS BIGINT)))
                       AS sb
            FROM blocks
        ), kept AS (
            SELECT doc_id,
                   list_filter(sb, s ->
                       length(s.txt) >= {min_block_chars}
                       AND s.lc <= CAST(round({max_link_frac}
                           * length(s.txt), 0) AS BIGINT)) AS ks
            FROM scored
        ), main AS (
            SELECT doc_id,
                   array_to_string(list_transform(ks, s -> s.txt),
                                   chr(10)) AS m
            FROM kept
        )
        SELECT doc_id,
               len(string_split(m, chr(10))) AS n_kept_blocks,
               CAST(length(m) AS BIGINT) AS main_chars,
               md5(m) AS main_md5
        FROM main ORDER BY doc_id
    """


# --------------------------------------------------------------------------
# Character-entropy gibberish gate
# --------------------------------------------------------------------------

def q_char_entropy(
    spark: SparkSession,
    sf_dir: str,
    low: float = 2.0,
    high: float = 5.3,
) -> DataFrame:
    """Per-document Shannon character entropy (bits/char) with the
    band verdict — the cheapest gibberish detector in the curation
    stack: natural-language text sits in a narrow entropy band
    (~3.5-4.5 bits for English characters) while pathological inputs
    fall outside it on BOTH sides: `aaaa...` repetition collapses
    toward 0 and base64 / minified / random blobs push past ~5 bits.
    Quality stacks run this before any tokenizer because it needs no
    vocabulary. (The reference has no text analytics; north-star
    extension next to q_text_quality / q_repetition_signals.)

    Plan shape: one per-character explode with map-side partial
    aggregation — the shuffle carries (doc, char) PAIRS, so its volume
    is O(docs x alphabet), not O(corpus chars) — then a bounded
    per-doc fold. Per-character terms round to 6 dp and sum as
    DECIMAL(18,6) (the unigram-logprob order-independence discipline)
    so the entropy is engine-exact despite libm log2 appearing once
    per (doc, char)."""
    d = load(spark, sf_dir, "documents")
    # split(text, '') splits between every character in ONE linear
    # pass; the previous posexplode(sequence) + substring(text, i, 1)
    # form paid an O(i) UTF-8 seek per character = O(len^2) per
    # document. The ch != '' filter covers the empty-text edge, where
    # split('') yields [''] — and unlike sequence(1, 0) (which
    # DESCENDS in Spark, emitting two phantom '' rows) it matches the
    # oracle's generate_series(1, 0) = empty semantics exactly.
    chars = d.select(
        "doc_id", F.explode(F.split(F.col("text"), "")).alias("ch")
    ).where(F.col("ch") != "")
    counts = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("k"))
    totals = counts.groupBy("doc_id").agg(F.sum("k").alias("n"))
    term = F.round(
        -(F.col("k") / F.col("n")) * F.log2(F.col("k") / F.col("n")), 6
    ).cast("decimal(18,6)")
    return (
        counts.join(totals, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.max("n").alias("n_chars"),
            F.count("*").alias("distinct_chars"),
            F.round(F.sum(term).cast("double"), 4).alias("char_entropy"),
        )
        .withColumn(
            "pass_entropy",
            (F.col("char_entropy") >= F.lit(low))
            & (F.col("char_entropy") <= F.lit(high)),
        )
        .orderBy("doc_id")
    )


def char_entropy_oracle_sql(low: float = 2.0, high: float = 5.3) -> str:
    """DuckDB twin of q_char_entropy: identical per-character explode,
    identical rounded-decimal entropy fold."""
    return f"""
        WITH pos AS (
            SELECT doc_id, text,
                   unnest(generate_series(1, length(text))) AS g
            FROM documents
        ), chars AS (
            SELECT doc_id, substring(text, g, 1) AS ch FROM pos
        ), counts AS (
            SELECT doc_id, ch, count(*) AS k
            FROM chars GROUP BY 1, 2
        ), totals AS (
            SELECT doc_id, sum(k) AS n FROM counts GROUP BY 1
        ), folded AS (
            SELECT c.doc_id,
                   max(t.n) AS n_chars,
                   count(*) AS distinct_chars,
                   round(CAST(sum(CAST(round(
                       -(c.k / t.n) * log2(c.k / t.n), 6)
                       AS DECIMAL(18,6))) AS DOUBLE), 4) AS char_entropy
            FROM counts c JOIN totals t USING (doc_id)
            GROUP BY c.doc_id
        )
        SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
               distinct_chars, char_entropy,
               (char_entropy >= {low} AND char_entropy <= {high})
                   AS pass_entropy
        FROM folded ORDER BY doc_id
    """


# --------------------------------------------------------------------------
# Flesch reading-ease readability
# --------------------------------------------------------------------------

def q_flesch_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease per document (Flesch 1948) — the classic
    readability score curation stacks use as a grade-level quality
    dial next to the Gopher/C4 gates: 206.835 - 1.015*(words/
    sentences) - 84.6*(syllables/words), bucketed into the standard
    difficulty bands.

    Counting contract (all exact integers, both engines): words =
    whitespace tokens; sentences = [.!?]+ runs, floored at 1;
    syllables = [aeiouy]+ vowel runs per word floored at 1 per word —
    because vowel runs never cross whitespace, the per-word sum equals
    ONE regexp count over the whole text plus the number of
    zero-vowel words (counted by a second regexp over the token
    array), so the plan is map-only: no explode, no shuffle, three
    JVM regex counts per row. The final score is one double
    expression over those integers, rounded identically."""
    d = load(spark, sf_dir, "documents").withColumn(
        "toks", tokens(F.lower(F.col("text")))
    )
    n_words = F.greatest(F.size(F.col("toks")), F.lit(1))
    n_sentences = F.greatest(
        F.regexp_count(F.col("text"), F.lit(r"[.!?]+")), F.lit(1)
    )
    vowel_runs = F.regexp_count(F.lower(F.col("text")), F.lit("[aeiouy]+"))
    no_vowel_words = F.size(
        F.filter(F.col("toks"), lambda t: ~t.rlike("[aeiouy]"))
    )
    n_syllables = vowel_runs + no_vowel_words
    score = F.round(
        F.lit(206.835)
        - F.lit(1.015)
            * (n_words.cast("double") / n_sentences.cast("double"))
        - F.lit(84.6)
            * (n_syllables.cast("double") / n_words.cast("double")),
        4,
    )
    return d.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        n_sentences.cast("long").alias("n_sentences"),
        n_syllables.cast("long").alias("n_syllables"),
        score.alias("flesch"),
        F.when(score >= 60, F.lit("easy"))
        .when(score >= 30, F.lit("standard"))
        .otherwise(F.lit("difficult"))
        .alias("band"),
    ).orderBy("doc_id")


def flesch_readability_oracle_sql() -> str:
    """DuckDB twin of q_flesch_readability: identical regex counts and
    the identical one-expression score."""
    return """
        WITH counted AS (
            SELECT doc_id,
                   greatest(len(list_filter(
                       string_split_regex(trim(lower(text)), '\\s+'),
                       t -> t <> '')), 1) AS n_words,
                   greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                       AS n_sentences,
                   len(regexp_extract_all(lower(text), '[aeiouy]+'))
                   + len(list_filter(
                       string_split_regex(trim(lower(text)), '\\s+'),
                       t -> t <> '' AND NOT regexp_matches(t, '[aeiouy]')))
                       AS n_syllables
            FROM documents
        )
        SELECT doc_id,
               CAST(n_words AS BIGINT) AS n_words,
               CAST(n_sentences AS BIGINT) AS n_sentences,
               CAST(n_syllables AS BIGINT) AS n_syllables,
               round(206.835
                     - 1.015 * (CAST(n_words AS DOUBLE)
                                / CAST(n_sentences AS DOUBLE))
                     - 84.6 * (CAST(n_syllables AS DOUBLE)
                               / CAST(n_words AS DOUBLE)), 4) AS flesch,
               CASE WHEN round(206.835
                     - 1.015 * (CAST(n_words AS DOUBLE)
                                / CAST(n_sentences AS DOUBLE))
                     - 84.6 * (CAST(n_syllables AS DOUBLE)
                               / CAST(n_words AS DOUBLE)), 4) >= 60
                    THEN 'easy'
                    WHEN round(206.835
                     - 1.015 * (CAST(n_words AS DOUBLE)
                                / CAST(n_sentences AS DOUBLE))
                     - 84.6 * (CAST(n_syllables AS DOUBLE)
                               / CAST(n_words AS DOUBLE)), 4) >= 30
                    THEN 'standard'
                    ELSE 'difficult' END AS band
        FROM counted
        ORDER BY doc_id
    """


# --------------------------------------------------------------------------
# Smoothed-unigram negative sampling (contrastive-training prep)
# --------------------------------------------------------------------------

def negative_samples(
    docs: DataFrame,
    k: int = 3,
    alpha_num: int = 3,
    alpha_den: int = 4,
    cdf_buckets: int = 1024,
) -> DataFrame:
    """Frequency-smoothed unigram negative sampling (the word2vec
    P(t) ~ count(t)^0.75 table, Mikolov et al. 2013) — the batch
    construction step of every contrastive / noise-contrastive
    training pipeline: for each document, draw ``k`` negative tokens
    from the corpus unigram distribution raised to alpha = 3/4 (the
    exponent that keeps rare words reachable without letting
    stopwords dominate).

    Determinism + exactness: the coin for (doc, slot) is a 48-bit
    md5-prefix integer U (replay-stable, the mixture-resample
    discipline); token weights are round(cnt^0.75, 6) DECIMALs so the
    CDF is exact integer arithmetic, and the pick condition
    lo * 2^48 <= U * W < hi * 2^48 is an exact DECIMAL comparison —
    no float ever decides a sample, so the oracle reproduces every
    draw.

    Scale shape: the vocab CDF's prefix sum is computed in TWO
    PHASES — a per-bucket window (bucket = first token char, a RANGE
    of the global token order) plus a broadcast of the ~36 bucket
    offsets — so no global single-partition window touches the vocab.
    The sample -> vocab CDF lookup is the binned interval join
    (q_interval_overlap's shape): samples hash to one CDF bucket,
    vocab rows explode over the few buckets their interval spans, the
    exact DECIMAL range filter decides. Everything is equijoins over
    corpus-linear data; the only non-linear object is the
    ``cdf_buckets`` literal."""
    pairs = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    )
    vocab = pairs.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    return _ns_draw(docs, vocab, k, alpha_num, alpha_den, cdf_buckets)


def _ns_draw(
    docs: DataFrame,
    vocab: DataFrame,
    k: int,
    alpha_num: int = 3,
    alpha_den: int = 4,
    cdf_buckets: int = 1024,
) -> DataFrame:
    """The sampling core shared by the inline and store-backed paths:
    given a (token, cnt) table, build the exact-DECIMAL smoothed CDF
    and draw ``k`` negatives per doc (see negative_samples for the
    exactness and plan-shape contract)."""
    w_col = F.round(
        F.pow(F.col("cnt").cast("double"), F.lit(alpha_num / alpha_den)), 6
    ).cast("decimal(18,6)")
    vocab = vocab.withColumn("w", w_col).withColumn(
        "cbucket", F.substring("token", 1, 1)
    )
    in_bucket = Window.partitionBy("cbucket").orderBy("token").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    vocab = vocab.withColumn("cum_in", F.sum("w").over(in_bucket))
    totals = vocab.groupBy("cbucket").agg(F.sum("w").alias("btot"))
    off_w = Window.orderBy("cbucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = totals.select(
        "cbucket", (F.sum("btot").over(off_w) - F.col("btot")).alias("boff")
    )
    vocab = vocab.join(F.broadcast(offsets), "cbucket").select(
        "token",
        "cnt",
        "w",
        (F.col("cum_in") + F.col("boff")).alias("hi"),
        (F.col("cum_in") + F.col("boff") - F.col("w")).alias("lo"),
    )
    tot = vocab.agg(F.sum("w").alias("wtot"))
    scale = F.lit(2**48).cast("long")
    # Bucketing is per-engine plumbing: coverage only needs the SAME
    # monotone double map on both join sides within this engine; the
    # exact DECIMAL range filter decides membership.
    vocab_b = (
        vocab.crossJoin(F.broadcast(tot))
        .withColumn("lo_s", F.col("lo") * scale)
        .withColumn("hi_s", F.col("hi") * scale)
        .withColumn(
            "bwidth",
            (F.col("wtot") * scale).cast("double") / F.lit(float(cdf_buckets)),
        )
        .withColumn(
            "b",
            F.explode(
                F.sequence(
                    F.floor(F.col("lo_s").cast("double") / F.col("bwidth")),
                    F.floor(F.col("hi_s").cast("double") / F.col("bwidth")),
                )
            ),
        )
        .select("b", "token", "w", "lo_s", "hi_s")
    )
    samples = (
        docs.select("doc_id")
        .withColumn("slot", F.explode(F.sequence(F.lit(1), F.lit(k))))
        .withColumn(
            "u",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("doc_id").cast("string"),
                            F.lit(":"),
                            F.col("slot").cast("string"),
                        )
                    ),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("long"),
        )
        .crossJoin(F.broadcast(tot))
        .withColumn("target", F.col("u") * F.col("wtot"))
        .withColumn(
            "b",
            F.floor(
                F.col("target").cast("double")
                / ((F.col("wtot") * scale).cast("double") / F.lit(float(cdf_buckets)))
            ),
        )
    )
    picked = samples.join(vocab_b, "b").where(
        (F.col("target") >= F.col("lo_s")) & (F.col("target") < F.col("hi_s"))
    )
    p = F.round(
        F.col("w").cast("double") / F.col("wtot").cast("double"), 6
    )
    return picked.select(
        "doc_id",
        "slot",
        F.col("token").alias("neg_token"),
        p.alias("p_smoothed"),
    ).orderBy("doc_id", "slot")


def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing negative sampling over the documents corpus:
    three smoothed-unigram negatives per document."""
    return negative_samples(load(spark, sf_dir, "documents"), k=3)


def negative_sampling_oracle_sql(
    k: int = 3,
) -> str:
    """DuckDB twin of q_negative_sampling: identical weights and CDF
    (DECIMAL addition is order-independent, so a plain ordered window
    equals Spark's two-phase prefix sum), identical 48-bit coins, and
    a direct range join where Spark uses the bucketed form — the
    exact comparison decides in both engines."""
    return f"""
        WITH pairs AS (
            SELECT doc_id, unnest(list_filter(
                       string_split_regex(trim(text), '\\s+'),
                       t -> t <> '')) AS token
            FROM documents
        ), vocab AS (
            SELECT token, count(*) AS cnt,
                   CAST(round(pow(count(*), 0.75), 6) AS DECIMAL(18,6))
                       AS w
            FROM pairs GROUP BY token
        ), cdf AS (
            SELECT token, cnt, w,
                   sum(w) OVER (ORDER BY token
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS hi
            FROM vocab
        ), tot AS (
            SELECT sum(w) AS W FROM vocab
        ), samples AS (
            SELECT d.doc_id, gs.g AS slot,
                   ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)
                       || ':' || CAST(gs.g AS VARCHAR)), 1, 12))::BIGINT
                       AS u
            FROM (SELECT doc_id FROM documents) d,
                 generate_series(1, {k}) AS gs(g)
        )
        SELECT s.doc_id, s.slot, c.token AS neg_token,
               round(CAST(c.w AS DOUBLE) / CAST(t.W AS DOUBLE), 6)
                   AS p_smoothed
        FROM samples s
        CROSS JOIN tot t
        JOIN cdf c
          ON s.u * t.W >= (c.hi - c.w) * 281474976710656
         AND s.u * t.W < c.hi * 281474976710656
        ORDER BY s.doc_id, s.slot
    """


# --------------------------------------------------------------------------
# Corpus statistics: source concentration (Gini/Lorenz) and Zipf fit
# --------------------------------------------------------------------------

def q_source_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-concentration report — the Lorenz curve + Gini
    coefficient of per-source token mass: the mixture-health read
    that says whether "500 sources" really means 500 sources or three
    crawls wearing 497 hats (a concentrated corpus overfits its head
    sources no matter what the mixture plan claims). One row per
    source in ascending token order with its cumulative Lorenz share,
    plus the dataset Gini G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n.

    One token-count aggregate (map-side combined), then SOURCE-sized
    work: the rank window and integer folds run on one row per
    source. Exactness: everything is integer until one division per
    output column."""
    d = load(spark, sf_dir, "documents").withColumn(
        "toks", tokens(F.col("text"))
    )
    per = d.groupBy("source").agg(
        F.sum(F.size("toks").cast("long")).alias("n_tokens")
    )
    w = Window.orderBy("n_tokens", "source")
    ranked = per.withColumn("rank", F.row_number().over(w)).withColumn(
        "cum", F.sum("n_tokens").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
    )
    tot = ranked.agg(
        F.count(F.lit(1)).alias("n_src"),
        F.sum("n_tokens").alias("t_all"),
        F.sum(F.col("rank").cast("decimal(38,0)") * F.col("n_tokens"))
        .alias("weighted"),
    )
    gini = F.round(
        F.lit(2.0) * F.col("weighted").cast("double")
        / (F.col("n_src").cast("double") * F.col("t_all").cast("double"))
        - (F.col("n_src") + 1).cast("double") / F.col("n_src").cast("double"),
        6,
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            "rank",
            "source",
            "n_tokens",
            F.round(
                F.col("cum").cast("double") / F.col("t_all").cast("double"), 6
            ).alias("lorenz_share"),
            gini.alias("gini"),
        )
        .orderBy("rank")
    )


def source_concentration_oracle_sql() -> str:
    """DuckDB twin of q_source_concentration."""
    return """
        WITH per AS (
            SELECT source,
                   sum(len(list_filter(
                       string_split_regex(trim(text), '\\s+'),
                       t -> t <> ''))) AS n_tokens
            FROM documents GROUP BY source
        ), ranked AS (
            SELECT source, n_tokens,
                   row_number() OVER (ORDER BY n_tokens, source) AS rank,
                   sum(n_tokens) OVER (ORDER BY n_tokens, source
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum
            FROM per
        ), tot AS (
            SELECT count(*) AS n_src, sum(n_tokens) AS t_all,
                   sum(rank * n_tokens) AS weighted
            FROM ranked
        )
        SELECT r.rank, r.source,
               CAST(r.n_tokens AS BIGINT) AS n_tokens,
               round(CAST(r.cum AS DOUBLE) / CAST(t.t_all AS DOUBLE), 6)
                   AS lorenz_share,
               round(2.0 * CAST(t.weighted AS DOUBLE)
                     / (CAST(t.n_src AS DOUBLE) * CAST(t.t_all AS DOUBLE))
                     - CAST(t.n_src + 1 AS DOUBLE)
                       / CAST(t.n_src AS DOUBLE), 6) AS gini
        FROM ranked r CROSS JOIN tot t
        ORDER BY r.rank
    """


def q_zipf_fit(
    spark: SparkSession, sf_dir: str, top_ranks: int = 1000
) -> DataFrame:
    """Zipf rank-frequency fit — the corpus-health read that catches
    synthetic or template-heavy text before training: natural
    language's token frequencies follow count ~ rank^-s with s near
    1, so the OLS slope over (ln rank, ln count) for the head of the
    distribution is a one-number language-likeness dial (template
    spam flattens it; a stuck generator steepens it).

    One token-count aggregate, a deterministic top-``top_ranks``
    head (orderBy count desc, token — the literal cap bounds
    everything after the aggregate), then parameter-sized OLS.
    Exactness: per-rank ln terms round to 6 and their sums fold as
    DECIMAL, and the slope/intercept are one shared double expression
    over those exact sums."""
    d = load(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "token")
        .limit(top_ranks)
    )
    w = Window.orderBy(F.desc("cnt"), "token")
    ranked = counts.withColumn("rank", F.row_number().over(w))
    x = F.round(F.log(F.col("rank").cast("double")), 6).cast("decimal(18,6)")
    y = F.round(F.log(F.col("cnt").cast("double")), 6).cast("decimal(18,6)")
    xy = F.round(
        F.log(F.col("rank").cast("double"))
        * F.log(F.col("cnt").cast("double")),
        6,
    ).cast("decimal(18,6)")
    xx = F.round(
        F.log(F.col("rank").cast("double"))
        * F.log(F.col("rank").cast("double")),
        6,
    ).cast("decimal(18,6)")
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(xy).cast("double").alias("sxy"),
        F.sum(xx).cast("double").alias("sxx"),
    )
    n = F.col("n").cast("double")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("n").alias("n_ranks"),
        F.round(slope, 4).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / n, 4).alias(
            "intercept"
        ),
    )


def zipf_fit_oracle_sql(top_ranks: int = 1000) -> str:
    """DuckDB twin of q_zipf_fit: identical head, rounded-decimal ln
    sums, identical slope expression."""
    return f"""
        WITH counts AS (
            SELECT token, count(*) AS cnt
            FROM (
                SELECT unnest(list_filter(
                    string_split_regex(trim(text), '\\s+'),
                    t -> t <> '')) AS token
                FROM documents
            ) GROUP BY token
            ORDER BY cnt DESC, token
            LIMIT {top_ranks}
        ), ranked AS (
            SELECT cnt,
                   row_number() OVER (ORDER BY cnt DESC, token) AS rank
            FROM counts
        ), sums AS (
            SELECT count(*) AS n,
                   CAST(sum(CAST(round(ln(CAST(rank AS DOUBLE)), 6)
                       AS DECIMAL(18,6))) AS DOUBLE) AS sx,
                   CAST(sum(CAST(round(ln(CAST(cnt AS DOUBLE)), 6)
                       AS DECIMAL(18,6))) AS DOUBLE) AS sy,
                   CAST(sum(CAST(round(ln(CAST(rank AS DOUBLE))
                       * ln(CAST(cnt AS DOUBLE)), 6)
                       AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
                   CAST(sum(CAST(round(ln(CAST(rank AS DOUBLE))
                       * ln(CAST(rank AS DOUBLE)), 6)
                       AS DECIMAL(18,6))) AS DOUBLE) AS sxx
            FROM ranked
        )
        SELECT CAST(n AS BIGINT) AS n_ranks,
               round((CAST(n AS DOUBLE) * sxy - sx * sy)
                     / (CAST(n AS DOUBLE) * sxx - sx * sx), 4)
                   AS zipf_slope,
               round((sy - (CAST(n AS DOUBLE) * sxy - sx * sy)
                     / (CAST(n AS DOUBLE) * sxx - sx * sx) * sx)
                     / CAST(n AS DOUBLE), 4) AS intercept
        FROM sums
    """


def append_ns_vocab_shard(
    docs: DataFrame, store_dir: str, ingest_id: str
) -> None:
    """Fold one shard's token counts into the persisted
    negative-sampling vocabulary store — the incremental-lifecycle
    form of the word2vec table (the band-store discipline,
    operators/dedup.py): counts land under
    ``counts/ingest=<id>/`` (full overwrite, so a replayed ingest id
    is idempotent), and the id joins ``manifest.json`` through
    ``store_commit.update_json``, so readers never see a crashed
    partial. Token counts are ADDITIVE, which is the whole trick —
    the store never rewrites old shards and the CDF is derived at
    serve time from the committed sum."""
    import os

    from datapoints_csv_extractor_spark.operators.dedup import (
        EMPTY_MANIFEST,
        manifest_path,
        with_ingest,
    )

    counts = (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    counts.write.mode("overwrite").parquet(
        os.path.join(store_dir, "counts", f"ingest={ingest_id}")
    )
    store_commit.update_json(
        manifest_path(store_dir), with_ingest(ingest_id), EMPTY_MANIFEST
    )


def read_ns_vocab(spark: SparkSession, store_dir: str) -> DataFrame | None:
    """Committed vocabulary counts summed across ingests, or None when
    nothing is committed."""
    import os

    from datapoints_csv_extractor_spark.operators.dedup import (
        _read_manifest,
    )

    ids = _read_manifest(store_dir)
    if not ids:
        return None
    paths = [
        os.path.join(store_dir, "counts", f"ingest={i}") for i in ids
    ]
    return (
        spark.read.parquet(*paths)
        .groupBy("token")
        .agg(F.sum("cnt").alias("cnt"))
    )


def negative_samples_from_store(
    spark: SparkSession,
    store_dir: str,
    docs: DataFrame,
    k: int = 3,
    cdf_buckets: int = 1024,
) -> DataFrame:
    """Draw negatives against the PERSISTED vocabulary instead of
    rescanning the corpus — the serving path once the store holds the
    committed counts. Because counts are additive and the coins
    depend only on (doc_id, slot), a store fed shard by shard draws
    the IDENTICAL samples a single full-corpus pass would (pinned in
    pytest)."""
    vocab = read_ns_vocab(spark, store_dir)
    if vocab is None:
        raise ValueError(f"ns vocab store at {store_dir} has no commits")
    return _ns_draw(docs, vocab, k, cdf_buckets=cdf_buckets)


def q_source_jsd(
    spark: SparkSession, sf_dir: str, top_tokens: int = 300
) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between source token
    distributions — the symmetric, bounded [0, 1]-bit divergence the
    mixture planner reads to know which sources are near-duplicates
    of each other DISTRIBUTIONALLY (two crawls of the same site
    deserve one mixture slot, not two). PSI/KS cover per-series
    drift over time; this is the cross-SOURCE matrix.

    Vocabulary is the corpus-wide top-``top_tokens`` head (literal
    cap), so after one token aggregate the matrix work is
    sources^2 x top_tokens — parameter-sized. Laplace-smoothed
    (add-1 over the shared vocabulary) so absent tokens don't produce
    log(0). Exactness: probabilities are exact integer ratios, each
    JSD term rounds to 6 and folds as DECIMAL."""
    d = load(spark, sf_dir, "documents")
    pairs = d.select(
        "source", F.explode(tokens(F.col("text"))).alias("token")
    )
    head = (
        pairs.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "token")
        .limit(top_tokens)
        .select("token")
    )
    counts = (
        pairs.join(F.broadcast(head), "token")
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    grid = (
        counts.select("source").distinct()
        .crossJoin(F.broadcast(head))
        .join(counts, ["source", "token"], "left")
        .na.fill({"c": 0})
    )
    totals = grid.groupBy("source").agg(
        (F.sum("c") + F.lit(top_tokens)).alias("n_sm")
    )
    probs = grid.join(F.broadcast(totals), "source").select(
        "source",
        "token",
        ((F.col("c") + 1).cast("double") / F.col("n_sm").cast("double"))
        .alias("p"),
    )
    a = probs.select(
        F.col("source").alias("src_a"),
        "token",
        F.col("p").alias("pa"),
    )
    b = probs.select(
        F.col("source").alias("src_b"),
        "token",
        F.col("p").alias("pb"),
    )
    joined = a.join(b, "token").where(F.col("src_a") < F.col("src_b"))
    m = (F.col("pa") + F.col("pb")) / F.lit(2.0)
    term = F.round(
        (
            F.col("pa") * F.log2(F.col("pa") / m)
            + F.col("pb") * F.log2(F.col("pb") / m)
        )
        / F.lit(2.0),
        6,
    ).cast("decimal(18,6)")
    return (
        joined.groupBy("src_a", "src_b")
        .agg(F.round(F.sum(term).cast("double"), 6).alias("jsd_bits"))
        .orderBy("src_a", "src_b")
    )


def source_jsd_oracle_sql(top_tokens: int = 300) -> str:
    """DuckDB twin of q_source_jsd."""
    return f"""
        WITH pairs AS (
            SELECT source, unnest(list_filter(
                string_split_regex(trim(text), '\\s+'),
                t -> t <> '')) AS token
            FROM documents
        ), head AS (
            SELECT token FROM (
                SELECT token, count(*) AS cnt FROM pairs GROUP BY token
                ORDER BY cnt DESC, token LIMIT {top_tokens}
            )
        ), counts AS (
            SELECT p.source, p.token, count(*) AS c
            FROM pairs p JOIN head h USING (token)
            GROUP BY 1, 2
        ), grid AS (
            SELECT s.source, h.token, coalesce(c.c, 0) AS c
            FROM (SELECT DISTINCT source FROM counts) s
            CROSS JOIN head h
            LEFT JOIN counts c
              ON c.source = s.source AND c.token = h.token
        ), totals AS (
            SELECT source, sum(c) + {top_tokens} AS n_sm
            FROM grid GROUP BY source
        ), probs AS (
            SELECT g.source, g.token,
                   CAST(g.c + 1 AS DOUBLE) / CAST(t.n_sm AS DOUBLE) AS p
            FROM grid g JOIN totals t USING (source)
        )
        SELECT a.source AS src_a, b.source AS src_b,
               round(CAST(sum(CAST(round(
                   (a.p * log2(a.p / ((a.p + b.p) / 2.0))
                    + b.p * log2(b.p / ((a.p + b.p) / 2.0))) / 2.0, 6)
                   AS DECIMAL(18,6))) AS DOUBLE), 6) AS jsd_bits
        FROM probs a
        JOIN probs b ON a.token = b.token AND a.source < b.source
        GROUP BY 1, 2
        ORDER BY 1, 2
    """


def q_packing_efficiency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Context-length planning report — for each candidate window
    size, how much of the token budget padding would waste under
    naive one-doc-per-sequence batching vs how many documents must
    TRUNCATE: the two losses a context-length choice trades off, and
    the numbers that justify sequence packing (q_sequence_packing)
    when the waste column is large. One token-count scan, then one
    conditional aggregate per candidate length via a broadcast
    candidate dimension — the whole report is a single shuffle.

    Exactness: everything is integer arithmetic except the two final
    rate divisions."""
    d = load(spark, sf_dir, "documents").select(
        F.size(tokens(F.col("text"))).alias("n_tok")
    )
    ctxs = spark.createDataFrame(
        [(c,) for c in (128, 256, 512, 1024)], "ctx int"
    )
    joined = d.crossJoin(F.broadcast(ctxs))
    used = F.least(F.col("n_tok"), F.col("ctx"))
    pad = F.col("ctx") - used
    return (
        joined.groupBy("ctx")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_tok").cast("long")).alias("corpus_tokens"),
            F.sum((F.col("n_tok") > F.col("ctx")).cast("long")).alias(
                "n_truncated"
            ),
            F.sum(
                F.when(
                    F.col("n_tok") > F.col("ctx"),
                    F.col("n_tok") - F.col("ctx"),
                ).otherwise(0).cast("long")
            ).alias("tokens_truncated"),
            F.sum(pad.cast("long")).alias("tokens_padded"),
            F.round(
                F.sum(pad.cast("double"))
                / F.sum(F.col("ctx").cast("double")),
                6,
            ).alias("pad_fraction"),
            F.round(
                F.sum(
                    F.when(
                        F.col("n_tok") > F.col("ctx"),
                        F.col("n_tok") - F.col("ctx"),
                    ).otherwise(0).cast("double")
                )
                / F.sum(F.col("n_tok").cast("double")),
                6,
            ).alias("truncation_fraction"),
        )
        .orderBy("ctx")
    )


def packing_efficiency_oracle_sql() -> str:
    """DuckDB twin of q_packing_efficiency."""
    return """
        WITH d AS (
            SELECT len(list_filter(
                string_split_regex(trim(text), '\\s+'),
                t -> t <> '')) AS n_tok
            FROM documents
        ), ctxs AS (
            SELECT unnest([128, 256, 512, 1024]) AS ctx
        )
        SELECT ctx,
               count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS corpus_tokens,
               CAST(sum(CASE WHEN n_tok > ctx THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_truncated,
               CAST(sum(CASE WHEN n_tok > ctx THEN n_tok - ctx
                             ELSE 0 END) AS BIGINT) AS tokens_truncated,
               CAST(sum(ctx - least(n_tok, ctx)) AS BIGINT)
                   AS tokens_padded,
               round(CAST(sum(ctx - least(n_tok, ctx)) AS DOUBLE)
                     / CAST(sum(ctx) AS DOUBLE), 6) AS pad_fraction,
               round(CAST(sum(CASE WHEN n_tok > ctx THEN n_tok - ctx
                                   ELSE 0 END) AS DOUBLE)
                     / CAST(sum(n_tok) AS DOUBLE), 6)
                   AS truncation_fraction
        FROM d CROSS JOIN ctxs
        GROUP BY ctx
        ORDER BY ctx
    """


def q_distinct_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical-diversity report: type-token ratio and
    distinct-bigram ratio (distinct-1 / distinct-2, Li et al. 2016)
    — the standard degeneracy dials for synthetic/model-generated
    data (template-stamped or looping text shows a collapsed
    distinct-2 long before a human notices), plus docs-per-distinct-
    bigram as the cross-document repetition read.

    Plan: one explode per n over the tokenized corpus, then a
    groupBy(source) count + approx-free COUNT(DISTINCT) — both are
    single shuffles with map-side partial aggregation; the unigram
    and bigram legs run independently and join on the
    dimension-sized source key. Exact integer counts, one rounded
    division per ratio."""
    d = load(spark, sf_dir, "documents").withColumn(
        "toks", tokens(F.col("text"))
    )
    uni = (
        d.select("source", F.explode("toks").alias("tok"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("tok").alias("n_types"),
        )
    )
    bi = (
        d.select(
            "source",
            F.explode(
                F.when(
                    F.size("toks") >= 2,
                    F.transform(
                        F.sequence(F.lit(0), F.size("toks") - 2),
                        lambda i: F.concat_ws(
                            " ",
                            F.element_at(F.col("toks"), i + 1),
                            F.element_at(F.col("toks"), i + 2),
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("bigram"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.countDistinct("bigram").alias("n_distinct_bigrams"),
        )
    )
    return (
        uni.join(bi, "source")
        .select(
            "source",
            "n_tokens",
            "n_types",
            F.round(
                F.col("n_types").cast("double")
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("distinct_1"),
            "n_bigrams",
            "n_distinct_bigrams",
            F.round(
                F.col("n_distinct_bigrams").cast("double")
                / F.col("n_bigrams").cast("double"),
                6,
            ).alias("distinct_2"),
        )
        .orderBy("source")
    )


def distinct_ngrams_oracle_sql() -> str:
    return """
        WITH toked AS (
            SELECT source,
                   list_filter(string_split_regex(trim(text), '\\s+'),
                               t -> t <> '') AS toks
            FROM documents
        ), uni AS (
            SELECT source, count(*) AS n_tokens,
                   count(DISTINCT tok) AS n_types
            FROM (SELECT source, unnest(toks) AS tok FROM toked)
            GROUP BY source
        ), bi AS (
            SELECT source, count(*) AS n_bigrams,
                   count(DISTINCT bigram) AS n_distinct_bigrams
            FROM (
                SELECT source,
                       unnest(CASE WHEN len(toks) >= 2
                              THEN list_transform(
                                  range(1, len(toks)),
                                  i -> toks[i] || ' ' || toks[i + 1])
                              ELSE [] END) AS bigram
                FROM toked
            )
            GROUP BY source
        )
        SELECT u.source,
               CAST(u.n_tokens AS BIGINT) AS n_tokens,
               CAST(u.n_types AS BIGINT) AS n_types,
               round(CAST(u.n_types AS DOUBLE)
                     / CAST(u.n_tokens AS DOUBLE), 6) AS distinct_1,
               CAST(b.n_bigrams AS BIGINT) AS n_bigrams,
               CAST(b.n_distinct_bigrams AS BIGINT)
                   AS n_distinct_bigrams,
               round(CAST(b.n_distinct_bigrams AS DOUBLE)
                     / CAST(b.n_bigrams AS DOUBLE), 6) AS distinct_2
        FROM uni u JOIN bi b ON u.source = b.source
        ORDER BY u.source
    """


def q_bpe_train(
    spark: SparkSession, sf_dir: str, n_merges: int = 6
) -> DataFrame:
    """Byte-pair-encoding TOKENIZER TRAINING (Sennrich et al. 2016)
    over the corpus — the learn-the-merges half the engine was
    missing next to its BPE-ish token counter: ``n_merges``
    iterations of count-all-adjacent-symbol-pairs -> merge the
    most frequent pair everywhere. Output: the learned merge table
    (step, merge_left, merge_right, pair_freq), i.e. the tokenizer
    artifact a training pipeline ships.

    Plan (the classic two-level BPE shape, which is what makes it
    100 TB-safe): pair statistics are computed over the DISTINCT-
    WORD table weighted by word frequency — one corpus-sized
    explode+groupBy ONCE, then every Lloyd-like merge iteration
    touches only the dimension-sized word table (distinct words
    grow sublinearly in any natural corpus). Per iteration: one
    explode of adjacent pairs per distinct word, a groupBy(pair)
    sum with map-side combine, a parameter-sized argmax collect,
    and a map-only string rewrite; localCheckpoint truncates the
    growing lineage (the iterative-loop discipline).

    EXACTNESS (how a merge loop becomes oracle-checkable): word
    symbol state is a string with TWO-space separators, and a merge
    is replace(' l  o ', ' lo ') — left-to-right non-overlapping
    replace() has IDENTICAL semantics in Spark and DuckDB, and the
    double-space encoding makes boundary-sharing occurrences
    (' l o l o ') merge exactly like the canonical list walk while
    keeping 'a a a' -> 'aa a' (first-wins, skip). Pair counting
    counts overlapping adjacencies (Sennrich's get_stats). Argmax
    tie-break: freq DESC, then (left, right) lexicographic — fully
    deterministic, so the DuckDB oracle unrolls the same
    ``n_merges`` steps as CTEs (the LPA unrolled-oracle pattern)
    and every step's winner matches hash-exactly."""
    merges = bpe_train_merges(spark, sf_dir, n_merges)
    return spark.createDataFrame(
        merges,
        "step int, merge_left string, merge_right string, pair_freq long",
    ).orderBy("step")


def bpe_train_merges(
    spark: SparkSession, sf_dir: str, n_merges: int = 6
) -> list[tuple]:
    """The trainer loop behind q_bpe_train / q_bpe_apply: returns the
    parameter-sized merge list [(step, left, right, pair_freq)]."""
    d = load(spark, sf_dir, "documents").withColumn(
        "toks", tokens(F.col("text"))
    )
    words = (
        d.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            F.concat(
                F.lit("  "),
                F.array_join(F.split(F.col("w"), ""), "  "),
                F.lit("  </w>  "),
            ).alias("seq"),
            "freq",
        )
        .localCheckpoint()
    )
    merges = []
    for step in range(1, n_merges + 1):
        syms = F.array_remove(F.split(F.trim(F.col("seq")), r"\s+"), "")
        # Adjacent pairs via zip_with over two shifted slices, NOT a
        # transform indexing element_at(syms, i): interpreted HOFs
        # re-evaluate the full `syms` expression (split + trim + the
        # replace chain) once PER ELEMENT when it appears inside the
        # lambda, but only once per ROW as an argument — the lambda
        # below touches lambda variables only. Empty/1-symbol rows
        # zip two empty slices (the old when(size>=2) guard's
        # behavior).
        n_pairs = F.greatest(F.size(syms) - 1, F.lit(0))
        pairs = words.select(
            F.explode(
                F.zip_with(
                    F.slice(syms, 1, n_pairs),
                    F.slice(syms, 2, n_pairs),
                    lambda left, right: F.struct(
                        left.alias("l"), right.alias("r")
                    ),
                )
            ).alias("p"),
            "freq",
        )
        best = (
            pairs.groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .first()
        )
        if best is None:
            break
        merges.append((step, best["l"], best["r"], int(best["cnt"])))
        # The eager per-round checkpoint stays: dropping it (legal
        # only with the zip_with build above — the old element_at-in-
        # transform form re-evaluated the lazy replace chain once per
        # ELEMENT, 3x executor work measured) trimmed 6 stages but
        # measured flat-to-slightly-worse on both wall and work at
        # sf0.1; the flat `seq` attribute also keeps each round's
        # argmax scan trivially cheap at any scale.
        words = words.select(
            F.replace(
                F.col("seq"),
                F.lit(f" {best['l']}  {best['r']} "),
                F.lit(f" {best['l']}{best['r']} "),
            ).alias("seq"),
            "freq",
        ).localCheckpoint()
    return merges


def bpe_train_oracle_sql(n_merges: int = 6) -> str:
    """Unrolled n-step BPE oracle: each step re-derives pair counts
    from the previous word state, picks the same deterministic
    argmax, and rewrites with the same replace()."""
    parts = [
        """
        WITH w0 AS (
            SELECT '  ' || array_to_string(string_split_regex(w, ''),
                                           '  ')
                   || '  </w>  ' AS seq,
                   count(*) AS freq
            FROM (
                SELECT unnest(list_filter(
                           string_split_regex(trim(text), '\\s+'),
                           x -> x <> '')) AS w
                FROM documents
            )
            GROUP BY 1
        )"""
    ]
    for i in range(1, n_merges + 1):
        parts.append(f"""
        , p{i} AS (
            SELECT s[CAST(i AS BIGINT)] AS l,
                   s[CAST(i AS BIGINT) + 1] AS r,
                   sum(freq) AS cnt
            FROM (
                SELECT list_filter(string_split_regex(trim(seq),
                                                      '\\s+'),
                                   x -> x <> '') AS s,
                       freq,
                       unnest(range(1, len(list_filter(
                           string_split_regex(trim(seq), '\\s+'),
                           x -> x <> '')))) AS i
                FROM w{i - 1}
            )
            GROUP BY 1, 2
        ), b{i} AS (
            SELECT l, r, cnt FROM p{i}
            ORDER BY cnt DESC, l, r LIMIT 1
        ), w{i} AS (
            SELECT replace(w.seq, ' ' || b.l || '  ' || b.r || ' ',
                           ' ' || b.l || b.r || ' ') AS seq,
                   w.freq
            FROM w{i - 1} w, b{i} b
        )""")
    selects = " UNION ALL ".join(
        f"SELECT {i} AS step, l AS merge_left, r AS merge_right, "
        f"CAST(cnt AS BIGINT) AS pair_freq FROM b{i}"
        for i in range(1, n_merges + 1)
    )
    return "".join(parts) + f" SELECT * FROM ({selects}) ORDER BY step"


def q_bpe_apply(
    spark: SparkSession, sf_dir: str, n_merges: int = 6
) -> DataFrame:
    """The serving half of the BPE pair: tokenize the corpus with the
    merges q_bpe_train learned and report per-source FERTILITY —
    BPE tokens per word and characters per BPE token, the dials that
    decide context-window budgets and per-language cost when a
    tokenizer meets a corpus.

    Plan: merges are trained once (parameter-sized list, see
    bpe_train_merges), then applied as a chain of ``n_merges``
    map-only replace() rewrites over the DISTINCT (source, word)
    table — corpus text is touched once to build that table, and the
    apply work is dimension-sized (distinct words per source), the
    same two-level shape as training. Per-word token counts fold
    back weighted by occurrence count; exact integers, two rounded
    divisions per source. The oracle re-derives the identical merges
    (replace() parity, see q_bpe_train) and applies the same nested
    rewrite chain."""
    merges = bpe_train_merges(spark, sf_dir, n_merges)
    d = load(spark, sf_dir, "documents").withColumn(
        "toks", tokens(F.col("text"))
    )
    words = (
        d.select("source", F.explode("toks").alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    seq = F.concat(
        F.lit("  "),
        F.array_join(F.split(F.col("w"), ""), "  "),
        F.lit("  </w>  "),
    )
    for _, left, right, _f in merges:
        seq = F.replace(
            seq, F.lit(f" {left}  {right} "), F.lit(f" {left}{right} ")
        )
    syms = F.array_remove(F.split(F.trim(seq), r"\s+"), "")
    # A solitary trailing '</w>' attaches to the previous token for
    # counting; once merges fuse it into a token it counts there.
    n_toks = F.size(syms) - (
        F.element_at(syms, -1) == F.lit("</w>")
    ).cast("int")
    per_word = words.select(
        "source",
        "freq",
        (F.col("freq") * n_toks).alias("tok_occ"),
        (F.col("freq") * F.length("w")).alias("char_occ"),
    )
    return (
        per_word.groupBy("source")
        .agg(
            F.sum("freq").alias("n_words"),
            F.sum("tok_occ").alias("n_bpe_tokens"),
            F.sum("char_occ").alias("n_chars"),
        )
        .select(
            "source",
            "n_words",
            "n_bpe_tokens",
            "n_chars",
            F.round(
                F.col("n_bpe_tokens").cast("double")
                / F.col("n_words").cast("double"),
                6,
            ).alias("tokens_per_word"),
            F.round(
                F.col("n_chars").cast("double")
                / F.col("n_bpe_tokens").cast("double"),
                6,
            ).alias("chars_per_token"),
        )
        .orderBy("source")
    )


def bpe_apply_oracle_sql(n_merges: int = 6) -> str:
    """Re-derives the merges with the trainer's unrolled CTEs, then
    applies them as a nested replace() chain over the distinct
    (source, word) table."""
    train = bpe_train_oracle_sql(n_merges)
    # Reuse the trainer's CTE prefix (everything before the final
    # SELECT) so both oracles share one derivation — no drift.
    prefix = train[: train.rindex(" SELECT * FROM (")]
    expr = "'  ' || array_to_string(string_split_regex(w, ''), '  ') || '  </w>  '"
    for i in range(1, n_merges + 1):
        expr = (
            f"replace({expr}, (SELECT ' ' || l || '  ' || r || ' ' "
            f"FROM b{i}), (SELECT ' ' || l || r || ' ' FROM b{i}))"
        )
    return f"""{prefix}
        , sw AS (
            SELECT source, w, count(*) AS freq FROM (
                SELECT source,
                       unnest(list_filter(
                           string_split_regex(trim(text), '\\s+'),
                           x -> x <> '')) AS w
                FROM documents
            )
            GROUP BY source, w
        ), applied AS (
            SELECT source, freq, length(w) AS n_chars_w,
                   len(list_filter(string_split_regex(trim({expr}),
                                                      '\\s+'),
                       x -> x <> ''))
                   - CASE WHEN list_filter(string_split_regex(
                              trim({expr}), '\\s+'),
                              x -> x <> '')[-1] = '</w>'
                          THEN 1 ELSE 0 END AS n_toks
            FROM sw
        )
        SELECT source,
               CAST(sum(freq) AS BIGINT) AS n_words,
               CAST(sum(freq * n_toks) AS BIGINT) AS n_bpe_tokens,
               CAST(sum(freq * n_chars_w) AS BIGINT) AS n_chars,
               round(CAST(sum(freq * n_toks) AS DOUBLE)
                     / CAST(sum(freq) AS DOUBLE), 6) AS tokens_per_word,
               round(CAST(sum(freq * n_chars_w) AS DOUBLE)
                     / CAST(sum(freq * n_toks) AS DOUBLE), 6)
                   AS chars_per_token
        FROM applied
        GROUP BY source
        ORDER BY source
    """


def q_ams_f2(
    spark: SparkSession, sf_dir: str, n_estimators: int = 16
) -> DataFrame:
    """AMS second-frequency-moment sketch (Alon-Matias-Szegedy 1996,
    the result that started streaming sketches): estimate
    F2 = sum_w f_w^2 of the token-frequency vector per source from
    ``n_estimators`` +-1-hash counters, next to the exact F2 for the
    error read. F2 is the self-join size of the token table — the
    skew dial that prices shuffle joins and repetition-heavy sources
    (F2/F1^2 is a concentration read the datacard wants).

    Sketch math: Z_i = sum_w f_w s_i(w) with 4-wise-ish signs from
    the seeded md5 coin; E[Z_i^2] = F2. The estimate is the MEDIAN
    of the 16 Z_i^2 (median-of-estimates is the AMS variance
    control; with even n, the mean of the two middle order
    statistics). Everything is exact integers until one final
    division: signs are +-1, Z_i folds as BIGINT, Z_i^2 exact, the
    median of BIGINTs has one /2.0.

    Plan: signs are computed on the DISTINCT (source, token)
    frequency table (two-level — the corpus is touched once), then
    a 16x explode keeps the estimator dimension in rows, one
    groupBy(source, estimator) sum, one per-source sorted-array
    fold. All dimension-sized after the first aggregate."""
    d = load(spark, sf_dir, "documents").withColumn(
        "toks", tokens(F.col("text"))
    )
    freq = (
        d.select("source", F.explode("toks").alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("f"))
        .localCheckpoint()  # feeds the exact-F2 and the sketch legs
    )
    exact = freq.groupBy("source").agg(
        F.sum(F.col("f") * F.col("f")).alias("f2_true"),
        F.sum("f").alias("n_tokens"),
    )
    est = freq.select(
        "source",
        "tok",
        "f",
        F.explode(
            F.array(*[F.lit(i) for i in range(n_estimators)])
        ).alias("i"),
    )
    sign = F.when(
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.lit("ams"), F.col("i"), F.col("tok")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 2
        == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))
    z = est.groupBy("source", "i").agg(
        F.sum(F.col("f") * sign).alias("z")
    )
    sk = z.groupBy("source").agg(
        F.array_sort(F.collect_list(F.col("z") * F.col("z"))).alias(
            "ests"
        )
    )
    lo = F.element_at(F.col("ests"), n_estimators // 2)
    hi = F.element_at(F.col("ests"), n_estimators // 2 + 1)
    f2_ams = (lo + hi).cast("double") / 2.0
    return (
        exact.join(sk, "source")
        .select(
            "source",
            "n_tokens",
            "f2_true",
            F.round(f2_ams, 1).alias("f2_ams"),
            F.round(
                (f2_ams - F.col("f2_true").cast("double"))
                / F.col("f2_true").cast("double"),
                4,
            ).alias("rel_error"),
        )
        .orderBy("source")
    )


def ams_f2_oracle_sql(n_estimators: int = 16) -> str:
    return f"""
        WITH freq AS (
            SELECT source, tok, count(*) AS f FROM (
                SELECT source,
                       unnest(list_filter(
                           string_split_regex(trim(text), '\\s+'),
                           x -> x <> '')) AS tok
                FROM documents
            )
            GROUP BY source, tok
        ), exact AS (
            SELECT source, sum(f * f) AS f2_true, sum(f) AS n_tokens
            FROM freq GROUP BY source
        ), z AS (
            SELECT source, i,
                   sum(f * CASE WHEN ('0x' || substring(md5(
                           'ams:' || CAST(i AS VARCHAR) || ':' || tok),
                           1, 8))::BIGINT % 2 = 0
                           THEN 1 ELSE -1 END) AS z
            FROM freq,
                 (SELECT unnest(range(0, {n_estimators})) AS i)
            GROUP BY source, i
        ), sk AS (
            SELECT source, list_sort(list(z * z)) AS ests
            FROM z GROUP BY source
        )
        SELECT e.source,
               CAST(e.n_tokens AS BIGINT) AS n_tokens,
               CAST(e.f2_true AS BIGINT) AS f2_true,
               round(CAST(sk.ests[{n_estimators // 2}]
                          + sk.ests[{n_estimators // 2 + 1}] AS DOUBLE)
                     / 2.0, 1) AS f2_ams,
               round((CAST(sk.ests[{n_estimators // 2}]
                           + sk.ests[{n_estimators // 2 + 1}] AS DOUBLE)
                      / 2.0 - CAST(e.f2_true AS DOUBLE))
                     / CAST(e.f2_true AS DOUBLE), 4) AS rel_error
        FROM exact e JOIN sk ON e.source = sk.source
        ORDER BY e.source
    """


def q_heaps_law(
    spark: SparkSession, sf_dir: str, n_checkpoints: int = 10
) -> DataFrame:
    """Heaps'-law vocabulary-growth fit: V(N) ~ K * N^beta over
    ``n_checkpoints`` doc-order prefixes of the corpus — the
    companion dial to the in-window Zipf fit (Zipf reads the
    frequency head; Heaps reads how fast NEW types keep arriving,
    which is what sizes tokenizer vocabularies and predicts
    out-of-vocabulary rates as a corpus grows).

    Plan (single-pass, no 10x re-scan): each document maps to the
    FIRST checkpoint whose doc-id threshold covers it, each word to
    the checkpoint of its FIRST occurrence (one groupBy(word) min) —
    then cumulative sums over the 10-row checkpoint grid give exact
    prefix token counts and vocabulary sizes. The log-log OLS fit
    folds rounded-6 ln terms as DECIMALs over the 10-row grid (the
    q_zipf_fit discipline), so slope and intercept are
    engine-identical."""
    d = load(spark, sf_dir, "documents").withColumn(
        "toks", tokens(F.col("text"))
    )
    per_doc = d.select("doc_id", F.size("toks").alias("n_toks"))
    firsts = (
        d.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    m = per_doc.agg(F.max("doc_id").alias("m"))

    def jmin(idcol):
        arr = F.transform(
            F.sequence(F.lit(1), F.lit(n_checkpoints)),
            lambda j: F.floor(
                F.col("m").cast("double") * j / F.lit(n_checkpoints)
            ),
        )
        return (
            F.lit(1)
            + F.size(F.filter(arr, lambda t: t < idcol))
        ).alias("j")

    docs_g = (
        per_doc.crossJoin(F.broadcast(m))
        .select(jmin(F.col("doc_id")), "n_toks")
        .groupBy("j")
        .agg(F.sum("n_toks").alias("toks_new"))
    )
    words_g = (
        firsts.crossJoin(F.broadcast(m))
        .select(jmin(F.col("first_doc")))
        .groupBy("j")
        .agg(F.count(F.lit(1)).alias("vocab_new"))
    )
    grid = (
        spark.range(1, n_checkpoints + 1)
        .select(F.col("id").cast("int").alias("j"))
        .join(docs_g, "j", "left")
        .join(words_g, "j", "left")
        .na.fill({"toks_new": 0, "vocab_new": 0})
    )
    wcum = Window.orderBy("j").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = grid.select(
        "j",
        F.sum("toks_new").over(wcum).alias("n_tokens"),
        F.sum("vocab_new").over(wcum).alias("vocab"),
    )
    lx = F.round(F.log(F.col("n_tokens").cast("double")), 6)
    ly = F.round(F.log(F.col("vocab").cast("double")), 6)
    pts = cum.select(
        "j", "n_tokens", "vocab", lx.alias("lx"), ly.alias("ly")
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    dec = lambda c: c.cast("decimal(18,6)")  # noqa: E731
    n = F.count(F.lit(1)).over(wall).cast("double")
    sx = F.sum(dec(F.col("lx"))).over(wall).cast("double")
    sy = F.sum(dec(F.col("ly"))).over(wall).cast("double")
    sxy = F.sum(dec(F.round(F.col("lx") * F.col("ly"), 6))).over(
        wall
    ).cast("double")
    sxx = F.sum(dec(F.round(F.col("lx") * F.col("lx"), 6))).over(
        wall
    ).cast("double")
    beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return pts.select(
        "j",
        "n_tokens",
        "vocab",
        F.round(beta, 6).alias("heaps_beta"),
        F.round(F.exp((sy - beta * sx) / n), 4).alias("heaps_k"),
    ).orderBy("j")


def heaps_law_oracle_sql(n_checkpoints: int = 10) -> str:
    k = n_checkpoints
    return f"""
        WITH d AS (
            SELECT doc_id,
                   list_filter(string_split_regex(trim(text), '\\s+'),
                               x -> x <> '') AS toks
            FROM documents
        ), m AS (SELECT max(doc_id) AS m FROM d),
        per_doc AS (
            SELECT doc_id, len(toks) AS n_toks FROM d
        ), firsts AS (
            SELECT tok, min(doc_id) AS first_doc FROM (
                SELECT doc_id, unnest(toks) AS tok FROM d
            ) GROUP BY tok
        ), docs_g AS (
            SELECT 1 + len(list_filter(
                       list_transform(range(1, {k} + 1),
                           j -> floor(CAST(m.m AS DOUBLE) * j / {k})),
                       t -> t < doc_id)) AS j,
                   sum(n_toks) AS toks_new
            FROM per_doc, m GROUP BY 1
        ), words_g AS (
            SELECT 1 + len(list_filter(
                       list_transform(range(1, {k} + 1),
                           j -> floor(CAST(m.m AS DOUBLE) * j / {k})),
                       t -> t < first_doc)) AS j,
                   count(*) AS vocab_new
            FROM firsts, m GROUP BY 1
        ), grid AS (
            SELECT CAST(g.j AS INT) AS j,
                   coalesce(d.toks_new, 0) AS toks_new,
                   coalesce(w.vocab_new, 0) AS vocab_new
            FROM (SELECT unnest(range(1, {k} + 1)) AS j) g
            LEFT JOIN docs_g d ON d.j = g.j
            LEFT JOIN words_g w ON w.j = g.j
        ), cum AS (
            SELECT j,
                   sum(toks_new) OVER (ORDER BY j) AS n_tokens,
                   sum(vocab_new) OVER (ORDER BY j) AS vocab
            FROM grid
        ), pts AS (
            SELECT j, n_tokens, vocab,
                   round(ln(CAST(n_tokens AS DOUBLE)), 6) AS lx,
                   round(ln(CAST(vocab AS DOUBLE)), 6) AS ly
            FROM cum
        ), fit AS (
            SELECT CAST(count(*) AS DOUBLE) AS n,
                   CAST(sum(CAST(lx AS DECIMAL(18,6))) AS DOUBLE) AS sx,
                   CAST(sum(CAST(ly AS DECIMAL(18,6))) AS DOUBLE) AS sy,
                   CAST(sum(CAST(round(lx * ly, 6) AS DECIMAL(18,6)))
                        AS DOUBLE) AS sxy,
                   CAST(sum(CAST(round(lx * lx, 6) AS DECIMAL(18,6)))
                        AS DOUBLE) AS sxx
            FROM pts
        )
        SELECT pts.j, CAST(pts.n_tokens AS BIGINT) AS n_tokens,
               CAST(pts.vocab AS BIGINT) AS vocab,
               round((fit.n * fit.sxy - fit.sx * fit.sy)
                     / (fit.n * fit.sxx - fit.sx * fit.sx), 6)
                   AS heaps_beta,
               round(exp((fit.sy - (fit.n * fit.sxy - fit.sx * fit.sy)
                          / (fit.n * fit.sxx - fit.sx * fit.sx)
                          * fit.sx) / fit.n), 4) AS heaps_k
        FROM pts, fit
        ORDER BY pts.j
    """


def q_script_mix(
    spark: SparkSession, sf_dir: str, plant_mod: int = 17
) -> DataFrame:
    """Unicode script-mix census: per-document counts of Latin, CJK,
    Cyrillic, Arabic, digit and other characters, rolled up per
    source — the lang-id adjunct that catches what an n-gram model
    can't (mixed-script spam, wrong-script injections inside an
    'en' page, mojibake that survived repair) and the routing dial
    for per-script tokenizer branches.

    The corpus is ASCII, so two script tails are PLANTED per
    ``plant_mod`` cycle (the dirty-twin discipline). Counting is a
    single JVM-side filter over the char array per range — a
    SINGLE-CHARACTER string comparison is a code-point comparison
    in both engines (no regex unicode-class dialect to disagree
    over), so every count is an exact integer in both. Map-only +
    one rollup."""
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    planted = (
        F.when(
            F.col("doc_id") % plant_mod == 3,
            F.concat(F.col("text"), F.lit(" Привет мир")),
        )
        .when(
            F.col("doc_id") % plant_mod == 5,
            F.concat(F.col("text"), F.lit(" 你好世界 مرحبا")),
        )
        .otherwise(F.col("text"))
    )
    chars = F.split(planted, "")

    def in_range(lo, hi):
        return F.size(
            F.filter(chars, lambda c: (c >= F.lit(lo)) & (c <= F.lit(hi)))
        )

    latin = in_range("A", "Z") + in_range("a", "z")
    digit = in_range("0", "9")
    cjk = in_range("一", "鿿")
    cyrillic = in_range("Ѐ", "ӿ")
    arabic = in_range("؀", "ۿ")
    per_doc = d.select(
        "source",
        F.length(planted).alias("n_chars"),
        latin.alias("latin"),
        digit.alias("digit"),
        cjk.alias("cjk"),
        cyrillic.alias("cyrillic"),
        arabic.alias("arabic"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.sum("n_chars").alias("n_chars"),
            F.sum("latin").alias("n_latin"),
            F.sum("digit").alias("n_digit"),
            F.sum("cjk").alias("n_cjk"),
            F.sum("cyrillic").alias("n_cyrillic"),
            F.sum("arabic").alias("n_arabic"),
            F.sum(
                (F.col("cjk") + F.col("cyrillic") + F.col("arabic") > 0)
                .cast("long")
            ).alias("n_docs_nonlatin_script"),
        )
        .orderBy("source")
    )


def script_mix_oracle_sql(plant_mod: int = 17) -> str:
    rng = (
        "len(list_filter(string_split_regex(text, ''), "
        "c -> c >= '{lo}' and c <= '{hi}'))"
    )
    return f"""
        WITH planted AS (
            SELECT source,
                   CASE WHEN doc_id % {plant_mod} = 3
                        THEN text || ' Привет мир'
                        WHEN doc_id % {plant_mod} = 5
                        THEN text || ' 你好世界 مرحبا'
                        ELSE text END AS text
            FROM documents
        ), per_doc AS (
            SELECT source, length(text) AS n_chars,
                   {rng.format(lo='A', hi='Z')}
                   + {rng.format(lo='a', hi='z')} AS latin,
                   {rng.format(lo='0', hi='9')} AS digit,
                   {rng.format(lo=chr(0x4E00), hi=chr(0x9FFF))} AS cjk,
                   {rng.format(lo=chr(0x0400), hi=chr(0x04FF))}
                       AS cyrillic,
                   {rng.format(lo=chr(0x0600), hi=chr(0x06FF))}
                       AS arabic
            FROM planted
        )
        SELECT source,
               CAST(sum(n_chars) AS BIGINT) AS n_chars,
               CAST(sum(latin) AS BIGINT) AS n_latin,
               CAST(sum(digit) AS BIGINT) AS n_digit,
               CAST(sum(cjk) AS BIGINT) AS n_cjk,
               CAST(sum(cyrillic) AS BIGINT) AS n_cyrillic,
               CAST(sum(arabic) AS BIGINT) AS n_arabic,
               CAST(sum(CAST(cjk + cyrillic + arabic > 0 AS BIGINT))
                    AS BIGINT) AS n_docs_nonlatin_script
        FROM per_doc GROUP BY source
        ORDER BY source
    """


def q_countmin_sketch(
    spark: SparkSession,
    sf_dir: str,
    depth: int = 4,
    width: int = 256,
    top_k: int = 10,
) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) over the token
    stream, reported against exact counts for the corpus's top
    tokens — the third leg of the sketch family (space-saving tracks
    WHO is frequent, AMS tracks the moment, Count-Min answers point
    queries with a one-sided eps*N error bound in O(d*w) space).
    The overestimate column is the bound made visible: estimates are
    NEVER below truth (min over rows of bucket sums that each
    include the true count), and the report shows how close the
    d x w grid gets on real token skew.

    Plan: one tokenize + groupBy(token) corpus fold (the vocab
    table), then the sketch's d bucket rows come from a vocab-sized
    explode-by-seed groupBy — O(vocab * d) rows shuffled, never the
    corpus; the top-k join is broadcast (parameter-sized). At 100 TB
    the sketch phase touches the VOCAB table, which the token fold
    already produced — corpus read once.

    Exactness: buckets are md5-prefix coins (the repo's seeded-hash
    discipline, identical string -> identical bucket in both
    engines); every count, bucket sum, min, and difference is an
    exact BIGINT."""
    d = load(spark, sf_dir, "documents")
    vocab = (
        d.select(
            F.explode(tokens(F.col("text"))).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("f"))
        .localCheckpoint()  # feeds the cells, the top-k, and the join
    )
    bucket = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(":", F.lit("cms"), F.col("i"), F.col("tok"))
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint") % width
    seeded = vocab.select(
        "tok",
        "f",
        F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("i"),
    ).select("tok", "f", "i", bucket.alias("b"))
    cells = seeded.groupBy("i", "b").agg(F.sum("f").alias("cell_sum"))
    top = (
        vocab.orderBy(F.desc("f"), F.asc("tok"))
        .limit(top_k)
        .select("tok", F.col("f").alias("exact_count"))
    )
    top_cells = (
        top.select(
            "tok",
            "exact_count",
            F.explode(
                F.array(*[F.lit(i) for i in range(depth)])
            ).alias("i"),
        )
        .select("tok", "exact_count", "i", bucket.alias("b"))
        .join(cells, ["i", "b"])
        .groupBy("tok", "exact_count")
        .agg(F.min("cell_sum").alias("cm_estimate"))
    )
    return top_cells.select(
        "tok",
        "exact_count",
        "cm_estimate",
        (F.col("cm_estimate") - F.col("exact_count")).alias(
            "overestimate"
        ),
    ).orderBy(F.desc("exact_count"), F.asc("tok"))


def countmin_sketch_oracle_sql(
    depth: int = 4, width: int = 256, top_k: int = 10
) -> str:
    return f"""
        WITH vocab AS (
            SELECT t.tok, count(*) AS f
            FROM documents,
                 unnest(list_filter(string_split_regex(trim(text),
                                                       '\\s+'),
                        x -> x <> '')) AS t(tok)
            GROUP BY t.tok
        ), seeded AS (
            SELECT tok, f, i,
                   CAST(('0x' || substr(md5('cms' || ':' || i || ':'
                                            || tok), 1, 8))
                        AS BIGINT) % {width} AS b
            FROM vocab, unnest(range({depth})) AS s(i)
        ), cells AS (
            SELECT i, b, sum(f) AS cell_sum
            FROM seeded GROUP BY i, b
        ), top AS (
            SELECT tok, f AS exact_count
            FROM vocab ORDER BY f DESC, tok ASC LIMIT {top_k}
        ), est AS (
            SELECT top.tok, top.exact_count,
                   min(cells.cell_sum) AS cm_estimate
            FROM top, unnest(range({depth})) AS s(i)
            JOIN cells
              ON cells.i = s.i
             AND cells.b = CAST(('0x' || substr(md5('cms' || ':' || s.i
                                                    || ':' || top.tok),
                                                1, 8))
                                AS BIGINT) % {width}
            GROUP BY top.tok, top.exact_count
        )
        SELECT tok, CAST(exact_count AS BIGINT) AS exact_count,
               CAST(cm_estimate AS BIGINT) AS cm_estimate,
               CAST(cm_estimate - exact_count AS BIGINT)
                   AS overestimate
        FROM est ORDER BY exact_count DESC, tok ASC
    """


def q_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini-Simpson diversity + Herfindahl concentration of the
    token distribution per source — the "repertoire" dials next to
    the lexical-law pair (Heaps says how vocabulary GROWS, Zipf how
    it DECAYS; Simpson/HHI say how concentrated usage is RIGHT NOW:
    the probability two random tokens differ, and the effective
    number of tokens in use). A template-generated source shows up
    as HHI spiking and effective vocab collapsing long before a
    human reads it.

    Exactness: Gini-Simpson 1 - sum f(f-1) / (N(N-1)) is the
    unbiased (sampling-without-replacement) form — an integer
    rational with ONE division; HHI = sum f^2 / N^2 likewise. The
    f-products fold as DECIMAL(38,0) (f^2 at web scale passes
    int64); effective vocab = 1/HHI divides the already-rounded
    value, engine-identical.

    Plan: one tokenize + groupBy(source, token) corpus fold, one
    per-source fold over the vocab table. Corpus read once."""
    dec = "decimal(38,0)"
    d = load(spark, sf_dir, "documents")
    freq = (
        d.select(
            "source", F.explode(tokens(F.col("text"))).alias("tok")
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    agg = freq.groupBy("source").agg(
        F.sum("f").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab"),
        F.sum(F.col("f").cast(dec) * (F.col("f") - 1).cast(dec)).alias(
            "s2m"
        ),
        F.sum(F.col("f").cast(dec) * F.col("f").cast(dec)).alias("s2"),
    )
    nd = F.col("n_tokens").cast("double")
    gini_simpson = F.round(
        1.0
        - F.col("s2m").cast("double")
        / (
            F.col("n_tokens").cast(dec)
            * (F.col("n_tokens") - 1).cast(dec)
        ).cast("double"),
        6,
    )
    hhi = F.round(F.col("s2").cast("double") / (nd * nd), 6)
    return agg.select(
        "source",
        "n_tokens",
        "vocab",
        gini_simpson.alias("gini_simpson"),
        hhi.alias("hhi"),
        F.round(F.lit(1.0) / hhi, 2).alias("effective_vocab"),
    ).orderBy("source")


def simpson_diversity_oracle_sql() -> str:
    return """
        WITH freq AS (
            SELECT source, t.tok, count(*) AS f
            FROM documents,
                 unnest(list_filter(string_split_regex(trim(text),
                                                       '\\s+'),
                        x -> x <> '')) AS t(tok)
            GROUP BY source, t.tok
        ), agg AS (
            SELECT source,
                   sum(f) AS n_tokens,
                   count(*) AS vocab,
                   sum(CAST(f AS DECIMAL(38,0))
                       * CAST(f - 1 AS DECIMAL(38,0))) AS s2m,
                   sum(CAST(f AS DECIMAL(38,0))
                       * CAST(f AS DECIMAL(38,0))) AS s2
            FROM freq GROUP BY source
        )
        SELECT source,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(vocab AS BIGINT) AS vocab,
               round(1.0 - CAST(s2m AS DOUBLE)
                     / CAST(CAST(n_tokens AS DECIMAL(38,0))
                            * CAST(n_tokens - 1 AS DECIMAL(38,0))
                            AS DOUBLE), 6) AS gini_simpson,
               round(CAST(s2 AS DOUBLE)
                     / (CAST(n_tokens AS DOUBLE)
                        * CAST(n_tokens AS DOUBLE)), 6) AS hhi,
               round(1.0 / round(CAST(s2 AS DOUBLE)
                                 / (CAST(n_tokens AS DOUBLE)
                                    * CAST(n_tokens AS DOUBLE)), 6), 2)
                   AS effective_vocab
        FROM agg ORDER BY source
    """


def q_bleu_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLEU-2 (Papineni et al. 2002) between deterministic
    neighbor-doc pairs, rolled up per source — the canonical
    text-overlap metric (clipped n-gram precision x brevity
    penalty), here read as CORPUS HOMOGENEITY: template-generated or
    syndicated sources score high mean BLEU against their own
    neighbors long before exact-dup hashing fires (the continuous
    companion of the n-gram Jaccard dedup tier; the same machinery
    scores model output against references in an eval pipeline).

    Pairing is the lead(doc) in doc_id order within source — a
    parameter of the read, not the metric; the operator IS the BLEU
    fold: p_n = clipped matches / candidate n-grams for n=1,2
    (clipping = min(count in candidate, count in reference) per
    distinct gram — the part naive precision gets wrong), brevity
    penalty min(1, e^(1-r/c)), BLEU = BP * sqrt(p1 * p2).

    Plan: ONE shuffle (the per-source lead window); the gram
    clipping runs per ROW over the pair's two token arrays as JVM
    higher-order functions (docs are short; O(distinct x len) per
    row beats exploding the corpus into two gram tables and joining
    them back — no second shuffle, no skew surface). Exactness:
    clip counts and gram totals are exact integers; each pair's
    BLEU is a short identical-order double chain rounded 6, summed
    per source as DECIMAL(18,6), ONE division for the mean."""
    from datapoints_csv_extractor_spark.operators.skew import (
        pin_grouped_parallelism,
    )

    # Explicit repartition on the window key: the lead() exchange is
    # ENSURE_REQUIREMENTS, so AQE coalesces its tiny-bytes shuffle to
    # 1-2 partitions and the clip folds below — the query's entire
    # compute — run serial (measured: 5.9 s executor work on ~2
    # tasks, wall ≈ work). A user repartition is exempt from AQE
    # coalescing and the window reuses its hash partitioning (no
    # second exchange), so the fold stage keeps one task per source.
    d = pin_grouped_parallelism(
        load(spark, sf_dir, "documents").select("source", "doc_id", "text"),
        "source",
    ).withColumn("toks", tokens(F.col("text")))
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy("doc_id")
    pairs = d.select(
        "source",
        "doc_id",
        F.col("toks").alias("cand"),
        F.lead("toks").over(w).alias("ref"),
    ).where(F.col("ref").isNotNull())

    def grams(col, n):
        if n == 1:
            return col
        # Guard: sequence(1, size-1) runs DESCENDING when size < 2
        # (element_at(col, 0) then raises under the ANSI driver
        # mirror) — sub-bigram docs get an empty gram list instead.
        return F.when(
            F.size(col) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(col) - (n - 1)),
                lambda i: F.concat_ws(
                    " ", F.element_at(col, i), F.element_at(col, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    def clipped(cand_g, ref_g):
        return F.aggregate(
            F.array_distinct(cand_g),
            F.lit(0).cast("long"),
            lambda acc, g: acc
            + F.least(
                F.size(F.filter(cand_g, lambda x: x == g)),
                F.size(F.filter(ref_g, lambda x: x == g)),
            ).cast("long"),
        )

    # Materialize the four gram arrays ONCE per row before the
    # clipping folds: a HOF lambda re-evaluates its argument
    # expressions per element, so an inline transform() here would
    # rebuild the bigram array for every distinct gram — O(len^2)
    # string construction per row (measured 20 s at sf0.1; ~1.5 s
    # materialized). Each alias is referenced several times by
    # clipped(), which blocks CollapseProject from re-inlining.
    prepped = pairs.select(
        "source",
        F.size("cand").alias("c_len"),
        F.size("ref").alias("r_len"),
        F.col("cand").alias("c1g"),
        F.col("ref").alias("r1g"),
        grams(F.col("cand"), 2).alias("c2g"),
        grams(F.col("ref"), 2).alias("r2g"),
    )
    scored = prepped.select(
        "source",
        "c_len",
        "r_len",
        clipped(F.col("c1g"), F.col("r1g")).alias("clip1"),
        clipped(F.col("c2g"), F.col("r2g")).alias("clip2"),
        (F.col("c_len") - 1).cast("long").alias("n2"),
    )
    p1 = F.col("clip1").cast("double") / F.col("c_len").cast("double")
    p2 = F.col("clip2").cast("double") / F.col("n2").cast("double")
    bp = F.least(
        F.lit(1.0),
        F.exp(
            F.lit(1.0)
            - F.col("r_len").cast("double") / F.col("c_len").cast("double")
        ),
    )
    bleu = F.when(
        (F.col("clip1") > 0) & (F.col("clip2") > 0) & (F.col("n2") > 0),
        F.round(bp * F.sqrt(p1 * p2), 6),
    ).otherwise(F.lit(0.0))
    # Integer-scaling discipline: per-pair BLEU becomes an exact
    # micro-BLEU BIGINT (x1e6; the value is already rounded to 6, so
    # the scaling is tie-free), the per-source mean is the exact
    # integer half-up division (2s + n) DIV (2n) — a double mean hit
    # a representation-boundary tie at sf0.01 (sum/24 = 0.1247985)
    # where Spark's BigDecimal HALF_UP and DuckDB's scaled-double
    # round disagree by 1e-6.
    per_pair = scored.select(
        "source",
        F.round(bleu * F.lit(1000000.0), 0).cast("long").alias("micro"),
    )
    agg = per_pair.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("micro").alias("micro_sum"),
        F.max("micro").alias("micro_max"),
    )
    return agg.select(
        "source",
        "n_pairs",
        (
            F.expr("(2 * micro_sum + n_pairs) DIV (2 * n_pairs)").cast(
                "double"
            )
            / F.lit(1000000.0)
        ).alias("mean_bleu2"),
        (F.col("micro_max").cast("double") / F.lit(1000000.0)).alias(
            "max_bleu2"
        ),
    ).orderBy("source")


def bleu_pairs_oracle_sql() -> str:
    return """
        WITH d AS (
            SELECT source, doc_id,
                   list_filter(string_split_regex(trim(text), '\\s+'),
                               x -> x <> '') AS toks
            FROM documents
        ), pairs AS (
            SELECT source, toks AS cand,
                   lead(toks) OVER (PARTITION BY source
                                    ORDER BY doc_id) AS ref
            FROM d
        ), scored AS (
            SELECT source,
                   len(cand) AS c_len,
                   len(ref) AS r_len,
                   CAST(list_sum(list_transform(list_distinct(cand),
                        g -> least(len(list_filter(cand, x -> x = g)),
                                   len(list_filter(ref, x -> x = g)))))
                        AS BIGINT) AS clip1,
                   CAST(coalesce(list_sum(list_transform(
                        list_distinct(
                            list_transform(range(1, len(cand)),
                                i -> cand[i] || ' ' || cand[i + 1])),
                        g -> least(
                            len(list_filter(
                                list_transform(range(1, len(cand)),
                                    i -> cand[i] || ' ' || cand[i + 1]),
                                x -> x = g)),
                            len(list_filter(
                                list_transform(range(1, len(ref)),
                                    i -> ref[i] || ' ' || ref[i + 1]),
                                x -> x = g))))), 0)
                        AS BIGINT) AS clip2,
                   len(cand) - 1 AS n2
            FROM pairs WHERE ref IS NOT NULL
        ), per_pair AS (
            -- micro-BLEU BIGINTs (x1e6 of the rounded-6 value) so the
            -- per-source mean is an exact integer half-up division,
            -- mirroring the Spark side's tie-free fold.
            SELECT source,
                   CAST(round(CASE WHEN clip1 > 0 AND clip2 > 0
                                        AND n2 > 0
                        THEN round(
                            least(1.0, exp(1.0 - CAST(r_len AS DOUBLE)
                                           / CAST(c_len AS DOUBLE)))
                            * sqrt((CAST(clip1 AS DOUBLE)
                                    / CAST(c_len AS DOUBLE))
                                   * (CAST(clip2 AS DOUBLE)
                                      / CAST(n2 AS DOUBLE))), 6)
                        ELSE 0.0 END * 1000000.0, 0) AS BIGINT)
                       AS micro
            FROM scored
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST((2 * sum(micro) + count(*))
                    // (2 * count(*)) AS DOUBLE) / 1000000.0
                   AS mean_bleu2,
               CAST(max(micro) AS DOUBLE) / 1000000.0 AS max_bleu2
        FROM per_pair GROUP BY source ORDER BY source
    """


# --------------------------------------------------------------------
# Round-11 coda: vocabulary-richness estimation, smoothed unseen-mass,
# discriminative-token, and n-gram-novelty reads over the documents
# table. Exactness discipline as above (integer rationals, md5 coins,
# DECIMAL(38,0) folds, one division per output).


def q_chao1_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 nonparametric vocabulary-richness estimate per source —
    "how many distinct tokens does this source REALLY use, counting
    the ones we haven't sampled yet". Heaps' law extrapolates growth
    from prefixes; Chao1 needs only the abundance spectrum's first
    two cells: chao1 = V + f1*(f1-1)/(2*(f2+1)) (the bias-corrected
    form, defined even when nothing occurs twice). The curation use:
    a source whose chao1/V ratio is near 1 is fully sampled — more
    crawl budget buys no new vocabulary.

    Exactness: V, f1 (hapaxes), f2 (doubletons) are exact integer
    counts off one token-frequency fold; the correction is ONE
    integer-rational division rounded 6.

    Plan: one tokenize + groupBy(source, token) corpus fold, one
    per-source fold over the vocab table — the q_simpson_diversity
    shuffle shape exactly."""
    d = load(spark, sf_dir, "documents")
    freq = (
        d.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    agg = freq.groupBy("source").agg(
        F.count(F.lit(1)).alias("vocab"),
        F.sum(F.when(F.col("f") == 1, 1).otherwise(0)).alias("f1"),
        F.sum(F.when(F.col("f") == 2, 1).otherwise(0)).alias("f2"),
    )
    chao1 = F.col("vocab").cast("double") + (
        F.col("f1").cast("decimal(38,0)")
        * (F.col("f1") - 1).cast("decimal(38,0)")
    ).cast("double") / (2.0 * (F.col("f2") + 1).cast("double"))
    return agg.select(
        "source",
        F.col("vocab").cast("long").alias("vocab"),
        F.col("f1").cast("long").alias("n_hapax"),
        F.col("f2").cast("long").alias("n_doubleton"),
        F.round(chao1, 6).alias("chao1"),
        F.round(
            F.col("vocab").cast("double")
            / F.round(chao1, 6),
            6,
        ).alias("coverage"),
    ).orderBy("source")


def chao1_richness_oracle_sql() -> str:
    return """
        WITH freq AS (
            SELECT source, t.tok, count(*) AS f
            FROM documents,
                 unnest(list_filter(string_split_regex(trim(text),
                                                       '\\s+'),
                        x -> x <> '')) AS t(tok)
            GROUP BY source, t.tok
        ), agg AS (
            SELECT source,
                   count(*) AS vocab,
                   sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS f1,
                   sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS f2
            FROM freq GROUP BY source
        )
        SELECT source,
               CAST(vocab AS BIGINT) AS vocab,
               CAST(f1 AS BIGINT) AS n_hapax,
               CAST(f2 AS BIGINT) AS n_doubleton,
               round(CAST(vocab AS DOUBLE)
                     + CAST(CAST(f1 AS DECIMAL(38,0))
                            * CAST(f1 - 1 AS DECIMAL(38,0)) AS DOUBLE)
                       / (2.0 * CAST(f2 + 1 AS DOUBLE)), 6) AS chao1,
               round(CAST(vocab AS DOUBLE)
                     / round(CAST(vocab AS DOUBLE)
                             + CAST(CAST(f1 AS DECIMAL(38,0))
                                    * CAST(f1 - 1 AS DECIMAL(38,0))
                                    AS DOUBLE)
                               / (2.0 * CAST(f2 + 1 AS DOUBLE)), 6),
                     6) AS coverage
        FROM agg ORDER BY source
    """


def q_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing unseen-mass and smoothed low-count estimates per
    source — the language-modeling read of the abundance spectrum:
    P0 = N1/N is the probability the NEXT token drawn is one never
    seen (the coverage gap perplexity filters feel as OOV mass), and
    r* = (r+1) * N_{r+1} / N_r re-estimates how much a count of r is
    actually worth. Chao1 (above) asks "how many types are
    missing?"; Good-Turing asks "how much PROBABILITY is missing?" —
    both off the same single fold.

    Exactness: N, N1..N4 are exact integer counts; each output is
    ONE integer-rational division rounded 6, NULL (not a clamp) when
    the spectrum cell is empty.

    Plan: the q_simpson_diversity fold shape — one tokenize +
    groupBy(source, token) corpus pass, one per-source fold."""
    d = load(spark, sf_dir, "documents")
    freq = (
        d.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    spec = lambda r: F.sum(  # noqa: E731
        F.when(F.col("f") == r, 1).otherwise(0)
    ).alias(f"n{r}")
    agg = freq.groupBy("source").agg(
        F.sum("f").alias("n_tokens"),
        spec(1), spec(2), spec(3), spec(4),
    )

    def ratio(num: Column, den: Column) -> Column:
        return F.when(
            den > 0, F.round(num.cast("double") / den.cast("double"), 6)
        )

    return agg.select(
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n1").cast("long").alias("n_hapax"),
        ratio(F.col("n1"), F.col("n_tokens")).alias("p_unseen"),
        ratio(2 * F.col("n2"), F.col("n1")).alias("r1_star"),
        ratio(3 * F.col("n3"), F.col("n2")).alias("r2_star"),
        ratio(4 * F.col("n4"), F.col("n3")).alias("r3_star"),
    ).orderBy("source")


def good_turing_oracle_sql() -> str:
    return """
        WITH freq AS (
            SELECT source, t.tok, count(*) AS f
            FROM documents,
                 unnest(list_filter(string_split_regex(trim(text),
                                                       '\\s+'),
                        x -> x <> '')) AS t(tok)
            GROUP BY source, t.tok
        ), agg AS (
            SELECT source,
                   sum(f) AS n_tokens,
                   sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS n1,
                   sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS n2,
                   sum(CASE WHEN f = 3 THEN 1 ELSE 0 END) AS n3,
                   sum(CASE WHEN f = 4 THEN 1 ELSE 0 END) AS n4
            FROM freq GROUP BY source
        )
        SELECT source,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(n1 AS BIGINT) AS n_hapax,
               CASE WHEN n_tokens > 0 THEN
                   round(CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE),
                         6) END AS p_unseen,
               CASE WHEN n1 > 0 THEN
                   round(CAST(2 * n2 AS DOUBLE) / CAST(n1 AS DOUBLE),
                         6) END AS r1_star,
               CASE WHEN n2 > 0 THEN
                   round(CAST(3 * n3 AS DOUBLE) / CAST(n2 AS DOUBLE),
                         6) END AS r2_star,
               CASE WHEN n3 > 0 THEN
                   round(CAST(4 * n4 AS DOUBLE) / CAST(n3 AS DOUBLE),
                         6) END AS r3_star
        FROM agg ORDER BY source
    """


def q_log_odds_dirichlet(
    spark: SparkSession,
    sf_dir: str,
    group_a: str = "en",
    top_k: int = 25,
) -> DataFrame:
    """Monroe et al. 2008 "Fightin' Words": log-odds with a Dirichlet
    prior, z-scored, for the tokens that most distinguish one
    language slice (default: lang='en') from the rest of the corpus
    — the principled replacement for raw tf-idf deltas when corpus
    sizes differ (raw log-odds overweights rare tokens; the prior
    shrinks them; the variance term z-scores what's left). The
    curation read: the top |z| tokens ARE a source's template
    boilerplate, mined with a statistic instead of eyeballs.

    delta_w = ln((y_aw + 1)/(n_a + V - y_aw - 1))
            - ln((y_bw + 1)/(n_b + V - y_bw - 1)) with the flat
    alpha=1 prior (integer arguments by construction);
    var_w = 1/(y_aw + 1) + 1/(y_bw + 1); z = delta/sqrt(var).

    Exactness: every ln/div argument is an exact integer off one
    token fold; each ln is rounded 6 and combined as DECIMAL(18,6);
    z is ONE final division rounded 4. Top-k selection orders by
    exact integer total frequency (desc, token) BEFORE any float —
    the ranked set is engine-identical.

    Plan: one tokenize + groupBy(token, side) corpus fold; the
    top-k filter keeps the scored table k rows; no corpus joins."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        (F.col("lang") == group_a).alias("is_a"),
        F.explode(tokens(F.col("text"))).alias("tok"),
    )
    freq = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).alias("y_a"),
        F.sum(F.when(F.col("is_a"), 0).otherwise(1)).alias("y_b"),
    ).localCheckpoint()  # feeds totals AND the scored top-k
    totals = freq.agg(
        F.sum("y_a").alias("n_a"),
        F.sum("y_b").alias("n_b"),
        F.count(F.lit(1)).alias("v"),
    )
    top = (
        freq.orderBy(F.desc(F.col("y_a") + F.col("y_b")), F.asc("tok"))
        .limit(top_k)
        .crossJoin(F.broadcast(totals))
    )
    d186 = "decimal(18,6)"
    ln6 = lambda x: F.round(F.log(x.cast("double")), 6).cast(  # noqa: E731
        d186
    )
    delta = (
        ln6(F.col("y_a") + 1)
        - ln6(F.col("n_a") + F.col("v") - F.col("y_a") - 1)
        - ln6(F.col("y_b") + 1)
        + ln6(F.col("n_b") + F.col("v") - F.col("y_b") - 1)
    )
    var = F.round(
        1.0 / (F.col("y_a") + 1).cast("double")
        + 1.0 / (F.col("y_b") + 1).cast("double"),
        6,
    )
    return top.select(
        "tok",
        F.col("y_a").cast("long").alias("count_a"),
        F.col("y_b").cast("long").alias("count_b"),
        delta.cast("double").alias("log_odds"),
        F.round(delta.cast("double") / F.sqrt(var), 4).alias("z"),
    ).orderBy("tok")


def log_odds_dirichlet_oracle_sql(
    group_a: str = "en", top_k: int = 25
) -> str:
    return f"""
        WITH freq AS (
            SELECT t.tok,
                   sum(CASE WHEN lang = '{group_a}' THEN 1 ELSE 0 END)
                       AS y_a,
                   sum(CASE WHEN lang = '{group_a}' THEN 0 ELSE 1 END)
                       AS y_b
            FROM documents,
                 unnest(list_filter(string_split_regex(trim(text),
                                                       '\\s+'),
                        x -> x <> '')) AS t(tok)
            GROUP BY t.tok
        ), totals AS (
            SELECT sum(y_a) AS n_a, sum(y_b) AS n_b, count(*) AS v
            FROM freq
        ), top AS (
            SELECT * FROM freq, totals
            ORDER BY y_a + y_b DESC, tok ASC LIMIT {top_k}
        ), scored AS (
            SELECT tok, y_a, y_b,
                   CAST(round(ln(CAST(y_a + 1 AS DOUBLE)), 6)
                        AS DECIMAL(18,6))
                   - CAST(round(ln(CAST(n_a + v - y_a - 1 AS DOUBLE)),
                                6) AS DECIMAL(18,6))
                   - CAST(round(ln(CAST(y_b + 1 AS DOUBLE)), 6)
                          AS DECIMAL(18,6))
                   + CAST(round(ln(CAST(n_b + v - y_b - 1 AS DOUBLE)),
                                6) AS DECIMAL(18,6)) AS delta,
                   round(1.0 / CAST(y_a + 1 AS DOUBLE)
                         + 1.0 / CAST(y_b + 1 AS DOUBLE), 6) AS var
            FROM top
        )
        SELECT tok,
               CAST(y_a AS BIGINT) AS count_a,
               CAST(y_b AS BIGINT) AS count_b,
               CAST(delta AS DOUBLE) AS log_odds,
               round(CAST(delta AS DOUBLE) / sqrt(var), 4) AS z
        FROM scored ORDER BY tok
    """


def q_ngram_novelty(
    spark: SparkSession, sf_dir: str, n: int = 8, test_mod: int = 4
) -> DataFrame:
    """Held-out n-gram novelty per source: split the corpus by the
    md5 doc coin (doc_id % residue — the established reproducible-
    split idiom), then measure what fraction of the held-out split's
    DISTINCT word 8-grams never occur in the training split. The
    memorization/contamination dial inverted: decontamination asks
    "is the benchmark in the training set?"; novelty asks "does this
    source keep producing n-grams the rest of its corpus hasn't
    already written?" — templated/syndicated sources collapse toward
    zero novelty and add no training signal.

    Exactness: the split coin, the 8-gram extraction (positional
    slices of the shared whitespace tokenizer), the distinct sets,
    and the anti-join are all exact; novelty is ONE integer-rational
    division rounded 6.

    Plan: one tokenize+slice pass per side off the same scan shape
    as q_bloom_decontamination's screen, one distinct per side, a
    broadcast-averse ANTI join keyed on the gram string (at 100 TB
    the join keys on a 64-bit gram hash instead — same plan, thinner
    shuffle; the string key keeps the oracle byte-exact here), one
    per-source fold."""
    d = load(spark, sf_dir, "documents")
    coin = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
            16,
            10,
        ).cast("bigint")
        % test_mod
    )
    toks = d.select(
        "source",
        (coin == 0).alias("is_test"),
        tokens(F.col("text")).alias("ws"),
    )
    # Filter BEFORE the slice explode: Spark's sequence(1, size-7)
    # DESCENDS when size < 8, which would manufacture junk grams.
    grams = toks.where(F.size("ws") >= n).select(
        "source",
        "is_test",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(1), F.size("ws") - F.lit(n - 1)
                ),
                lambda i: F.concat_ws(
                    " ", F.slice(F.col("ws"), i, n)
                ),
            )
        ).alias("gram"),
    )
    train = grams.where(~F.col("is_test")).select("gram").distinct()
    test = (
        grams.where(F.col("is_test"))
        .select("source", "gram")
        .distinct()
    )
    novel = test.join(train, "gram", "left_anti")
    counts = test.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_test_grams")
    )
    novel_counts = novel.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_novel")
    )
    out = counts.join(novel_counts, "source", "left").select(
        "source",
        "n_test_grams",
        F.coalesce(F.col("n_novel"), F.lit(0)).alias("n_novel"),
    )
    return out.select(
        "source",
        F.col("n_test_grams").cast("long").alias("n_test_grams"),
        F.col("n_novel").cast("long").alias("n_novel"),
        F.round(
            F.col("n_novel").cast("double")
            / F.col("n_test_grams").cast("double"),
            6,
        ).alias("novelty"),
    ).orderBy("source")


def ngram_novelty_oracle_sql(n: int = 8, test_mod: int = 4) -> str:
    return f"""
        WITH toks AS (
            SELECT source,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                   )::BIGINT % {test_mod} = 0 AS is_test,
                   list_filter(string_split_regex(trim(text), '\\s+'),
                               x -> x <> '') AS ws
            FROM documents
        ), grams AS (
            SELECT source, is_test,
                   array_to_string(ws[i : i + {n - 1}], ' ') AS gram
            FROM toks,
                 unnest(generate_series(1, len(ws) - {n - 1})) AS g(i)
            WHERE len(ws) >= {n}
        ), train AS (
            SELECT DISTINCT gram FROM grams WHERE NOT is_test
        ), test AS (
            SELECT DISTINCT source, gram FROM grams WHERE is_test
        ), novel AS (
            SELECT source, count(*) AS n_novel
            FROM test WHERE gram NOT IN (SELECT gram FROM train)
            GROUP BY source
        ), counts AS (
            SELECT source, count(*) AS n_test_grams
            FROM test GROUP BY source
        )
        SELECT counts.source,
               CAST(n_test_grams AS BIGINT) AS n_test_grams,
               CAST(coalesce(n_novel, 0) AS BIGINT) AS n_novel,
               round(CAST(coalesce(n_novel, 0) AS DOUBLE)
                     / CAST(n_test_grams AS DOUBLE), 6) AS novelty
        FROM counts LEFT JOIN novel ON counts.source = novel.source
        ORDER BY counts.source
    """


def q_vocab_jaccard_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources — the
    cross-source similarity read at the TYPE level: q_source_jsd
    compares token-frequency DISTRIBUTIONS, this compares the
    vocabulary SETS, which is what syndication and mirror detection
    actually key on (a scraped mirror shares the vocabulary even
    after its frequency profile drifts). Ranked pairs feed the same
    dedupe-or-merge decisions the doc-level n-gram Jaccard tier
    makes, one level up.

    Exactness: intersections and vocab sizes are exact integer
    counts; jaccard = inter / (va + vb - inter), ONE division
    rounded 6.

    Plan: one tokenize + distinct(source, token) corpus fold, then a
    TOKEN-keyed self-join whose per-key fan-out is bounded by the
    source count (n_sources choose 2 pairs per token — linear in
    vocabulary, never corpus-quadratic), one pair fold. The vocab
    sizes broadcast onto the pair table (dimension-sized)."""
    d = load(spark, sf_dir, "documents")
    st = (
        d.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
        .distinct()
        .localCheckpoint()  # feeds sizes AND the pair join
    )
    sizes = st.groupBy("source").agg(F.count(F.lit(1)).alias("v"))
    a = st.select(F.col("source").alias("sa"), "tok")
    b = st.select(F.col("source").alias("sb"), "tok")
    inter = (
        a.join(b, "tok")
        .where(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    j = (
        inter.join(
            F.broadcast(sizes.select(F.col("source").alias("sa"),
                                     F.col("v").alias("va"))),
            "sa",
        )
        .join(
            F.broadcast(sizes.select(F.col("source").alias("sb"),
                                     F.col("v").alias("vb"))),
            "sb",
        )
    )
    return j.select(
        "sa",
        "sb",
        F.col("inter").cast("long").alias("inter"),
        F.col("va").cast("long").alias("vocab_a"),
        F.col("vb").cast("long").alias("vocab_b"),
        F.round(
            F.col("inter").cast("double")
            / (F.col("va") + F.col("vb") - F.col("inter")).cast("double"),
            6,
        ).alias("jaccard"),
    ).orderBy("sa", "sb")


def vocab_jaccard_matrix_oracle_sql() -> str:
    return """
        WITH st AS (
            SELECT DISTINCT source, t.tok
            FROM documents,
                 unnest(list_filter(string_split_regex(trim(text),
                                                       '\\s+'),
                        x -> x <> '')) AS t(tok)
        ), sizes AS (
            SELECT source, count(*) AS v FROM st GROUP BY source
        ), inter AS (
            SELECT a.source AS sa, b.source AS sb, count(*) AS inter
            FROM st a JOIN st b
              ON a.tok = b.tok AND a.source < b.source
            GROUP BY a.source, b.source
        )
        SELECT sa, sb,
               CAST(inter AS BIGINT) AS inter,
               CAST(za.v AS BIGINT) AS vocab_a,
               CAST(zb.v AS BIGINT) AS vocab_b,
               round(CAST(inter AS DOUBLE)
                     / CAST(za.v + zb.v - inter AS DOUBLE), 6)
                   AS jaccard
        FROM inter
        JOIN sizes za ON inter.sa = za.source
        JOIN sizes zb ON inter.sb = zb.source
        ORDER BY sa, sb
    """


def q_token_burstiness(
    spark: SparkSession, sf_dir: str, top_k: int = 30
) -> DataFrame:
    """Church-Gale token burstiness for the corpus's top tokens:
    compare each token's observed document frequency with the df a
    Poisson scatter of its total count would produce —
    E[df] = D * (1 - exp(-cf/D)). Function words track the Poisson
    line; CONTENT words are bursty (fewer docs than Poisson, more
    occurrences per containing doc). The curation read: a "content"
    token whose burstiness collapses to 1.0 corpus-wide is template
    boilerplate, not topic vocabulary — the distribution-level
    sibling of the repeated-span detectors.

    Exactness: df, cf, D are exact integers; burstiness = cf/df is
    ONE division rounded 6; the Poisson expectation is ONE exp on
    the identical double cf/D, rounded 6 (libm-parity discipline);
    the df/E[df] ratio divides the already-rounded value. Top-k
    picked on exact integer cf (desc, token).

    Plan: one tokenize + groupBy(token) corpus fold carrying a
    distinct-doc count, one top-k, no joins beyond the 1-row D
    broadcast."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    freq = toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("cf"),
        F.countDistinct("doc_id").alias("df"),
    )
    totals = d.agg(F.count(F.lit(1)).alias("n_docs"))
    top = (
        freq.orderBy(F.desc("cf"), F.asc("tok"))
        .limit(top_k)
        .crossJoin(F.broadcast(totals))
    )
    expected_df = F.round(
        F.col("n_docs").cast("double")
        * (
            1.0
            - F.exp(
                -F.col("cf").cast("double")
                / F.col("n_docs").cast("double")
            )
        ),
        6,
    )
    return top.select(
        "tok",
        F.col("cf").cast("long").alias("cf"),
        F.col("df").cast("long").alias("df"),
        F.round(
            F.col("cf").cast("double") / F.col("df").cast("double"), 6
        ).alias("burstiness"),
        expected_df.alias("poisson_df"),
        F.round(
            F.col("df").cast("double") / expected_df, 6
        ).alias("df_ratio"),
    ).orderBy("tok")


def token_burstiness_oracle_sql(top_k: int = 30) -> str:
    return f"""
        WITH freq AS (
            SELECT t.tok,
                   count(*) AS cf,
                   count(DISTINCT doc_id) AS df
            FROM documents,
                 unnest(list_filter(string_split_regex(trim(text),
                                                       '\\s+'),
                        x -> x <> '')) AS t(tok)
            GROUP BY t.tok
        ), totals AS (
            SELECT count(*) AS n_docs FROM documents
        ), top AS (
            SELECT * FROM freq, totals
            ORDER BY cf DESC, tok ASC LIMIT {top_k}
        )
        SELECT tok,
               CAST(cf AS BIGINT) AS cf,
               CAST(df AS BIGINT) AS df,
               round(CAST(cf AS DOUBLE) / CAST(df AS DOUBLE), 6)
                   AS burstiness,
               round(CAST(n_docs AS DOUBLE)
                     * (1.0 - exp(-CAST(cf AS DOUBLE)
                                  / CAST(n_docs AS DOUBLE))), 6)
                   AS poisson_df,
               round(CAST(df AS DOUBLE)
                     / round(CAST(n_docs AS DOUBLE)
                             * (1.0 - exp(-CAST(cf AS DOUBLE)
                                          / CAST(n_docs AS DOUBLE))),
                             6), 6) AS df_ratio
        FROM top ORDER BY tok
    """


def q_bigram_cond_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source conditional entropy H(next token | current token)
    and its perplexity — the sequence-level degeneracy dial: unigram
    entropy (and Simpson/HHI) can look healthy while every token
    DETERMINES its successor (templates, boilerplate chains,
    generated loops). H(W2|W1) near zero with a broad vocabulary is
    the fingerprint of templated text; organic prose keeps several
    bits of successor surprise. The distribution-level companion of
    the distinct-2 ratio.

    H(W2|W1) = -sum_{w1,w2} p(w1,w2) ln(c12/c1): every probability
    is a ratio of exact bigram/prefix counts off ONE bigram fold;
    each term is one libm ln on an identical integer-derived double,
    rounded 6, summed as DECIMAL(18,6); perplexity = exp of the
    already-rounded entropy, rounded 4.

    Plan: one tokenize + within-doc bigram explode + groupBy(source,
    w1, w2) corpus fold (bigram cells are linear in corpus tokens),
    a window for the prefix marginal, one per-source fold."""
    d = load(spark, sf_dir, "documents")
    ws = d.select("source", tokens(F.col("text")).alias("ws")).where(
        F.size("ws") >= 2
    )
    bigrams = ws.select(
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ws") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("ws"), i).alias("w1"),
                    F.element_at(F.col("ws"), i + 1).alias("w2"),
                ),
            )
        ).alias("bg"),
    ).select("source", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    cells = bigrams.groupBy("source", "w1", "w2").agg(
        F.count(F.lit(1)).alias("c12")
    )
    w1w = Window.partitionBy("source", "w1").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ws_all = Window.partitionBy("source").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    g = cells.select(
        "source",
        "c12",
        F.sum("c12").over(w1w).alias("c1"),
        F.sum("c12").over(ws_all).alias("n"),
    )
    term = F.round(
        -(F.col("c12").cast("double") / F.col("n").cast("double"))
        * F.log(
            F.col("c12").cast("double") / F.col("c1").cast("double")
        ),
        6,
    ).cast("decimal(18,6)")
    agg = g.groupBy("source").agg(
        F.max("n").alias("n_bigrams"),
        F.sum(term).alias("h_cond"),
    )
    return agg.select(
        "source",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.col("h_cond").cast("double").alias("cond_entropy"),
        F.round(F.exp(F.col("h_cond").cast("double")), 4).alias(
            "branch_perplexity"
        ),
    ).orderBy("source")


def bigram_cond_entropy_oracle_sql() -> str:
    return """
        WITH ws AS (
            SELECT source,
                   list_filter(string_split_regex(trim(text), '\\s+'),
                               x -> x <> '') AS w
            FROM documents
        ), bigrams AS (
            SELECT source, w[i] AS w1, w[i + 1] AS w2
            FROM ws, unnest(generate_series(1, len(w) - 1)) AS g(i)
            WHERE len(w) >= 2
        ), cells AS (
            SELECT source, w1, w2, count(*) AS c12
            FROM bigrams GROUP BY source, w1, w2
        ), g AS (
            SELECT source, c12,
                   sum(c12) OVER (PARTITION BY source, w1) AS c1,
                   sum(c12) OVER (PARTITION BY source) AS n
            FROM cells
        ), agg AS (
            SELECT source,
                   max(n) AS n_bigrams,
                   sum(CAST(round(-(CAST(c12 AS DOUBLE)
                                    / CAST(n AS DOUBLE))
                                  * ln(CAST(c12 AS DOUBLE)
                                       / CAST(c1 AS DOUBLE)), 6)
                            AS DECIMAL(18,6))) AS h_cond
            FROM g GROUP BY source
        )
        SELECT source,
               CAST(n_bigrams AS BIGINT) AS n_bigrams,
               CAST(h_cond AS DOUBLE) AS cond_entropy,
               round(exp(CAST(h_cond AS DOUBLE)), 4)
                   AS branch_perplexity
        FROM agg ORDER BY source
    """
