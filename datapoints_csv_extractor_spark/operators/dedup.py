"""Deduplication operators over the documents table.

Four strategies a training-data pipeline layers (BASELINE.json
north-star), ordered by cost:

1. exact            — md5 hash-groupBy (one shuffle on the hash key)
2. n-gram Jaccard   — word-3-gram shingles, shingle-equijoin blocked
                      pair generation, exact Jaccard verify
3. MinHash + LSH    — deterministic 32-perm signatures, 8 bands x 4
                      rows, band-bucket join for candidates (the
                      100 TB path: candidates ~ O(dups), not O(n^2))
4. SimHash          — 32-bit token-hash sign aggregate, near-dup by
                      small hamming distance

All are pure DataFrame ops; hashes are Spark's deterministic
xxhash64, modular-arithmetic permutations stay inside long range
(p = 2^31-1, a,b < 2^31 => a*h' + b < 2^62). MinHash/SimHash have no
SQL oracle (xxhash64 isn't reproducible in DuckDB) — they get the
driver's rows-only check plus a pytest property: LSH candidates must
cover every pair the exact Jaccard operator scores >= 0.6.

Scale notes: exact dedup shuffles once on the fingerprint; the
shingle join's fan-out is bounded by ``DISTINCT`` shingles per doc and
at 100 TB is replaced by the MinHash path whose band join shuffles
only (doc_id, band_hash) pairs — 8 small rows per document instead of
every shingle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from datapoints_csv_extractor_spark.operators.relational import load
from datapoints_csv_extractor_spark.operators.skew import (
    pin_grouped_parallelism,
    spread_scan,
)
from datapoints_csv_extractor_spark.operators.textops import tokens
from datapoints_csv_extractor_spark.sinks import store_commit

MERSENNE_P = (1 << 31) - 1
# Stop-shingle / hot-bucket caps (CCNet/Gopher practice): a shingle
# shared by k documents emits k^2/2 join rows, so one boilerplate
# phrase ("all rights reserved ...") turns the blocked join quadratic
# at corpus scale. Shingles above this document frequency carry no
# dedup signal and are dropped BEFORE pair generation; the same cap
# bounds LSH band-bucket fan-out. 128 is far above the testdata max
# df (7 at sf0.01, 25 at sf0.1 — measured) so oracle rows are
# unchanged, while capping any hot key's pair count at 128^2/2.
STOP_SHINGLE_MAX_DF = 128

# Posting lists at or under this length take the in-place array pair
# fold in ngram_jaccard_pairs; longer lists (only reachable when a
# caller raises the df cap past it) stream through a keyed self-join
# instead of materializing an m^2 pair array per key. 256 keeps the
# default guarded path (<= STOP_SHINGLE_MAX_DF = 128) entirely on the
# fold.
_POSTING_FOLD_MAX = 256
LSH_MAX_BUCKET = 128
N_PERM = 32
N_BANDS = 8
ROWS_PER_BAND = N_PERM // N_BANDS
# Deterministic permutation parameters (seeded LCG expansion, fixed).
_PERMS = []
_state = 0x5DEECE66D
for _ in range(N_PERM):
    _state = (_state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
    _a = (_state % (MERSENNE_P - 1)) + 1
    _state = (_state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
    _b = _state % MERSENNE_P
    _PERMS.append((_a, _b))

# The per-permutation minima and the band structs are written as SQL
# text: F.expr parses each in one driver->JVM call, where composing the
# same expressions from Column objects took ~300 py4j round-trips for
# the signature and ~60 for the bands (0.3 s and 0.15 s of driver time
# per call on a 4-core host) for the same values.
_SIGNATURE_SQL = "array({}) AS signature".format(
    ", ".join(f"min(pmod(h * {a} + {b}, {MERSENNE_P}))" for a, b in _PERMS)
)
_BANDS_SQL = "explode(array({})) AS band".format(
    ", ".join(
        "named_struct('band_id', {}, 'band_hash', xxhash64({}))".format(
            band,
            ", ".join(
                f"signature[{band * ROWS_PER_BAND + r}]" for r in range(ROWS_PER_BAND)
            ),
        )
        for band in range(N_BANDS)
    )
)


def shingles_of_tokens(toks: Column, k: int = 3) -> Column:
    """Distinct word k-gram shingles from a token array column, in
    first-occurrence order.

    CAPTURE-FREE on purpose: no lambda references ``toks``. The
    earlier index-scan form (``element_at(toks, i + j)`` inside a
    transform lambda) re-evaluated whatever expression ``toks``
    resolves to once per shingle index — fine when it stays a
    materialized attribute (explode consumers: Generate is a
    CollapseProject barrier), but on pure-Project paths the optimizer
    inlines the TOKENIZER into the lambda and every index re-splits
    the document: O(len^2) interpreted work per row (70x at sf0.1 on
    the jaccard path; ~4 s per 500-doc scan in the Bloom probe). Here
    each of the k shifted slices evaluates ``toks`` exactly once per
    row and the positionwise concat fold's lambdas touch only their
    own arguments, so the builder is safe to embed in ANY plan shape.

    greatest() clamps the slice length for docs with < k tokens
    (empty shingle set).
    """
    length = F.greatest(F.size(toks) - (k - 1), F.lit(0))
    acc = F.slice(toks, 1, length)
    for j in range(1, k):
        acc = F.zip_with(
            acc,
            F.slice(toks, j + 1, length),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return F.array_distinct(acc)


def shingles(text: Column, k: int = 3) -> Column:
    """Distinct word k-gram shingles of a document (convenience; for
    hot paths prefer materializing tokens then shingles_of_tokens)."""
    return shingles_of_tokens(tokens(text), k)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5(text) groupBy, canonical = min doc_id.
    One shuffle on the 128-bit fingerprint; at 100 TB this is the
    textbook hash-partitioned distinct."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.md5(F.col("text")).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread_scan(load(spark, sf_dir, "documents"))
    return (
        d.withColumn("toks", tokens(F.col("text")))
        .select("doc_id", F.explode(shingles_of_tokens(F.col("toks"))).alias("shingle"))
    )


def _hot_dropped_shingles(
    docs: DataFrame, max_shingle_df: int, k: int
) -> DataFrame:
    """(doc_id, sh_hash) word-k-gram shingle table with shingles of
    document frequency > ``max_shingle_df`` dropped.

    The tokenize -> shingle-fold -> explode chain is ~5 s executor
    work per evaluation at sf0.1 and every caller fans the result out
    to several consumers, so the raw shingle table is materialized
    once (localCheckpoint). The hot-df guard is a count-aggregate
    (collapses map-side — no reducer ever materializes a hot
    shingle's posting list) anti-joined as a BROADCAST (the hot list
    is tiny by construction: only keys over the cap), never a
    shuffled join — pinned by test_plan_shape."""
    sh = (
        spread_scan(docs)
        .withColumn("toks", tokens(F.col("text")))
        .select(
            "doc_id",
            F.explode(shingles_of_tokens(F.col("toks"), k)).alias("shingle"),
        )
        .select("doc_id", F.xxhash64("shingle").alias("sh_hash"))
        .localCheckpoint()
    )
    hot = (
        sh.groupBy("sh_hash")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > max_shingle_df)
        .select("sh_hash")
    )
    return sh.join(F.broadcast(hot), "sh_hash", "left_anti")


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.3,
    max_shingle_df: int = STOP_SHINGLE_MAX_DF,
    k: int = 3,
) -> DataFrame:
    """Near-dup pairs by exact word-k-gram Jaccard >= threshold over a
    (doc_id, text) DataFrame.

    Pair generation is blocked on shared shingles (equijoin on the
    shingle — only docs sharing at least one shingle ever meet), then
    |A ∩ B| comes from the join row count and |A ∪ B| = n1+n2-shared.

    Shingles with document frequency > ``max_shingle_df`` are dropped
    from the representation (join AND Jaccard counts) before the
    self-join: a hot boilerplate shingle would otherwise emit df^2/2
    join rows on a single key. The hot-shingle list is tiny by
    construction (only keys over the cap), so it anti-joins as a
    broadcast — no extra shuffle.
    """
    # Join on the 64-bit shingle hash, not the ~50-byte string — same
    # pair counts (collision odds ~n^2/2^64), a fraction of the
    # shuffle bytes.
    #
    # Pair generation is a POSTINGS FOLD, not a self-join: group the
    # (hot-dropped) shingle table once by sh_hash into a sorted doc-id
    # array and emit the i<j pairs in place (the _order_pairs basket
    # discipline from graph.py). The previous a x b self-join shuffled
    # the shingle table onto sh_hash TWICE (both join sides) and paid
    # two sort-merge sorts to produce exactly the fan-out rows this
    # fold emits partition-locally; the rewrite drops the pair path
    # from 5 data exchanges to 3. Pair multiplicity is unchanged: a
    # sorted array with duplicate doc_ids (only possible via a 64-bit
    # hash collision inside one doc) emits m1*m2 (d1 < d2) structs —
    # exactly the join's row count — and the strict < filter drops
    # self-structs exactly like the old join predicate.
    #
    # The hot-df guard stays a count-aggregate + broadcast anti-join,
    # deliberately: folding the cap into the collect_list aggregate
    # itself would build the one giant array the cap exists to prevent
    # (a boilerplate shingle at corpus scale is millions of entries on
    # one key).
    #
    # Fold-vs-stream routing is decided from the PARAMETERS, not the
    # data: with the df cap at or under _POSTING_FOLD_MAX (the guarded
    # default) no surviving posting list can exceed the fold bound, so
    # the plan is the lean pure-fold shape — one df aggregate, one
    # grouping pass, per-doc counts read from the (checkpointed,
    # two-consumer) postings frame. Only a raised cap pays for the
    # hybrid: over-bound keys route to a streaming self-join BEFORE
    # any array is built (an over-cap posting array is exactly the
    # allocation the fold cannot afford — measured 26.2 s vs ~2 s on
    # the adversarial corpus), per-doc counts then come from the flat
    # frame, and the stream-key list is rare-by-construction and
    # broadcast.
    streams = max_shingle_df > _POSTING_FOLD_MAX
    sh = (
        spread_scan(docs)
        .withColumn("toks", tokens(F.col("text")))
        .select(
            "doc_id",
            F.explode(shingles_of_tokens(F.col("toks"), k)).alias("shingle"),
        )
        .select("doc_id", F.xxhash64("shingle").alias("sh_hash"))
        .localCheckpoint()
    )
    dfs = sh.groupBy("sh_hash").agg(F.count("*").alias("df"))
    hot = dfs.where(F.col("df") > max_shingle_df).select("sh_hash")
    dropped = sh.join(F.broadcast(hot), "sh_hash", "left_anti")
    if streams:
        over_cap = dfs.where(
            (F.col("df") <= max_shingle_df)
            & (F.col("df") > _POSTING_FOLD_MAX)
        ).select("sh_hash")
        # Per-doc counts from the FLAT frame: identical multiset to
        # exploding the postings back out, and the postings frame no
        # longer covers the streamed keys.
        counts = dropped.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
        folded = dropped.join(F.broadcast(over_cap), "sh_hash", "left_anti")
    else:
        counts = None  # derived from the postings frame below
        folded = dropped
    # Posting lists here are <= _POSTING_FOLD_MAX entries each by
    # construction, so the fold's per-key fan-out is bounded at
    # df^2/2 structs built in place — never shuffled unaggregated.
    # The grouping shuffle is NOT pinned: AQE coalescing the
    # small-bytes postings shuffle to few partitions is fine here
    # because the fold is an in-JVM array pass, not a per-group
    # Python stage — a 3-run A/B at sf0.1 measured the pinned
    # variant at 2x the executor work (49.7 s vs 23.5 s) and worse
    # wall (2.92 s vs 2.39 s). At real scale the postings shuffle
    # exceeds the advisory size and keeps full parallelism on its
    # own.
    posted = folded.groupBy("sh_hash").agg(
        F.array_sort(F.collect_list("doc_id")).alias("docs")
    )
    if not streams:
        # Two consumers (counts + the pair fold): materialize once.
        posted = posted.localCheckpoint()
        counts = (
            posted.select(F.explode("docs").alias("doc_id"))
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_sh"))
        )
    pair_structs = F.filter(
        F.flatten(
            F.transform(
                F.col("docs"),
                lambda x, i: F.transform(
                    F.slice(
                        F.col("docs"), i + F.lit(2), F.size(F.col("docs"))
                    ),
                    lambda y: F.struct(
                        x.alias("doc_id_1"), y.alias("doc_id_2")
                    ),
                ),
            )
        ),
        lambda p: p["doc_id_1"] < p["doc_id_2"],
    )
    small_pairs = posted.select(F.explode(pair_structs).alias("p")).select(
        F.col("p.doc_id_1").alias("doc_id_1"),
        F.col("p.doc_id_2").alias("doc_id_2"),
    )
    pair_src = small_pairs
    if streams:
        # Pin the hot branch's partitioning: its pair work is m^2 per
        # key but its BYTES are tiny (one shingle row per member), so
        # AQE's size-based coalescing would lump every hot key into
        # one task (the pin_grouped_parallelism trap); an explicit
        # keyed repartition is AQE-exempt and both join sides share
        # it, so the join adds no further exchange.
        hot_posts = pin_grouped_parallelism(
            dropped.join(F.broadcast(over_cap), "sh_hash", "left_semi"),
            "sh_hash",
        )
        ha, hb = hot_posts.alias("ha"), hot_posts.alias("hb")
        big_pairs = ha.join(
            hb,
            (F.col("ha.sh_hash") == F.col("hb.sh_hash"))
            & (F.col("ha.doc_id") < F.col("hb.doc_id")),
        ).select(
            F.col("ha.doc_id").alias("doc_id_1"),
            F.col("hb.doc_id").alias("doc_id_2"),
        )
        pair_src = small_pairs.unionAll(big_pairs)
    pairs = pair_src.groupBy("doc_id_1", "doc_id_2").agg(
        F.count("*").alias("shared")
    )
    c1 = counts.select(F.col("doc_id").alias("doc_id_1"), F.col("n_sh").alias("n1"))
    c2 = counts.select(F.col("doc_id").alias("doc_id_2"), F.col("n_sh").alias("n2"))
    jaccard = F.col("shared") / (F.col("n1") + F.col("n2") - F.col("shared"))
    # No forced broadcast on the counts joins: counts has one row per
    # document, which at corpus scale is NOT broadcastable. AQE's
    # runtime re-plan picks broadcast when the aggregate actually is
    # small (it is at every test SF), and a shuffle join when not.
    return (
        pairs.join(c1, "doc_id_1")
        .join(c2, "doc_id_2")
        .where(jaccard >= threshold)
        .select("doc_id_1", "doc_id_2", F.round(jaccard, 4).alias("jaccard"))
    )


def q_dedup_ngram_jaccard(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.3,
    max_shingle_df: int = STOP_SHINGLE_MAX_DF,
) -> DataFrame:
    """Driver-facing: exact 3-gram Jaccard near-dup pairs over the
    documents table (see ngram_jaccard_pairs)."""
    return ngram_jaccard_pairs(
        load(spark, sf_dir, "documents"), threshold, max_shingle_df
    )


def jaccard_prefix_pairs(
    docs: DataFrame,
    threshold: float = 0.3,
    max_shingle_df: int = STOP_SHINGLE_MAX_DF,
    k: int = 3,
) -> DataFrame:
    """Exact-same output as :func:`ngram_jaccard_pairs`, via
    PPJoin-style prefix + length + positional filtering (Xiao et al.,
    "Efficient Similarity Joins for Near Duplicate Detection", WWW'08
    — public literature).

    Why it scales where full shingle blocking doesn't: the blocked
    join emits a row for EVERY shared shingle of every co-occurring
    doc pair. Prefix filtering joins only on each document's
    ``n - ceil(t*n) + 1`` RAREST shingles (global frequency order):
    two sets with Jaccard >= t must share at least ``ceil(t*max(n1,
    n2))`` elements, so their rare-end prefixes provably intersect —
    dropping the common-shingle join fan-out entirely. Survivors are
    pruned further by the length filter (``min(n)/max(n) >= t``, else
    Jaccard < t is forced) and the positional filter (a prefix match
    at 1-based positions (p1, p2) bounds the overlap by
    ``1 + min(n1-p1, n2-p2)``, which must reach the required
    ``ceil(t/(1+t)*(n1+n2))``). Only then is the exact intersection
    computed, candidate-restricted: two equijoins proportional to the
    surviving candidates' set sizes, never the full pair space.

    Everything is shuffle-disciplined for the 1000-executor case:
    the global shingle order is (df, sh_hash) attached by an equijoin
    (no global sort / single-partition window); per-doc positions come
    from a window PARTITIONED BY doc_id; candidate generation joins
    prefixes on sh_hash; AQE handles the small-side broadcasts.
    """
    t = threshold
    # Same multi-consumer checkpoint as ngram_jaccard_pairs (inside
    # _hot_dropped_shingles): the raw shingle frame feeds the hot-df
    # aggregate, the prefix ranking, and both verify equijoins — left
    # lazy each one re-tokenizes the corpus.
    sh = _hot_dropped_shingles(docs, max_shingle_df, k)
    cand = _prefix_candidates(sh, t)
    # Candidate-restricted exact verify: |A ∩ B| via two equijoins
    # whose volume is sum over candidates of set sizes.
    lhs = cand.join(
        sh.select(F.col("doc_id").alias("doc_id_1"), "sh_hash"), "doc_id_1"
    )
    inter = (
        lhs.join(
            sh.select(F.col("doc_id").alias("doc_id_2"), "sh_hash"),
            ["doc_id_2", "sh_hash"],
        )
        .groupBy("doc_id_1", "doc_id_2")
        .agg(F.count("*").alias("shared"))
    )
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    c1 = counts.select(
        F.col("doc_id").alias("doc_id_1"), F.col("n_sh").alias("n1")
    )
    c2 = counts.select(
        F.col("doc_id").alias("doc_id_2"), F.col("n_sh").alias("n2")
    )
    jaccard = F.col("shared") / (F.col("n1") + F.col("n2") - F.col("shared"))
    return (
        inter.join(c1, "doc_id_1")
        .join(c2, "doc_id_2")
        .where(jaccard >= t)
        .select("doc_id_1", "doc_id_2", F.round(jaccard, 4).alias("jaccard"))
    )


def _prefix_candidates(sh: DataFrame, t: float) -> DataFrame:
    """PPJoin candidate (doc_id_1 < doc_id_2) pairs from a distinct
    (doc_id, sh_hash) set representation — prefix, length, and
    positional filters only (no exact verify). Split out so tests and
    the bench can measure candidate volume against full blocking."""
    from pyspark.sql.window import Window

    dfreq = sh.groupBy("sh_hash").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("df").asc(), F.col("sh_hash").asc()
    )
    ranked = (
        sh.join(dfreq, "sh_hash")
        .select(
            "doc_id",
            "sh_hash",
            F.row_number().over(w).alias("pos"),
            F.count("*").over(Window.partitionBy("doc_id")).alias("n_sh"),
        )
    )
    # Prefix: the n - ceil(t*n) + 1 globally-rarest shingles.
    prefix = ranked.where(
        F.col("pos") <= F.col("n_sh") - F.ceil(F.lit(t) * F.col("n_sh")) + 1
    )
    a = prefix.select(
        F.col("doc_id").alias("doc_id_1"), "sh_hash",
        F.col("pos").alias("p1"), F.col("n_sh").alias("n1"),
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_id_2"), "sh_hash",
        F.col("pos").alias("p2"), F.col("n_sh").alias("n2"),
    )
    min_overlap = F.ceil(
        F.lit(t / (1.0 + t)) * (F.col("n1") + F.col("n2"))
    )
    return (
        a.join(b, "sh_hash")
        .where(F.col("doc_id_1") < F.col("doc_id_2"))
        # Length filter: J(A,B) <= min/max.
        .where(
            F.least("n1", "n2")
            >= F.ceil(F.lit(t) * F.greatest("n1", "n2"))
        )
        # Positional filter: any single prefix witness bounding the
        # overlap high enough keeps the pair (superset of PPJoin's
        # first-match rule — safe, no false negatives).
        .where(
            F.lit(1)
            + F.least(F.col("n1") - F.col("p1"), F.col("n2") - F.col("p2"))
            >= min_overlap
        )
        .select("doc_id_1", "doc_id_2")
        .distinct()
    )


def q_dedup_jaccard_prefix(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8
) -> DataFrame:
    """Driver-facing: prefix-filtered (PPJoin-style) exact Jaccard
    near-dup pairs. Registered at t=0.8 — the near-duplicate regime
    where prefix filtering bites: measured at sf0.1, candidate pairs
    drop from 1,130,536 (full shingle blocking) to 12,804 (88x; 68,594
    at t=0.6, 325,326 at t=0.3). Local wall time is fixed-stage-bound
    at this SF (the blocked join is already cheap); the candidate
    collapse is what survives a 100x scale-up, where pair fan-out —
    not stage count — is the cost."""
    return jaccard_prefix_pairs(load(spark, sf_dir, "documents"), threshold)


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-permutation MinHash signature per document of the documents
    table (see minhash_signatures_df)."""
    sh = _doc_shingles(spark, sf_dir)
    return _signatures_of_shingles(sh)


def minhash_signatures_df(docs: DataFrame) -> DataFrame:
    """32-permutation MinHash signature per (doc_id, text) row."""
    return minhash_signatures_from_toks(
        spread_scan(docs).withColumn("toks", tokens(F.col("text")))
    )


def minhash_signatures_from_toks(docs_toks: DataFrame) -> DataFrame:
    """Signatures from an ALREADY-TOKENIZED (doc_id, toks) frame — the
    entry point composites use to share one tokenization pass across
    consumers instead of re-tokenizing per stage."""
    sh = docs_toks.select(
        "doc_id", F.explode(shingles_of_tokens(F.col("toks"))).alias("shingle")
    )
    return _signatures_of_shingles(sh)


def _signatures_of_shingles(sh: DataFrame) -> DataFrame:
    """Shingle -> xxhash64 -> h' = |h| mod p, then min over
    (a_i*h' + b_i) mod p per permutation, computed as 32 column-wise
    min aggregates after one explode — partial aggregation handles
    the combine map-side, so the shuffle carries one 32-long row per
    (doc, partition), not per shingle.
    """
    h = F.pmod(F.xxhash64(F.col("shingle")), F.lit(MERSENNE_P)).alias("h")
    hashed = sh.select("doc_id", h)
    return hashed.groupBy("doc_id").agg(F.expr(_SIGNATURE_SQL))


def q_minhash_lsh_candidates(
    spark: SparkSession, sf_dir: str, max_bucket: int = LSH_MAX_BUCKET
) -> DataFrame:
    """LSH candidate pairs: 8 bands x 4 rows; docs agreeing on any
    full band collide. Shuffle volume is 8 (band_id, band_hash) rows
    per doc — the O(n) scale path that replaces the all-shingles join.

    Band buckets larger than ``max_bucket`` are dropped before the
    self-join (same hot-key guard as the shingle df cap): a degenerate
    bucket — e.g. every near-empty doc hashing to the same band value —
    would emit size^2/2 candidate rows on one key. Pairs inside a
    dropped bucket still surface through any of their other 7 bands,
    the standard LSH redundancy argument. Cap is far above any
    testdata bucket size, so output is unchanged at oracle scale."""
    return lsh_candidates_from_signatures(
        minhash_signatures(spark, sf_dir), max_bucket
    )


def signature_bands(sig: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_hash) — one row per LSH band per doc,
    from a (doc_id, signature) frame. The unit the band store persists
    and the band join shuffles: 8 small rows per document."""
    return sig.select("doc_id", F.expr(_BANDS_SQL)).select(
        "doc_id", "band.band_id", "band.band_hash"
    )


def lsh_candidates_from_signatures(
    sig: DataFrame, max_bucket: int = LSH_MAX_BUCKET
) -> DataFrame:
    """Band-bucket candidate pairs from a (doc_id, signature) frame
    (see q_minhash_lsh_candidates for semantics and the bucket cap).

    With the cap raised above ``_POSTING_FOLD_MAX`` (the regime that
    permits hub buckets), the band frame's parallelism is pinned on
    the bucket key before the self-join: a hub bucket's pair emission
    is m^2 per key while its BYTES are tiny (one 3-long row per
    member), so AQE's size-based coalescing otherwise runs the whole
    m^2 emission on ONE task (measured at sf0.1: the 0.2n hub clique's
    4M-pair join ran serially, 2.7-3.8 s wall; pinned it spreads over
    the band keys, 1.5-2.4 s wall). The guarded default keeps the
    original unpinned plan — its buckets are bounded at ``max_bucket``
    members so no single key can dominate, and the tiny band frame
    broadcast-joins with no exchange at all, which the pin would
    forfeit. A postings-array fold (the ngram_jaccard_pairs
    discipline) was measured and REJECTED for this operator: band
    rows are already narrow keys — there is no wide shingle table to
    keep off the shuffle — and the fold's in-place m^2/2 struct
    materialization costs ~2x the join's streamed emission (19.7 s vs
    7.3-23.8 s work, worse wall) on the adversarial corpus.
    """
    bands = signature_bands(sig)
    hot = (
        bands.groupBy("band_id", "band_hash")
        .agg(F.count("*").alias("sz"))
        .where(F.col("sz") > max_bucket)
        .select("band_id", "band_hash")
    )
    bands = bands.join(F.broadcast(hot), ["band_id", "band_hash"], "left_anti")
    if max_bucket > _POSTING_FOLD_MAX:
        bands = pin_grouped_parallelism(bands, "band_id", "band_hash")
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_1"), F.col("b.doc_id").alias("doc_id_2")
        )
        .distinct()
    )


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing: signature summarized to a stable scalar per doc
    (full arrays are checked in pytest; rows-only at the driver)."""
    sig = minhash_signatures(spark, sf_dir)
    return sig.select(
        "doc_id",
        F.aggregate(
            F.col("signature"), F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("signature_sum"),
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document from token xxhash64 bit votes.

    Per token, bit j votes +1/-1 by whether bit j of the hash is set;
    the per-doc sign vector packs back into a 32-bit fingerprint.
    Expressed as explode -> 32 conditional sums -> bit assembly; all
    JVM-side, one shuffle on doc_id with map-side partials.
    """
    d = spread_scan(load(spark, sf_dir, "documents"))
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    h = F.xxhash64(F.col("token"))
    votes = [
        F.sum(
            F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(32)
    ]
    agg = tok.groupBy("doc_id").agg(*votes)
    fingerprint = None
    for j in range(32):
        bit = F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        fingerprint = bit if fingerprint is None else fingerprint + bit
    return agg.select("doc_id", fingerprint.cast("long").alias("simhash"))


def q_simhash_near_dup(
    spark: SparkSession, sf_dir: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming.

    Candidate blocking splits the 32-bit fingerprint into
    ``max_hamming + 1`` bands: by pigeonhole, any pair within the
    hamming budget agrees exactly on at least one band, so the
    equijoin on (band_id, band_bits) finds every qualifying pair
    without the O(n^2) cross join; bit_count(xor) then verifies the
    true distance. Same shape as the MinHash band join — shuffle
    carries 4 small rows per doc.
    """
    n_bands = max_hamming + 1
    band_width = 32 // n_bands
    fp = q_simhash(spark, sf_dir)
    bands = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_id"),
                        F.shiftright(F.col("simhash"), i * band_width)
                        .bitwiseAND(F.lit((1 << band_width) - 1))
                        .alias("band_bits"),
                    )
                    # Last band absorbs the remainder bits via the
                    # shift; masking with band_width is fine because
                    # agreement on the wider last band implies
                    # agreement on its masked prefix.
                    for i in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", "b.band_id", "b.band_bits")
    a, b = bands.alias("a"), bands.alias("b")
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_bits") == F.col("b.band_bits"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_1"),
            F.col("b.doc_id").alias("doc_id_2"),
            hamming.alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def dedup_clusters(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Connected components over near-dup pairs -> (doc_id, canonical).

    The finisher of every near-dup pipeline: candidate pairs from any
    blocking scheme (shingle join, MinHash bands, SimHash bands,
    embedding buckets) form a graph; each component keeps one
    canonical doc (its min doc_id).

    Iterative min-label propagation: every node adopts the smallest
    label among itself and its neighbors until fixpoint. Each round is
    one join + one groupBy (both shuffle on doc_id/label keys);
    rounds needed = graph diameter, which for dedup graphs is tiny
    (near-dup clusters are dense cliques from banding, diameter 1-2).
    The driver-side loop is control flow only — data never leaves
    executors; ``localCheckpoint`` truncates the growing lineage so
    round N doesn't replay rounds 1..N-1.

    Input: columns (doc_id_1, doc_id_2). Output: one row per doc that
    appears in ANY pair: (doc_id, canonical_doc_id).
    """
    edges = (
        pairs.select(
            F.col("doc_id_1").cast("long").alias("src"),
            F.col("doc_id_2").cast("long").alias("dst"),
        )
        .union(
            pairs.select(
                F.col("doc_id_2").cast("long").alias("src"),
                F.col("doc_id_1").cast("long").alias("dst"),
            )
        )
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint()
    )
    from pyspark.sql import Observation

    for round_no in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # The update join already sees old and new labels side by side,
        # so convergence rides along as a boolean column, and the probe
        # is an Observation collected FROM THE CHECKPOINT JOB itself —
        # one Spark job per round total, no separate count action.
        proposed = F.least(
            F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
        )
        obs = Observation(f"cc_round_{round_no}")
        new_labels = (
            labels.join(neighbor_min, labels.doc_id == neighbor_min.src, "left")
            .select(
                "doc_id",
                proposed.alias("new_label"),
                (proposed < F.col("label")).alias("changed"),
            )
            .observe(obs, F.sum(F.col("changed").cast("long")).alias("n_changed"))
            .localCheckpoint()
        )
        labels = new_labels.select("doc_id", F.col("new_label").alias("label"))
        if (obs.get["n_changed"] or 0) == 0:
            break
    return labels.select("doc_id", F.col("label").alias("canonical_doc_id"))


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing: components over the exact-Jaccard >= 0.3 pair
    graph (oracle-able: DuckDB walks the same pairs with a recursive
    CTE)."""
    pairs = q_dedup_ngram_jaccard(spark, sf_dir)
    return dedup_clusters(pairs)


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/val/test split: every document splits by
    the md5 of its CLUSTER representative (connected components over
    the exact-Jaccard pair graph), not its own id — so two near-copies
    can never land one in train and one in test and inflate eval
    numbers (the leakage q_dataset_split's per-doc hashing permits,
    and the reason pretraining pipelines split after dedup).

    Cost on top of the components run is one left join of the
    (small — only clustered docs appear) label table back onto the
    corpus; singletons fall back to their own id, so coverage is
    every document exactly once, same as the plain split."""
    from datapoints_csv_extractor_spark.operators.textops import (
        split_assignment,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id")
    clusters = q_dedup_clusters(spark, sf_dir)
    key = F.coalesce(F.col("canonical_doc_id"), F.col("doc_id"))
    return (
        docs.join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            key.alias("split_key"),
            split_assignment(key).alias("split"),
            F.col("canonical_doc_id").isNotNull().alias(
                "in_near_dup_cluster"
            ),
        )
        .orderBy("doc_id")
    )


def minhash_dedup_pipeline(
    spark: SparkSession,
    sf_dir: str,
    est_threshold: float = 0.5,
    max_bucket: int = LSH_MAX_BUCKET,
) -> DataFrame:
    """The full 100 TB near-dup dedup pipeline, end to end:

      signatures (one pass, O(n))
      -> LSH band candidates (band join, O(n + near-dups))
      -> signature-estimated Jaccard verify (the fraction of agreeing
         MinHash positions is an unbiased estimator of true Jaccard —
         no re-tokenization, just two array lookups per candidate)
      -> connected components
      -> (doc_id, canonical_doc_id, est_jaccard-free label table)

    No stage ever touches the O(n^2) pair space and the all-shingles
    join never runs: this is the composition a training pipeline
    actually deploys at corpus scale, with the exact-Jaccard operator
    (q_dedup_ngram_jaccard) relegated to spot-check duty.
    """
    sig = minhash_signatures(spark, sf_dir)
    return _minhash_dedup_from_signatures(sig, est_threshold, max_bucket)


def minhash_dedup_pipeline_from_toks(
    docs_toks: DataFrame,
    est_threshold: float = 0.5,
    max_bucket: int = LSH_MAX_BUCKET,
) -> DataFrame:
    """The same end-to-end pipeline over a pre-tokenized (doc_id, toks)
    frame (see minhash_dedup_pipeline; composites pass their shared
    tokenized scan here)."""
    sig = minhash_signatures_from_toks(docs_toks)
    return _minhash_dedup_from_signatures(sig, est_threshold, max_bucket)


def _minhash_dedup_from_signatures(
    sig: DataFrame, est_threshold: float, max_bucket: int
) -> DataFrame:
    # Signatures feed three consumers (band join + both sides of the
    # estimate join); localCheckpoint materializes the shingle+min-agg
    # work ONCE instead of re-deriving it per consumer. The pipeline is
    # already eager (the component loop runs driver-side), so the
    # checkpoint does not change laziness semantics.
    sig = sig.localCheckpoint()
    cand = lsh_candidates_from_signatures(sig, max_bucket)
    s1 = sig.select(
        F.col("doc_id").alias("doc_id_1"), F.col("signature").alias("sig_1")
    )
    s2 = sig.select(
        F.col("doc_id").alias("doc_id_2"), F.col("signature").alias("sig_2")
    )
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("sig_1"), F.col("sig_2"), lambda a, b: a == b),
                lambda x: x,
            )
        )
        / F.lit(N_PERM)
    )
    verified = (
        cand.join(s1, "doc_id_1")
        .join(s2, "doc_id_2")
        .where(est >= est_threshold)
        .select("doc_id_1", "doc_id_2")
    )
    return dedup_clusters(verified)


def q_minhash_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing (rows-only: xxhash64-based end to end)."""
    return minhash_dedup_pipeline(spark, sf_dir)


def decontamination(
    train: DataFrame,
    eval_set: DataFrame,
    k: int = 8,
    max_gram_df: int = STOP_SHINGLE_MAX_DF,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word k-gram with an evaluation document — the overlap check every
    pretraining pipeline runs before training, asymmetric by design
    (containment of eval spans, not mutual similarity).

    Both sides reduce to DISTINCT k-gram hashes; the equijoin is
    blocked on the gram (a train doc only meets the eval docs it
    actually overlaps). No broadcast is FORCED on the eval side: an
    eval set is usually parameter-sized, but nothing bounds it by
    contract (the driver query uses 2% of the corpus), so the strategy
    is left to AQE — it broadcasts when the gram frame actually is
    small and falls back to a shuffle join when not, instead of
    OOMing on a large eval set.
    Hot grams above ``max_gram_df`` in the TRAIN corpus are dropped
    (ubiquitous boilerplate is not evidence of contamination — the cap
    mirrors standard 13-gram decontamination practice of ignoring
    overly common n-grams).

    Inputs: (doc_id, text) frames. Output per contaminated train doc:
    number of distinct shared k-grams and of eval docs hit.
    """
    return decontamination_from_toks(
        spread_scan(train).withColumn("toks", tokens(F.col("text"))),
        eval_set.withColumn("toks", tokens(F.col("text"))),
        k,
        max_gram_df,
    )


def _doc_grams(d: DataFrame, k: int) -> DataFrame:
    """(doc_id, gram_hash) — distinct word-k-gram hashes per doc."""
    return d.select(
        "doc_id",
        F.explode(shingles_of_tokens(F.col("toks"), k)).alias("gram"),
    ).select("doc_id", F.xxhash64("gram").alias("gram_hash"))


def eval_gram_table(eval_docs: DataFrame, k: int = 8) -> DataFrame:
    """The eval suite reduced to its (eval_doc_id, gram_hash) set —
    the precomputed STATIC side of decontamination. A streaming job
    builds this once and checks every micro-batch against it (see
    streaming/aggregates.py: stream_decontamination)."""
    return _doc_grams(
        eval_docs.withColumn("toks", tokens(F.col("text"))), k
    ).select(F.col("doc_id").alias("eval_doc_id"), "gram_hash")


def decontamination_against_grams(
    train: DataFrame,
    eval_grams: DataFrame,
    k: int = 8,
    max_gram_df: int = STOP_SHINGLE_MAX_DF,
) -> DataFrame:
    """Flag (doc_id, text) training docs overlapping a PREBUILT eval
    gram table (see decontamination for semantics; this entry skips
    re-deriving the eval side — the shape both the streaming twin and
    any repeated-scan batch caller want)."""
    tg = _doc_grams(
        spread_scan(train).withColumn("toks", tokens(F.col("text"))), k
    )
    hot = (
        tg.groupBy("gram_hash")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > max_gram_df)
        .select("gram_hash")
    )
    tg = tg.join(F.broadcast(hot), "gram_hash", "left_anti")
    return (
        tg.join(eval_grams, "gram_hash")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gram_hash").alias("n_contaminated_grams"),
            F.countDistinct("eval_doc_id").alias("n_eval_docs_hit"),
        )
    )


def decontamination_from_toks(
    train_toks: DataFrame,
    eval_toks: DataFrame,
    k: int = 8,
    max_gram_df: int = STOP_SHINGLE_MAX_DF,
) -> DataFrame:
    """Decontamination over pre-tokenized (doc_id, toks) frames (see
    decontamination; composites pass their shared tokenized scan)."""
    tg = _doc_grams(train_toks, k)
    hot = (
        tg.groupBy("gram_hash")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > max_gram_df)
        .select("gram_hash")
    )
    tg = tg.join(F.broadcast(hot), "gram_hash", "left_anti")
    eg = _doc_grams(eval_toks, k).select(
        F.col("doc_id").alias("eval_doc_id"), "gram_hash"
    )
    return (
        tg.join(eg, "gram_hash")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gram_hash").alias("n_contaminated_grams"),
            F.countDistinct("eval_doc_id").alias("n_eval_docs_hit"),
        )
    )


def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing: every 50th document plays the eval set; the rest
    are the training corpus scanned for 8-gram overlap."""
    d = load(spark, sf_dir, "documents")
    return decontamination(
        d.where(F.col("doc_id") % 50 != 0),
        d.where(F.col("doc_id") % 50 == 0),
    )


# ---------------------------------------------------------------------------
# Incremental (new-shard-vs-corpus) dedup
# ---------------------------------------------------------------------------
#
# A production pipeline ingests shards daily and dedups each NEW shard
# against the EXISTING corpus without recomputing the corpus — the
# "new vs known" pattern of the reference's catalog cache mutated
# across batches (/root/reference/csv-extractor/csv_extractor.py:151-154),
# applied at corpus scale. The persisted state is the MinHash band
# store, organized as one directory PER INGEST with a manifest as the
# atomic commit point:
#
#   <store>/manifest.json                    committed ingest ids
#   <store>/signatures/ingest=<id>/          (doc_id, signature)
#   <store>/bands/ingest=<id>/               (doc_id, band_id, band_hash)
#   <store>/bucket_counts/ingest=<id>/       that ingest's band counts
#
# Commit protocol (sinks/store_commit.py): an ingest writes its three
# directories (Spark overwrite — a replay of the same ingest id
# rewrites the same dirs), then adds its id to the manifest with
# ``store_commit.update_json`` (locked read-modify-write, atomic
# replace). Readers resolve the manifest first
# and read ONLY committed directories, so a crash mid-fold leaves
# garbage dirs (cleaned by compaction) but never a half-visible
# ingest, and re-running an ingest id is idempotent — the properties
# an at-least-once caller (foreachBatch replay) needs.
#
# Per-shard work is O(|shard| + candidates): signatures + bands for
# the new docs only (one pass over the shard), an ASYMMETRIC band join
# (new bands vs stored bands — the stored side is never re-derived
# from text), plus the new-vs-new self join. Hot-bucket caps apply to
# the bucket counts MERGED across committed ingests, so a bucket that
# only goes hot across shards is still dropped; the merge is an
# aggregate over per-ingest count tables (≤8 distinct rows per doc),
# not over the band data.


EMPTY_MANIFEST = {"ingests": [], "deletes": []}


def manifest_path(store_path: str) -> str:
    """The manifest of a manifest-backed store (band store, IVF
    assignments, IVF-PQ codes, NS vocabulary): ``ingests`` (committed
    ingest ids) and ``deletes`` (committed tombstone-batch ids), read
    and committed through ``sinks/store_commit.py`` with
    ``EMPTY_MANIFEST`` as the default."""
    import os

    return os.path.join(store_path, "manifest.json")


def _read_manifest(store_path: str) -> list[str]:
    return store_commit.read_json(manifest_path(store_path), EMPTY_MANIFEST)[
        "ingests"
    ]


def with_ingest(ingest_id: str):
    """Manifest mutation listing ``ingest_id`` once (a replayed commit
    is a no-op), for ``store_commit.update_json``."""
    return lambda m: (
        m if ingest_id in m["ingests"]
        else {**m, "ingests": m["ingests"] + [ingest_id]}
    )


def read_band_store(
    spark: SparkSession, store_path: str, table: str
) -> DataFrame | None:
    """Committed rows of one store table (``signatures`` / ``bands`` /
    ``bucket_counts``), or None when nothing is committed. Reads ONLY
    manifest-listed directories — uncommitted crash leftovers are
    invisible."""
    import os

    ingests = _read_manifest(store_path)
    if not ingests:
        return None
    return spark.read.parquet(
        *[os.path.join(store_path, table, f"ingest={i}") for i in ingests]
    )


def store_tombstones(
    spark: SparkSession, store_path: str, id_col: str = "doc_id"
) -> DataFrame | None:
    """All committed tombstoned ids of a manifest-backed store (band
    store or IVF assignment store — both share the manifest protocol),
    or None when no delete batch is committed. Reads ONLY
    manifest-listed ``tombstones/delete=<id>`` directories, mirroring
    ``read_band_store``'s crash-invisibility."""
    import os

    deletes = store_commit.read_json(
        manifest_path(store_path), EMPTY_MANIFEST
    )["deletes"]
    if not deletes:
        return None
    return (
        spark.read.parquet(
            *[
                os.path.join(store_path, "tombstones", f"delete={d}")
                for d in deletes
            ]
        )
        .select(id_col)
        .distinct()
    )


def delete_from_store(
    spark: SparkSession,
    store_path: str,
    ids,
    delete_id: str | None = None,
    id_col: str = "doc_id",
) -> bool:
    """Tombstone a batch of ids in a manifest-backed store — the
    deletion/redaction path a PII pipeline needs: a redacted document
    must stop matching as a dup candidate (band store) or serving as
    a neighbor (IVF store) IMMEDIATELY, without rewriting any ingest
    directory.

    Tombstones are a delete-side mirror of ingests: the batch writes
    ``tombstones/delete=<id>/`` then commits its id to the manifest's
    ``deletes`` ledger (``store_commit.update_json``). Query paths
    anti-join against the committed tombstone set; ``compact_*``
    folds them in physically (rows dropped, ledger cleared). Replay
    of an already-committed ``delete_id`` is a no-op (returns False)
    — the same at-least-once contract as the ingest fold.

    ``ids`` is a list of ints or a DataFrame with ``id_col``.
    """
    import os
    import uuid

    delete_id = delete_id or uuid.uuid4().hex[:12]
    path = manifest_path(store_path)
    if delete_id in store_commit.read_json(path, EMPTY_MANIFEST)["deletes"]:
        return False
    df = (
        ids
        if isinstance(ids, DataFrame)
        else spark.createDataFrame([(int(i),) for i in ids], f"{id_col} long")
    )
    df.select(id_col).distinct().write.mode("overwrite").parquet(
        os.path.join(store_path, "tombstones", f"delete={delete_id}")
    )

    store_commit.update_json(
        path,
        lambda m: m if delete_id in m["deletes"]
        else {**m, "deletes": m["deletes"] + [delete_id]},
        EMPTY_MANIFEST,
    )
    return True


def dedup_incremental(
    new_docs: DataFrame,
    store_path: str,
    est_threshold: float = 0.5,
    max_bucket: int = LSH_MAX_BUCKET,
    ingest_id: str | None = None,
) -> DataFrame:
    """Dedup a new (doc_id, text) shard against the persisted band
    store, then fold the shard into the store (manifest-committed —
    see the layout comment above for the crash/replay contract).

    Returns one row per duplicate relation found:
      (doc_id, dup_of_doc_id, est_jaccard, dup_kind)
    where ``dup_kind`` is 'known' (duplicate of an already-ingested
    doc) or 'new' (duplicate inside this shard; doc_id > dup_of).
    Verification is the signature-estimated Jaccard (fraction of
    agreeing MinHash positions) — no text is ever re-read for either
    side. doc_ids must be globally unique across shards (caller's
    contract, same as any append-only fact table).

    ``ingest_id`` makes the fold IDEMPOTENT: re-running the same id
    (an at-least-once caller's replay) recomputes the same verdicts —
    the shard's own committed rows are excluded from the "known" side
    — rewrites the same directories, and commits at most once. Without
    it a fresh unique id is minted (plain at-most-once batch call).
    """
    import os
    import uuid

    spark = new_docs.sparkSession
    ingest_id = ingest_id or uuid.uuid4().hex[:12]
    manifest = _read_manifest(store_path)
    committed = [i for i in manifest if i != ingest_id]
    already_committed = ingest_id in manifest

    sig_new = minhash_signatures_df(new_docs).localCheckpoint()
    # A pure explode of the checkpointed signatures: each consumer
    # re-derives it instead of paying a checkpoint job.
    bands_new = signature_bands(sig_new)
    counts_new = bands_new.groupBy("band_id", "band_hash").agg(
        F.count("*").alias("n")
    )
    has_store = bool(committed)

    def _committed(table: str, like: DataFrame) -> DataFrame:
        # The shard's own frame for the table carries the schema the
        # store was written with (the union below requires it), so
        # the read skips a schema-inference job per table.
        return spark.read.schema(like.schema).parquet(
            *[os.path.join(store_path, table, f"ingest={i}") for i in committed]
        )

    if has_store:
        counts_total = (
            counts_new.unionByName(_committed("bucket_counts", counts_new))
            .groupBy("band_id", "band_hash")
            .agg(F.sum("n").alias("n"))
        )
    else:
        counts_total = counts_new
    hot = counts_total.where(F.col("n") > max_bucket).select(
        "band_id", "band_hash"
    )
    bands_new_f = bands_new.join(
        F.broadcast(hot), ["band_id", "band_hash"], "left_anti"
    )

    # New-vs-new candidates (within the shard).
    a, b = bands_new_f.alias("a"), bands_new_f.alias("b")
    cand_new = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") > F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("b.doc_id").alias("dup_of_doc_id"),
        )
        .distinct()
        .withColumn("dup_kind", F.lit("new"))
    )

    # Tombstoned docs (deleted/redacted since their ingest) must stop
    # matching as "known" candidates right away — the physical rows go
    # at the next compaction; until then the anti-join hides them.
    # Strategy left to AQE: delete batches are usually tiny
    # (broadcast) but nothing bounds them by contract.
    dead = store_tombstones(spark, store_path) if has_store else None

    if has_store:
        # New-vs-known: asymmetric — the stored side joins as-is, its
        # signatures were computed when ITS shard arrived.
        bands_known = _committed("bands", bands_new).join(
            F.broadcast(hot), ["band_id", "band_hash"], "left_anti"
        )
        if dead is not None:
            bands_known = bands_known.join(dead, "doc_id", "left_anti")
        k = bands_known.alias("k")
        cand_known = (
            bands_new_f.alias("a")
            .join(
                k,
                (F.col("a.band_id") == F.col("k.band_id"))
                & (F.col("a.band_hash") == F.col("k.band_hash")),
            )
            .select(
                F.col("a.doc_id").alias("doc_id"),
                F.col("k.doc_id").alias("dup_of_doc_id"),
            )
            .distinct()
            .withColumn("dup_kind", F.lit("known"))
        )
        cand = cand_new.unionByName(cand_known)
        sig_all = sig_new.unionByName(_committed("signatures", sig_new))
    else:
        cand = cand_new
        sig_all = sig_new

    s1 = sig_new.select(
        F.col("doc_id").alias("doc_id"), F.col("signature").alias("sig_1")
    )
    s2 = sig_all.select(
        F.col("doc_id").alias("dup_of_doc_id"),
        F.col("signature").alias("sig_2"),
    )
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("sig_1"), F.col("sig_2"), lambda x, y: x == y),
                lambda x: x,
            )
        )
        / F.lit(N_PERM)
    )
    verdicts = (
        cand.join(s1, "doc_id")
        .join(s2, "dup_of_doc_id")
        .select(
            "doc_id",
            "dup_of_doc_id",
            F.round(est, 4).alias("est_jaccard"),
            "dup_kind",
        )
        .where(F.col("est_jaccard") >= est_threshold)
        .localCheckpoint()  # materialize BEFORE the store mutates below
    )

    if not already_committed:
        for table, df in (
            ("signatures", sig_new),
            ("bands", bands_new),
            ("bucket_counts", counts_new),
        ):
            df.write.mode("overwrite").parquet(
                os.path.join(store_path, table, f"ingest={ingest_id}")
            )
        store_commit.update_json(
            manifest_path(store_path), with_ingest(ingest_id), EMPTY_MANIFEST
        )
    return verdicts


def q_dedup_incremental_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing (rows-only): the tombstone lifecycle end to end.
    Ingest the first half of the documents table into a scratch band
    store, tombstone every third ingested doc (the PII-redaction
    shape), then return the second half's verdicts — duplicates of
    deleted docs must NOT appear as 'known' matches. Output adds a
    constant n_deleted column so the row set pins both the verdict
    filtering and the delete count."""
    import shutil
    import tempfile

    store = tempfile.mkdtemp(prefix="spark_graft_bandstore_del_")
    try:
        d = load(spark, sf_dir, "documents")
        cut = d.agg(F.expr("percentile_approx(doc_id, 0.5)")).first()[0]
        first = d.where(F.col("doc_id") <= cut)
        dedup_incremental(first, store, ingest_id="seed").count()
        dead = first.where(F.col("doc_id") % 3 == 0).select("doc_id")
        n_deleted = dead.count()
        delete_from_store(spark, store, dead, delete_id="redact")
        # Verdicts returned UNFILTERED: if the tombstone anti-join
        # broke, duplicates of deleted docs would reappear as 'known'
        # rows and the recorded row count would move — the regression
        # surfaces in the driver's rows-only record, not get masked.
        return dedup_incremental(
            d.where(F.col("doc_id") > cut), store
        ).withColumn("n_deleted", F.lit(n_deleted))
    finally:
        shutil.rmtree(store, ignore_errors=True)


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing (rows-only): split the documents table into two
    'daily shards' (first/second half by doc_id), ingest shard 1 to a
    fresh scratch store, then return shard 2's verdicts against it —
    the second ingest never recomputes shard 1's signatures.

    The scratch store is a PRIVATE mkdtemp per call (concurrent
    sessions must not rmtree each other's live store) and is removed
    before returning — safe because the verdict frame is
    localCheckpoint-materialized inside dedup_incremental.
    """
    import shutil
    import tempfile

    store = tempfile.mkdtemp(prefix="spark_graft_bandstore_")
    try:
        d = load(spark, sf_dir, "documents")
        cut = d.agg(F.expr("percentile_approx(doc_id, 0.5)")).first()[0]
        dedup_incremental(d.where(F.col("doc_id") <= cut), store).count()
        return dedup_incremental(d.where(F.col("doc_id") > cut), store)
    finally:
        shutil.rmtree(store, ignore_errors=True)


# Last-run convergence round count of dedup_clusters_twostar (the
# bench records it next to wall time; rounds are deterministic for a
# given pair graph, so re-runs agree).
TWOSTAR_TELEMETRY: dict[str, int] = {"rounds": 0}


def dedup_clusters_twostar(pairs: DataFrame, max_rounds: int = 30) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond") — same output contract as ``dedup_clusters`` (one row per
    doc in any pair: (doc_id, canonical_doc_id) = component min), in
    O(log d) rounds instead of O(d).

    Why it exists: min-label propagation needs as many rounds as the
    graph DIAMETER. Dedup graphs from banding are usually dense
    cliques (diameter 1-2), but chained near-dup clusters (A~B~C~...,
    each link above threshold, ends below it) produce paths — at 100 TB
    a 10k-long chain means 10k propagation rounds but only ~14
    two-star rounds. Each round here is the same shuffle shape as one
    propagation round (a groupBy(min) + a join-free re-emit), so the
    round SAVINGS is the whole win.

    large-star: every node's strictly-larger neighbors re-attach to
    its smallest neighbor (or itself); small-star: every node's
    not-larger neighbors re-attach likewise. At fixpoint each
    component is a star centered at its min node. Convergence is
    detected by an order-insensitive xxhash64 checksum of the oriented
    edge set (one tiny aggregate per round, collision odds ~2^-64).
    """
    # Materialize the pair set ONCE: nodes and edges are separate
    # checkpoint actions, and without this the whole upstream pair
    # generation (the Jaccard join/fold) re-executed for each —
    # exchange reuse never spans actions (the kcore lesson).
    raw = pairs.select(
        F.col("doc_id_1").cast("long").alias("a"),
        F.col("doc_id_2").cast("long").alias("b"),
    ).localCheckpoint()
    # Nodes come from the UNFILTERED pair set: a doc appearing only in
    # a self-pair still gets its (doc, doc) verdict row, matching
    # dedup_clusters' output contract; only the edge set drops
    # self-loops (they never merge anything).
    nodes = (
        raw.select(F.explode(F.array("a", "b")).alias("doc_id"))
        .distinct()
        .localCheckpoint()
    )
    edges = (
        raw.where(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        .distinct()
        .localCheckpoint()
    )

    def _checksum(e: DataFrame) -> tuple[int, int]:
        # bit_xor, not sum: summing 64-bit hashes overflows LONG under
        # the driver's ANSI-on sessions (the round-1 winnowing lesson);
        # xor is order-insensitive and closed over int64. Edges are
        # distinct, so (count, xor) identifies the set up to ~2^-64.
        row = e.agg(
            F.count("*").alias("n"),
            F.coalesce(
                F.expr("bit_xor(xxhash64(a, b))"), F.lit(0)
            ).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    prev = _checksum(edges)
    rounds_run = 0
    for _ in range(max_rounds):
        # large-star over the symmetrized neighborhoods.
        sym = edges.select("a", "b").union(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        m_of = sym.groupBy("a").agg(
            F.least(F.min("b"), F.first("a")).alias("m")
        )
        large = (
            sym.join(m_of, "a")
            .where(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .distinct()
        )
        # small-star over the (big -> small) oriented edges.
        m_small = large.groupBy("a").agg(F.min("b").alias("m"))
        joined = large.join(m_small, "a")
        small = (
            joined.where(F.col("b") != F.col("m"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .union(m_small.select("a", F.col("m").alias("b")))
            .distinct()
            .localCheckpoint()
        )
        edges = small
        rounds_run += 1
        cur = _checksum(edges)
        if cur == prev:
            break
        prev = cur

    # Convergence telemetry for the bench: a wall-time regression here
    # is either MORE rounds (graph shape changed) or SLOWER rounds
    # (plan regressed) — recording the count disambiguates.
    TWOSTAR_TELEMETRY["rounds"] = rounds_run

    parent = edges.groupBy("a").agg(F.min("b").alias("canonical"))
    return nodes.join(parent, nodes.doc_id == parent.a, "left").select(
        "doc_id",
        F.coalesce(F.col("canonical"), F.col("doc_id")).alias(
            "canonical_doc_id"
        ),
    )


def q_dedup_clusters_twostar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing: the two-star components finisher over the same
    exact-Jaccard pair graph as q_dedup_clusters — output-identical,
    so it shares the recursive-CTE oracle."""
    pairs = q_dedup_ngram_jaccard(spark, sf_dir)
    return dedup_clusters_twostar(pairs)


def q_multimodal_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joint text+semantic dedup: union the exact-Jaccard near-dup
    edges (text modality) with the label-blocked cosine near-dup
    edges (embedding modality, vec_id == doc_id in this corpus) and
    run ONE connected-components pass over the merged graph — a doc
    caught by EITHER modality joins its cluster, the transitive
    closure crossing modalities (text-dup of a semantic-dup of X
    collapses to X's component).

    This is the production shape for multimodal corpora: per-modality
    candidate generation stays independently blocked/capped (each
    linear), and only the edge lists — already tiny relative to the
    corpus — meet in the component finisher. Fully oracle-able: both
    edge generators and the recursive-CTE closure have SQL twins.
    """
    from datapoints_csv_extractor_spark.operators.similarity import (
        q_embedding_near_dup,
    )

    text_edges = q_dedup_ngram_jaccard(spark, sf_dir).select(
        "doc_id_1", "doc_id_2"
    )
    sem_edges = q_embedding_near_dup(spark, sf_dir).select(
        F.col("vec_id_1").alias("doc_id_1"),
        F.col("vec_id_2").alias("doc_id_2"),
    )
    return dedup_clusters(text_edges.unionByName(sem_edges).distinct())


def q_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup observability: the duplicate-cluster size histogram —
    how many near-dup groups of each size the corpus carries (the
    number a curation team actually watches: a fat tail here means a
    template farm or a crawler loop, not organic duplication).

    Pure composition: components (the oracle-able label-propagation
    finisher over the exact-Jaccard pair graph) -> size per canonical
    -> histogram. Two tiny aggregates over the components table, which
    is itself bounded by docs-in-clusters — at 100 TB the histogram is
    metadata-cheap relative to the pair generation it reuses."""
    clusters = q_dedup_clusters(spark, sf_dir)
    sizes = clusters.groupBy("canonical_doc_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .orderBy("cluster_size")
    )


def band_store_stats(spark: SparkSession, store_path: str) -> DataFrame:
    """Health report for the band store, one row per committed
    ingest: (ingest, n_docs, n_bands, n_files) plus one 'tombstones'
    summary row — the maintenance-window read that decides when
    ``compact_band_store`` is due (file fragmentation) and how much
    dead weight the tombstone ledger is hiding (anti-join cost per
    query until the next fold).

    One metadata-pruned aggregate per table; result is
    ingest-count-sized, never data-sized."""
    import glob as _glob
    import os

    manifest = store_commit.read_json(manifest_path(store_path), EMPTY_MANIFEST)
    rows = []
    for i in manifest["ingests"]:
        sig_dir = os.path.join(store_path, "signatures", f"ingest={i}")
        band_dir = os.path.join(store_path, "bands", f"ingest={i}")
        n_docs = spark.read.parquet(sig_dir).count()
        n_bands = spark.read.parquet(band_dir).count()
        n_files = len(_glob.glob(os.path.join(sig_dir, "*.parquet"))) + len(
            _glob.glob(os.path.join(band_dir, "*.parquet"))
        )
        rows.append((i, n_docs, n_bands, n_files))
    dead = store_tombstones(spark, store_path)
    rows.append(
        ("tombstones", dead.count() if dead is not None else 0, 0,
         len(_glob.glob(os.path.join(store_path, "tombstones", "delete=*"))))
    )
    return spark.createDataFrame(
        rows, "ingest string, n_docs long, n_bands long, n_files long"
    )


def bloom_decontamination(
    train: DataFrame,
    eval_set: DataFrame,
    k: int = 8,
    m_bits: int = 1 << 17,
    n_hashes: int = 4,
) -> DataFrame:
    """Bloom-filter decontamination — the MAP-ONLY scale path next to
    the exact gram equijoin (``decontamination``): fold the eval set's
    k-gram hash positions into an ``m_bits`` bitset once, ship it to
    every task as a literal, and probe each training document's grams
    in place. The training corpus is never shuffled — at 100 TB the
    exact path's gram join moves the whole tokenized corpus, while
    this probe is embarrassingly parallel and the eval state is
    m/64 longs regardless of eval-set size.

    Bloom guarantees: NO false negatives (every truly shared gram is
    flagged), false positives at ~(kn/m)^k; callers feed flagged docs
    to the exact join for confirmation when precision matters — the
    classic two-tier screen.

    The bitset build is distributed: positions reduce to at most
    m/64 (word, bits) rows via bit_or partial aggregation, so the
    driver collect is bitset-bounded (parameter-sized), never
    eval-gram-bounded. Hashing is Kirsch-Mitzenmacher double hashing
    over the two md5 halves — deterministic, engine-reproducible (the
    DuckDB oracle recomputes the identical positions), unlike
    ``df.stat.bloomFilter``'s opaque sketch. The literal-array probe
    holds to ~2^20 bits; past that the bitset rides a broadcast join
    on the word index instead of a literal.
    """
    def gram_hashes(d: DataFrame) -> DataFrame:
        g = d.withColumn("toks", tokens(F.col("text"))).select(
            "doc_id",
            F.explode(shingles_of_tokens(F.col("toks"), k)).alias("gram"),
        )
        return g.select(
            "doc_id",
            "gram",
            F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10)
            .cast("long")
            .alias("h1"),
            F.conv(F.substring(F.md5("gram"), 9, 8), 16, 10)
            .cast("long")
            .alias("h2"),
        )

    import numpy as np

    n_words = m_bits // 64
    # Variable-distance shifts aren't expressible in the classic Column
    # API (shiftleft takes a literal), so single-bit masks come from a
    # 64-entry powers-of-two lookup. F.lit(numpy array), NOT
    # F.lit(list) / F.array(*lits): PySpark expands a Python list into
    # array(*[lit(x) ...]) — one py4j round-trip PER ELEMENT to build
    # (measured 1.2-1.5 s of pure driver time for the 2048-word
    # bitset) and a CreateArray expression that HOF lambdas then
    # rebuild per evaluation (no constant folding inside lambda
    # bodies). A 1-D numpy array takes the single-call JVM literal
    # path and lands as one true array Literal.
    pow2 = F.lit(
        np.array(
            [(1 << i) if i < 63 else -(1 << 63) for i in range(64)],
            dtype=np.int64,
        )
    )
    pos = (
        gram_hashes(eval_set)
        .select(
            F.explode(
                F.array(*[F.lit(i) for i in range(n_hashes)])
            ).alias("i"),
            "h1",
            "h2",
        )
        .select(((F.col("h1") + F.col("i") * F.col("h2")) % m_bits).alias("p"))
    )
    # No distinct before the word fold: bit_or is idempotent, so
    # duplicate positions are harmless, and the groupBy's map-side
    # partial aggregation already reduces every task's output to at
    # most m/64 rows — the distinct was a second full shuffle that
    # bought nothing at any scale.
    words = (
        pos.groupBy((F.col("p") / 64).cast("int").alias("wi"))
        .agg(
            F.bit_or(
                F.element_at(pow2, (F.col("p") % 64).cast("int") + 1)
            ).alias("bits")
        )
        .collect()
    )
    bitset = np.zeros(n_words, dtype=np.int64)
    for r in words:
        bitset[r.wi] = r.bits
    bitset_lit = F.lit(bitset)

    # spread_scan: the probe is the map-only half of the operator and
    # the training corpus often arrives as few parquet splits (ONE at
    # the test SFs) — without the fan-out the whole md5 probe chain
    # runs on one core (measured: ~2.8 s serial at sf0.1, <0.2 s
    # spread over 32).
    t = spread_scan(train).withColumn("toks", tokens(F.col("text"))).select(
        "doc_id", shingles_of_tokens(F.col("toks"), k).alias("grams")
    )

    def bit_set(p: Column) -> Column:
        word = F.element_at(bitset_lit, (p / 64).cast("int") + 1)
        mask = F.element_at(pow2, (p % 64).cast("int") + 1)
        return word.bitwiseAND(mask) != 0

    # Two-stage probe: materialize each gram's (h1, h2) ONCE via a
    # transform (interpreted lambdas get no CSE, so referencing
    # md5(g) from all n_hashes probes would hash n_hashes*2 times),
    # then test bits against struct-field reads of the lambda
    # argument — 2 md5 evaluations per gram, total.
    def hash_pair(g: Column) -> Column:
        return F.struct(
            F.conv(F.substring(F.md5(g), 1, 8), 16, 10)
            .cast("long")
            .alias("h1"),
            F.conv(F.substring(F.md5(g), 9, 8), 16, 10)
            .cast("long")
            .alias("h2"),
        )

    def probe(h: Column) -> Column:
        cond = F.lit(True)
        for i in range(n_hashes):
            cond = cond & bit_set((h["h1"] + i * h["h2"]) % m_bits)
        return cond

    return (
        t.select(
            "doc_id",
            F.size(
                F.filter(F.transform(F.col("grams"), hash_pair), probe)
            ).alias("n_flagged_grams"),
        )
        .where(F.col("n_flagged_grams") > 0)
    )


def q_bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing Bloom screen with q_decontamination's eval split
    (every 50th doc): flagged docs and their flagged-gram counts."""
    d = load(spark, sf_dir, "documents")
    return bloom_decontamination(
        d.where(F.col("doc_id") % 50 != 0),
        d.where(F.col("doc_id") % 50 == 0),
    )


def plan_lsh_parameters(
    threshold: float,
    n_perm_budget: int = 128,
    fn_weight: float = 1.0,
    fp_weight: float = 1.0,
) -> dict:
    """Choose MinHash-LSH banding (b bands x r rows) for a target
    Jaccard ``threshold`` — the S-curve solver (Mining of Massive
    Datasets §3.4): candidate probability at similarity s is
    1 - (1 - s^r)^b, and (1/b)^(1/r) approximates the curve's
    inflection. Enumerates every (b, r) with b*r <= ``n_perm_budget``
    and picks the one minimizing the weighted integral of false
    negatives above the threshold plus false positives below it —
    the exact criterion, not the inflection heuristic, so asymmetric
    costs (a dedup pass that must not MISS dups sets fn_weight high)
    shift the plan toward more bands.

    Driver-side planning math (a few thousand candidate pairs, simple
    quadrature) — run once before sizing a corpus-scale dedup job.
    Returns {n_bands, rows_per_band, n_perm, inflection, fn_area,
    fp_area}.
    """
    if not (0.0 < threshold < 1.0):
        raise ValueError(f"threshold must be in (0,1), got {threshold}")
    best = None
    steps = 200
    for r in range(1, n_perm_budget + 1):
        for b in range(1, n_perm_budget // r + 1):
            fn = fp = 0.0
            for i in range(steps):
                s = (i + 0.5) / steps
                p = 1.0 - (1.0 - s**r) ** b
                if s >= threshold:
                    fn += (1.0 - p) / steps
                else:
                    fp += p / steps
            cost = fn_weight * fn + fp_weight * fp
            if best is None or cost < best[0]:
                best = (cost, b, r, fn, fp)
    _, b, r, fn, fp = best
    return {
        "n_bands": b,
        "rows_per_band": r,
        "n_perm": b * r,
        "inflection": (1.0 / b) ** (1.0 / r),
        "fn_area": fn,
        "fp_area": fp,
    }


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-BEST-representative dedup: per near-dup cluster, the
    surviving document is the most valuable member — here the longest
    (token count), tie-broken by smallest id — not the arbitrary
    min-id canonical. The production curation choice: when near-copies
    differ (one truncated, one complete), min-id keeps whichever
    crawled first; keep-best keeps the complete one.

    One join of the component labels onto token counts + one
    struct-ordered max_by per cluster (deterministic argmax:
    (n_tokens, -doc_id) ordering), all JVM-side. Oracle: the cluster
    recursive CTE + a row_number pick over the same ordering."""
    labels = q_dedup_clusters(spark, sf_dir)
    toks = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    joined = labels.join(toks, "doc_id")
    best = F.max_by(
        F.struct(
            F.col("doc_id").alias("kept_doc_id"),
            F.col("n_tokens").alias("kept_tokens"),
        ),
        F.struct(F.col("n_tokens"), (-F.col("doc_id")).alias("neg_id")),
    )
    return (
        joined.groupBy("canonical_doc_id")
        .agg(best.alias("best"), F.count(F.lit(1)).alias("n_members"))
        .select(
            "canonical_doc_id",
            F.col("best.kept_doc_id").alias("kept_doc_id"),
            F.col("best.kept_tokens").alias("kept_tokens"),
            "n_members",
        )
        .orderBy("canonical_doc_id")
    )


# --------------------------------------------------------------------------
# Content-defined chunking (Rabin-style rolling-window boundaries)
# --------------------------------------------------------------------------

def cdc_chunks(
    docs: DataFrame,
    window: int = 8,
    divisor: int = 64,
    remainder: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Content-defined chunking (the Rabin/LBFS family — Muthitacharoen
    et al. 2001; the primitive behind chunk-level storage dedup of
    near-identical files): a chunk boundary falls after position ``i``
    whenever the hash of the trailing ``window`` characters satisfies
    ``H % divisor == remainder``, so an insertion early in a document
    only reshapes the chunks it touches — unlike fixed-size blocks,
    where one shifted byte changes every downstream block hash.
    Expected chunk length ~= ``divisor`` chars plus the window.

    The boundary rule is the STATELESS form (each position's verdict
    depends only on its own window), with H the base-31 polynomial of
    the window's code points mod 2^32 — exact integer arithmetic both
    a numpy kernel and portable SQL reproduce bit-identically.
    Production CDC adds min/max chunk-size clamps, which make the
    boundary sequence a sequential fold (each accepted boundary masks
    the next min-size chars); that variant trades the shared-boundary
    self-healing property for bounded chunk sizes and is deliberately
    not modeled.

    Execution: a vectorized Arrow kernel (``mapInPandas`` + numpy
    sliding windows) — the one operator family in this module where
    the JVM-expression route measurably loses. Catalyst HOF lambdas
    run interpreted (no codegen, no CSE), and a per-character
    ``aggregate`` fold measured ~95 us/char at sf0.1 — 4.5 s for a
    1.5 MB corpus; the numpy kernel does the same sweep in
    milliseconds and the md5 per CHUNK (not per char) stays cheap.
    Map-only at any scale: chunking needs no shuffle, and per-doc
    Python-loop overhead is amortized by Arrow batches.

    Emits one row per chunk: (id, chunk_id, start, chunk_len,
    chunk_hash), 1-based character start, covering every character
    exactly once; an empty document emits one empty chunk so ids
    never vanish."""
    import hashlib

    import numpy as np
    import pandas as pd

    powers = np.array(
        [pow(31, window - 1 - j, 1 << 32) for j in range(window)],
        dtype=np.uint64,
    )
    out_schema = (
        f"{id_col} long, chunk_id int, start int, chunk_len int, "
        "chunk_hash string"
    )

    def _chunk_batch(batches):
        for pdf in batches:
            rows = {
                id_col: [], "chunk_id": [], "start": [],
                "chunk_len": [], "chunk_hash": [],
            }
            for did, text in zip(pdf[id_col], pdf[text_col]):
                text = "" if text is None else text
                L = len(text)
                if L >= window:
                    codes = np.frombuffer(
                        text.encode("utf-32-le"), dtype=np.uint32
                    ).astype(np.uint64)
                    wins = np.lib.stride_tricks.sliding_window_view(
                        codes, window
                    )
                    # max term < 0x110000 * 2^32 and window sums stay
                    # far below 2^64 — exact uint64, then mod 2^32.
                    h = (wins * powers).sum(axis=1) & 0xFFFFFFFF
                    # window ending at 1-based position i = w + row idx
                    ends = (
                        np.flatnonzero(h % divisor == remainder) + window
                    )
                    if len(ends) == 0 or ends[-1] != L:
                        ends = np.append(ends, L)
                else:
                    ends = np.array([L])
                starts = np.concatenate(([0], ends[:-1])) + 1
                for cid, (s, e) in enumerate(zip(starts, ends)):
                    rows[id_col].append(did)
                    rows["chunk_id"].append(cid)
                    rows["start"].append(int(s))
                    rows["chunk_len"].append(int(e - s + 1))
                    rows["chunk_hash"].append(
                        hashlib.md5(
                            text[s - 1 : e].encode("utf-8")
                        ).hexdigest()
                    )
            yield pd.DataFrame(rows)

    return docs.select(id_col, text_col).mapInPandas(
        _chunk_batch, schema=out_schema
    )


def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing CDC dedup report: chunk the corpus, count each
    chunk hash corpus-wide, and report per doc how many of its chunks
    are shared with at least one other chunk instance — the
    storage-dedup ratio a chunk store would realize. ONE scan and two
    shuffles: corpus-wide instance counts come from a count window
    over chunk_hash (not a groupBy + self-join, which would
    re-execute the whole per-byte md5 sweep on a second scan —
    measured 4 scans / 10 exchanges in that shape vs 1 scan here),
    then the per-doc rollup. The window key is md5-uniform, so no
    skew guard is needed; no pair space anywhere."""
    from pyspark.sql import Window

    from datapoints_csv_extractor_spark.operators.relational import load
    from datapoints_csv_extractor_spark.operators.skew import spread_scan

    # The md5 window sweep is per-row-heavy map work over a corpus
    # that may be one parquet split — fan the scan out first
    # (measured 27 s -> ~2 s at sf0.1: one task was doing the whole
    # per-char sweep).
    d = spread_scan(
        load(spark, sf_dir, "documents").select("doc_id", "text")
    )
    chunks = cdc_chunks(d)
    return (
        chunks.withColumn(
            "n_instances",
            F.count(F.lit(1)).over(Window.partitionBy("chunk_hash")),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("chunk_len").alias("sum_chunk_len"),
            F.countDistinct("chunk_hash").alias("n_distinct_chunks"),
            F.sum((F.col("n_instances") > 1).cast("long")).alias(
                "n_shared_chunks"
            ),
        )
        .orderBy("doc_id")
    )


def cdc_chunks_oracle_sql(
    window: int = 8, divisor: int = 64, remainder: int = 0
) -> str:
    """DuckDB twin of q_cdc_chunks: the identical base-31 polynomial
    window hash (reduced powers mod 2^32 as integer literals — the
    same values the numpy kernel uses), identical boundary rule and
    chunk reconstruction. The per-position term sum is composed
    programmatically so SQL and kernel can never drift on the power
    table."""
    terms = " + ".join(
        f"CAST(ord(substr(text, i - {window - 1 - j}, 1)) AS BIGINT) "
        f"* {pow(31, window - 1 - j, 1 << 32)}"
        for j in range(window)
    )
    return f"""
        WITH t AS (
            SELECT doc_id, text, length(text) AS L FROM documents
        ), b AS (
            SELECT doc_id, text, L,
                   list_filter(
                       CASE WHEN L >= {window}
                            THEN generate_series({window}, L)
                            ELSE [] END,
                       i -> (({terms}) % 4294967296) % {divisor}
                            = {remainder}) AS bounds
            FROM t
        ), e AS (
            SELECT doc_id, text,
                   list_concat(
                       bounds,
                       CASE WHEN len(bounds) > 0 AND bounds[-1] = L
                            THEN [] ELSE [L] END) AS ends
            FROM b
        ), c AS (
            SELECT doc_id,
                   i - 1 AS chunk_id,
                   CASE WHEN i = 1 THEN 1 ELSE ends[i - 1] + 1 END
                       AS start,
                   ends[i] - (CASE WHEN i = 1 THEN 1
                                   ELSE ends[i - 1] + 1 END) + 1
                       AS chunk_len,
                   md5(substr(text,
                              CASE WHEN i = 1 THEN 1
                                   ELSE ends[i - 1] + 1 END,
                              ends[i] - (CASE WHEN i = 1 THEN 1
                                              ELSE ends[i - 1] + 1 END)
                              + 1)) AS chunk_hash
            FROM e, unnest(generate_series(1, len(ends))) AS g(i)
        ), counts AS (
            SELECT chunk_hash, count(*) AS n_instances
            FROM c GROUP BY chunk_hash
        )
        SELECT c.doc_id,
               count(*) AS n_chunks,
               CAST(sum(c.chunk_len) AS BIGINT) AS sum_chunk_len,
               count(DISTINCT c.chunk_hash) AS n_distinct_chunks,
               CAST(sum(CASE WHEN counts.n_instances > 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_shared_chunks
        FROM c JOIN counts USING (chunk_hash)
        GROUP BY c.doc_id
        ORDER BY c.doc_id
    """


def cdc_chunks_binary(
    blobs: DataFrame,
    window: int = 8,
    divisor: int = 64,
    remainder: int = 0,
    blob_col: str = "payload",
    id_col: str = "blob_id",
) -> DataFrame:
    """``cdc_chunks`` for binary blob columns — the multimodal twin:
    chunk-level dedup of near-identical media files (re-encoded
    containers sharing payload runs, re-uploaded files with edited
    headers). Same stateless base-31 window hash and the same
    vectorized Arrow kernel, over raw bytes (uint8) instead of code
    points; chunk hashes are md5 of the chunk bytes. Map-only; the
    byte-domain boundary decisions are pinned against the text
    variant in pytest (ASCII payloads must chunk identically through
    either path)."""
    import hashlib

    import numpy as np
    import pandas as pd

    powers = np.array(
        [pow(31, window - 1 - j, 1 << 32) for j in range(window)],
        dtype=np.uint64,
    )
    out_schema = (
        f"{id_col} long, chunk_id int, start int, chunk_len int, "
        "chunk_hash string"
    )

    def _chunk_batch(batches):
        for pdf in batches:
            rows = {
                id_col: [], "chunk_id": [], "start": [],
                "chunk_len": [], "chunk_hash": [],
            }
            for bid, payload in zip(pdf[id_col], pdf[blob_col]):
                payload = b"" if payload is None else bytes(payload)
                L = len(payload)
                if L >= window:
                    codes = np.frombuffer(payload, dtype=np.uint8).astype(
                        np.uint64
                    )
                    wins = np.lib.stride_tricks.sliding_window_view(
                        codes, window
                    )
                    h = (wins * powers).sum(axis=1) & 0xFFFFFFFF
                    ends = (
                        np.flatnonzero(h % divisor == remainder) + window
                    )
                    if len(ends) == 0 or ends[-1] != L:
                        ends = np.append(ends, L)
                else:
                    ends = np.array([L])
                starts = np.concatenate(([0], ends[:-1])) + 1
                for cid, (s, e) in enumerate(zip(starts, ends)):
                    rows[id_col].append(bid)
                    rows["chunk_id"].append(cid)
                    rows["start"].append(int(s))
                    rows["chunk_len"].append(int(e - s + 1))
                    rows["chunk_hash"].append(
                        hashlib.md5(payload[s - 1 : e]).hexdigest()
                    )
            yield pd.DataFrame(rows)

    return blobs.select(id_col, blob_col).mapInPandas(
        _chunk_batch, schema=out_schema
    )


def q_containment_decontamination(
    spark: SparkSession, sf_dir: str, eval_mod: int = 97
) -> DataFrame:
    """One-sided CONTAINMENT decontamination: for each eval-suite
    document, the train document maximizing C(eval, train) =
    |shingles(eval) ∩ shingles(train)| / |shingles(eval)| — the
    GPT-3/PaLM-style contamination dial. Symmetric Jaccard
    under-scores an eval doc EMBEDDED in a larger train doc (the
    union term grows with the train doc); containment normalizes by
    the eval side only, which is exactly the leak being hunted.

    The eval suite is a bounded slice (doc_id % eval_mod == 0 — the
    fixed-size-suite contract shared with q_semantic_decontamination),
    so the shingle equijoin is bounded by |eval shingles| x max
    shingle df regardless of corpus size; production adds the
    stop-shingle df cap in front (the dedup discipline) — omitted
    here so the oracle's full-blocking SQL is reproduced exactly.
    One equijoin + one pair aggregate + one per-eval argmax window;
    integer intersection counts, one rounded division. Emits the
    best-match REPORT row per eval doc (the release artifact a
    decontamination review reads); the caller applies its corpus's
    calibrated containment gate downstream — this synthetic corpus
    peaks at ~0.05, so any fixed gate here would be vacuous."""
    from pyspark.sql import Window

    from datapoints_csv_extractor_spark.operators.relational import load
    from datapoints_csv_extractor_spark.operators.textops import tokens

    d = load(spark, sf_dir, "documents").select(
        "doc_id", shingles_of_tokens(tokens(F.col("text")), 3).alias("sh")
    )
    ev = d.where(F.col("doc_id") % eval_mod == 0).select(
        F.col("doc_id").alias("eval_id"), "sh"
    )
    tr = d.where(F.col("doc_id") % eval_mod != 0).select(
        F.col("doc_id").alias("train_id"), "sh"
    )
    e_sh = ev.select("eval_id", F.explode("sh").alias("shingle"))
    t_sh = tr.select("train_id", F.explode("sh").alias("shingle"))
    shared = (
        e_sh.join(t_sh, "shingle")
        .groupBy("eval_id", "train_id")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sizes = ev.select("eval_id", F.size("sh").alias("n_shingles"))
    scored = shared.join(sizes, "eval_id").withColumn(
        "containment",
        F.round(F.col("shared") / F.col("n_shingles"), 4),
    )
    w = Window.partitionBy("eval_id").orderBy(
        F.desc("containment"), F.asc("train_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "eval_id",
            F.col("train_id").alias("best_train_id"),
            "shared",
            "n_shingles",
            "containment",
        )
        .orderBy("eval_id")
    )


def containment_decontamination_oracle_sql(eval_mod: int = 97) -> str:
    """DuckDB twin of q_containment_decontamination: the established
    window-shingle CTE, one-sided normalization, per-eval argmax."""
    return f"""
        WITH words AS (
            SELECT doc_id,
                   unnest(list_filter(string_split_regex(trim(text),
                       '\\s+'), x -> x <> '')) AS w,
                   generate_subscripts(list_filter(
                       string_split_regex(trim(text), '\\s+'),
                       x -> x <> ''), 1) AS ord
            FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id,
                   w || ' ' || lead(w) OVER win || ' '
                     || lead(w, 2) OVER win AS shingle
            FROM words
            WINDOW win AS (PARTITION BY doc_id ORDER BY ord)
            QUALIFY lead(w, 2) OVER win IS NOT NULL
        ), ev AS (
            SELECT doc_id AS eval_id, shingle FROM sh
            WHERE doc_id % {eval_mod} = 0
        ), tr AS (
            SELECT doc_id AS train_id, shingle FROM sh
            WHERE doc_id % {eval_mod} != 0
        ), sizes AS (
            SELECT eval_id, count(*) AS n_shingles FROM ev GROUP BY eval_id
        ), shared AS (
            SELECT e.eval_id, t.train_id, count(*) AS shared
            FROM ev e JOIN tr t USING (shingle)
            GROUP BY 1, 2
        ), scored AS (
            SELECT s.eval_id, s.train_id, s.shared, z.n_shingles,
                   round(s.shared * 1.0 / z.n_shingles, 4) AS containment
            FROM shared s JOIN sizes z USING (eval_id)
        )
        SELECT eval_id, train_id AS best_train_id, shared, n_shingles,
               containment
        FROM scored
        QUALIFY row_number() OVER (
            PARTITION BY eval_id
            ORDER BY containment DESC, train_id
        ) = 1
        ORDER BY eval_id
    """


def q_syndication_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source syndication matrix — which sources publish the
    same LEAD: documents whose first 200 characters hash identically
    across two sources count once per source pair. Wire-service
    syndication and mirror crawls share the lead paragraph while
    localizing the tail, so the lead hash catches what a full-text
    hash misses (and the full-text form is the k=all special case).
    The provenance read behind mixture planning and the JSD matrix's
    sharper sibling: JSD says two sources LOOK alike, this says they
    literally carry the same articles — double-counted evidence
    unless one copy is dropped.

    One hash aggregate to lead groups (map-side combined), then pair
    expansion WITHIN each group's distinct source list — bounded by
    sources^2 per group, never corpus pairs (groups collapse to
    their distinct source sets first). Integer counts only;
    oracle-exact."""
    d = load(spark, sf_dir, "documents").select(
        "source", F.md5(F.substring(F.col("text"), 1, 200)).alias("h")
    )
    group_sources = d.distinct()
    a = group_sources.select("h", F.col("source").alias("src_a"))
    b = group_sources.select("h", F.col("source").alias("src_b"))
    return (
        a.join(b, "h")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared_leads"))
        .orderBy("src_a", "src_b")
    )


def syndication_matrix_oracle_sql() -> str:
    """DuckDB twin of q_syndication_matrix."""
    return """
        WITH gs AS (
            SELECT DISTINCT source, md5(substring(text, 1, 200)) AS h
            FROM documents
        )
        SELECT a.source AS src_a, b.source AS src_b,
               count(*) AS n_shared_leads
        FROM gs a JOIN gs b ON a.h = b.h AND a.source < b.source
        GROUP BY 1, 2
        ORDER BY 1, 2
    """
