"""Deterministic sampling / split operators for training-data pipelines.

Hash-bucket assignment, never ``rand()``: a random split is re-rolled by
task retries and partition re-plans (AQE), silently leaking rows between
train and validation — at 100 TB a retry storm is a certainty, so split
assignment must be a pure function of the row. md5-derived buckets are
stable under any execution, engine-portable (DuckDB-oracle-checkable),
and stratify for free (the hash is uniform within every stratum).

The reference has no sampling surface (SURVEY §2.12); this is a
§7-phase-4 training-data extension alongside dedup/similarity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.tables import load_table
from .textstats import mean_millis_expr, tokens


def _bucket(key: Column, salt: str) -> Column:
    """Uniform bucket in [0, 1000) from the first 8 md5 hex chars —
    32 bits of hash, exactly reproducible in any engine with md5."""
    h = F.md5(F.concat(key.cast("string"), F.lit("#" + salt)))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 1000


def split_assignment(
    spark: SparkSession, sf_dir: str, val_permille: int = 100, salt: str = "v1"
) -> DataFrame:
    """Assign every document to train/val by hash bucket (val gets
    ``val_permille``/1000 of rows in expectation). Pure projection —
    embarrassingly parallel, no shuffle, pushdown intact; the ``salt``
    versions the split without touching data."""
    docs = load_table(spark, sf_dir, "documents")
    b = _bucket(F.col("doc_id"), salt)
    return docs.select(
        "doc_id",
        "lang",
        b.alias("bucket"),
        F.when(b < val_permille, F.lit("val")).otherwise(F.lit("train")).alias("split"),
    ).orderBy("doc_id")


#: Per-language keep rates (per-mille) for :func:`stratified_sample` —
#: the language-rebalancing dial: downsample the dominant language,
#: keep everything else.
SAMPLE_RATES_PERMILLE = {"en": 300}
SAMPLE_DEFAULT_PERMILLE = 1000


def stratified_sample(
    spark: SparkSession, sf_dir: str, salt: str = "s1"
) -> DataFrame:
    """Deterministic per-stratum downsampling: keep a document iff its
    hash bucket falls under its language's keep rate — the corpus
    rebalancing step (e.g. cap English at 30%, keep rare languages
    whole). Same retry-stable hash-bucket machinery as the train/val
    split; a row's fate is a pure function of (doc_id, salt).

    Pure projection + filter, no shuffle; at 100 TB this runs scan-side
    and the dropped rows never leave the reader."""
    docs = load_table(spark, sf_dir, "documents")
    rate = F.lit(SAMPLE_DEFAULT_PERMILLE)
    for lang, permille in SAMPLE_RATES_PERMILLE.items():
        rate = F.when(F.col("lang") == lang, F.lit(permille)).otherwise(rate)
    b = _bucket(F.col("doc_id"), salt)
    return (
        docs.select("doc_id", "lang", b.alias("bucket"), rate.cast("long").alias("rate_permille"))
        .filter(F.col("bucket") < F.col("rate_permille"))
        .orderBy("doc_id")
    )


def split_counts(
    spark: SparkSession, sf_dir: str, val_permille: int = 100, salt: str = "v1"
) -> DataFrame:
    """Stratification check: per-(lang, split) row counts — one partial
    aggregation, |langs|x2 output rows."""
    return (
        split_assignment(spark, sf_dir, val_permille, salt)
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "split")
    )


def pack_sequences(spark: SparkSession, sf_dir: str, budget: int = 256) -> DataFrame:
    """Sequence packing — concat-and-chunk documents into fixed
    ``budget``-token training bins, the step that turns a curated corpus
    into dense training sequences (no padding waste).

    Packing is greedy-by-position: within each source shard, documents
    concatenate in doc_id order and a document belongs to the bin its
    first token lands in (``bin_id = prev_cumsum DIV budget``). The
    running sum is a window per SOURCE, not a global one — packing scope
    is the shard, so at 100 TB every shard packs independently (range
    partition per source; no single-partition global window, which would
    serialize the corpus through one task).

    Output is the bin manifest: docs per bin, tokens per bin, fill rate.
    """
    docs = load_table(spark, sf_dir, "documents")
    from .textstats import tokens

    sized = docs.select(
        "source", "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    assigned = sized.select(
        "source",
        "doc_id",
        "n_tokens",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / F.lit(budget))
        .cast("long")
        .alias("bin_id"),
    )
    return (
        assigned.groupBy("source", "bin_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("bin_tokens"),
        )
        .withColumn(
            "fill_permille", mean_millis_expr("bin_tokens", str(budget))
        )
        .orderBy("source", "bin_id")
    )


def split_contamination(
    spark: SparkSession, sf_dir: str, val_permille: int = 100, salt: str = "v1"
) -> DataFrame:
    """Decontamination check: validation documents sharing any 3-gram
    shingle with the training split — the train/test-leakage audit every
    benchmark-clean pipeline runs before training.

    Physical shape: the session's materialized shingle index is split by
    the same retry-stable hash as :func:`split_assignment`; the train
    side collapses to DISTINCT shingle hashes; the val side inner-joins
    on the 8-byte hash and counts matches per val doc. The join shuffles
    on the shingle hash — at 100 TB the train shingle set is the big
    side, so the runtime bloom filter (session conf) prunes val shingles
    scan-side, and a stop-shingle df-cap (see ngram_jaccard_pairs) keeps
    hot shingles from skewing the exchange."""
    from .dedup import shingle_index

    sh = shingle_index(spark, sf_dir).select("doc_id", "shh")
    b = _bucket(F.col("doc_id"), salt)
    tagged = sh.withColumn("is_val", b < val_permille)
    train_sh = (
        tagged.filter(~F.col("is_val")).select("shh").distinct()
    )
    val_sh = tagged.filter(F.col("is_val")).select("doc_id", "shh")
    return (
        val_sh.join(train_sh, "shh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_shingles"))
        .orderBy("doc_id")
    )


def mixture_plan(spark: SparkSession, sf_dir: str, cap_permille: int = 4000) -> DataFrame:
    """Corpus mixture planner: per-language token counts vs a uniform
    target mixture, emitting the repeat factor (in per-mille) that a
    sampling pass would apply to hit the target — the "data mixing" step
    that decides how often each slice is epoch-repeated.

    Shape: one partial agg to |langs| rows, the global total re-aggregated
    from the rollup (1 row) and broadcast back — the Q11 concentration
    shape, so the fact table is scanned once and never re-shuffled. The
    repeat factor is ``round(1000 * target / have)`` spelled with the
    engine's one integer rounding formula (textstats.mean_millis_expr,
    algebraically 1000*total / (n_langs*lang_tokens)); capped so a
    vanishing slice can't demand unbounded epochs."""
    docs = load_table(spark, sf_dir, "documents")
    per_lang = docs.groupBy("lang").agg(
        F.sum(F.size(tokens(F.col("text")))).alias("lang_tokens")
    )
    totals = per_lang.agg(
        F.sum("lang_tokens").alias("total_tokens"),
        F.count("*").alias("n_langs"),
    )
    # the two-step float spelling (total/n_langs, then /lang_tokens) is
    # algebraically 1000*total / (n_langs*lang_tokens) — one integer
    # rounding via the engine's shared formula
    repeat = F.least(
        mean_millis_expr(
            "total_tokens", "CAST(n_langs AS DECIMAL(38,0)) * lang_tokens"
        ),
        F.lit(cap_permille).cast("long"),
    )
    return (
        per_lang.join(F.broadcast(totals))
        .select(
            "lang",
            "lang_tokens",
            # round(total/n_langs): the shared formula at scale 1,
            # widened like mean_millis_expr (2*total wraps past 4.6e18)
            F.expr(
                "(2 * CAST(total_tokens AS DECIMAL(38,0)) + n_langs)"
                " DIV (2 * CAST(n_langs AS DECIMAL(38,0)))"
            )
            .cast("long")
            .alias("target_tokens"),
            repeat.alias("repeat_permille"),
        )
        .orderBy("lang")
    )


def curation_verdict(
    spark: SparkSession, sf_dir: str, val_permille: int = 100, salt: str = "v1"
) -> DataFrame:
    """The WHOLE curation funnel as one declarative plan: quality gate →
    exact dedup (keeper = min doc_id among gate survivors) → classifier →
    train/val split, emitting one ordered verdict per document
    (too_short | low_alpha | digit_heavy | duplicate | low_quality |
    kept) and the split for kept docs.

    Composition cost: every stage except the dedup keeper is row-local,
    so the funnel is ONE shuffle (the fingerprint window) regardless of
    how many rules stack — Catalyst fuses the gate, classifier, and split
    expressions into the same scan. This is the argument for declarative
    curation: N pipeline passes collapse into one plan.

    The keeper is a conditional MIN WINDOW over the fingerprint (r10
    optimization): the former groupBy+left-join spelling executed the
    md5/gate/classifier scan expressions in TWO join subtrees (the
    keepers aggregate re-scanned the corpus and re-ran the gate regexes
    — visible as a second Scan parquet in the before plan); the window
    computes the same keeper (min ignores the non-ok NULLs; a fingerprint
    group with no gate-ok member yields NULL exactly like the missed left
    join) in ONE pass over one exchange."""
    # gate_reason is THE shared gate expression (textstats) — the batch
    # gate query, the streaming curation ingest, and this funnel must all
    # gate identically, so none of them re-states the rules inline
    from pyspark.sql.window import Window

    from .textstats import classifier_score, gate_reason

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.md5("text").alias("fp"),
        gate_reason("text").alias("gate_reason"),
        classifier_score(F.col("text")).alias("q"),
        _bucket(F.col("doc_id"), salt).alias("bucket"),
    )
    keeper_id = F.min(
        F.when(F.col("gate_reason") == "ok", F.col("doc_id"))
    ).over(Window.partitionBy("fp"))
    verdict = (
        F.when(F.col("gate_reason") != "ok", F.col("gate_reason"))
        .when(F.col("doc_id") != F.col("keeper_id"), F.lit("duplicate"))
        .when(F.col("q") < 0, F.lit("low_quality"))
        .otherwise(F.lit("kept"))
    )
    return (
        base.withColumn("keeper_id", keeper_id)
        .select(
            "doc_id",
            verdict.alias("verdict"),
            F.when(
                verdict == "kept",
                F.when(F.col("bucket") < val_permille, F.lit("val")).otherwise(
                    F.lit("train")
                ),
            ).alias("split"),
        )
        .orderBy("doc_id")
    )


#: Shard count for the deterministic pre-training shuffle. Production dial:
#: pick shards ~= number of training data-loader workers.
N_SHUFFLE_SHARDS = 16


def shuffle_shards(
    spark: SparkSession, sf_dir: str, n_shards: int = N_SHUFFLE_SHARDS,
    salt: str = "sh1",
) -> DataFrame:
    """Deterministic global shuffle into training shards — the step that
    randomizes document order before training without ever running a
    global sort. Every document gets an md5-derived 32-bit sort key
    (retry-stable: a pure function of (doc_id, salt), never rand());
    shard = key mod n_shards, position = rank of the key within the
    shard. Readers stream shards in shard_pos order and the corpus is
    uniformly shuffled, reproducibly — re-running the job, or re-running
    one failed shard, yields byte-identical order.

    Scale shape: ONE hash shuffle keyed by shard + a shard-local
    row_number sort — each of the n_shards partitions sorts
    independently, so 100 TB shuffles at full cluster width; a global
    ORDER BY (single merge lineage) never appears."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("#" + salt)))
    key = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    w = Window.partitionBy("shard_id").orderBy("skey", "doc_id")
    return (
        docs.select("doc_id", key.alias("skey"))
        .withColumn("shard_id", (F.col("skey") % n_shards).cast("long"))
        .withColumn("shard_pos", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard_id", "shard_pos", "skey")
        .orderBy("shard_id", "shard_pos")
    )


#: DSIR hashed-feature space size. 256 buckets is plenty for the test
#: vocabulary; production dial is 10k-100k buckets (the weight table stays
#: broadcast-sized either way).
DSIR_BUCKETS = 256


def dsir_weights(
    spark: SparkSession,
    sf_dir: str,
    n_buckets: int = DSIR_BUCKETS,
    salt: str = "v1",
    val_permille: int = 100,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): documents are scored by
    how much their hashed-n-gram feature distribution resembles a TARGET
    distribution relative to the corpus distribution — here the target is
    the deterministic val split (the same md5-bucket rule as
    ``split_assignment``), so the whole computation is a pure function of
    the corpus. Each document's score is the sum over its shingle
    occurrences of log2(p_target(bucket)/p_corpus(bucket)), quantized to
    whole bits via binary bit-length with add-one smoothing — the same
    zero-transcendental trick as ``unigram_surprisal``, so the DuckDB
    oracle is hash-identical. High scores = looks like the target; a
    resampling pass keeps documents with probability ∝ exp(score), which
    deterministically becomes "keep the top-k by score" here.

    Scale shape: rides the session shingle index; bucket histograms are
    two partial-aggregated groupBys over an ``n_buckets``-sized key space;
    the per-bucket weight table is tiny and broadcasts into the
    per-document fold. One shuffle of (doc, bucket) occurrence rows."""
    from .dedup import shingle_index

    sh = shingle_index(spark, sf_dir).select("doc_id", "sh")
    b = (F.conv(F.substring(F.md5(F.col("sh")), 1, 4), 16, 10) % n_buckets).cast(
        "long"
    )
    occ = sh.select(
        "doc_id",
        b.alias("b"),
        (_bucket(F.col("doc_id"), salt) < val_permille).alias("is_val"),
    )
    # n_buckets rows, but its lineage is a full index scan + groupBy:
    # pin it so the totals aggregate and the weight table below don't
    # each replay that scan as their own subtree.
    cc = (
        occ.groupBy("b")
        .agg(
            F.count("*").alias("c_cnt"),
            F.sum(F.when(F.col("is_val"), 1).otherwise(0)).alias("t_cnt"),
        )
        .localCheckpoint(eager=False)
    )
    tot = cc.agg(
        F.sum("c_cnt").alias("ctot"), F.sum("t_cnt").alias("ttot")
    )
    bl = lambda c: F.length(F.bin(c))  # noqa: E731 — bit-length, both engines
    wb = cc.crossJoin(F.broadcast(tot)).select(
        "b",
        (
            (bl(F.col("t_cnt") + 1) - bl(F.col("ttot") + 1))
            - (bl(F.col("c_cnt") + 1) - bl(F.col("ctot") + 1))
        )
        .cast("long")
        .alias("w_bits"),
    )
    return (
        occ.join(F.broadcast(wb), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_feats"),
            F.sum("w_bits").cast("long").alias("score_bits"),
        )
        .withColumn(
            "mean_score_millibits",
            mean_millis_expr("score_bits", "n_feats", signed=True),
        )
        .orderBy("doc_id")
    )


#: Passage chunking dials: window = tokens per passage, stride = window
#: minus overlap. 64/48 gives a 16-token overlap — the standard
#: retrieval-corpus shape (chunk long docs so every passage fits the
#: encoder; overlap so no answer span straddles a hard boundary).
CHUNK_WINDOW = 64
CHUNK_STRIDE = 48


def passage_chunks(
    spark: SparkSession,
    sf_dir: str,
    window: int = CHUNK_WINDOW,
    stride: int = CHUNK_STRIDE,
) -> DataFrame:
    """Sliding-window passage chunking — split every document into
    ``window``-token passages starting every ``stride`` tokens (the
    retrieval-index preprocessing step: BM25/ANN index passages, not whole
    documents). Start offsets are ``0, stride, 2*stride, ...`` while they
    still index a token, so every token lands in at least one chunk and
    every document emits at least one chunk (an empty document emits one
    empty chunk — the chunk table keys are a superset of document keys).
    The passage is emitted as its md5 fingerprint, not its text: the
    downstream contract is (doc_id, chunk_id) -> reconstructable slice,
    and the fingerprint keeps the manifest narrow.

    Scale shape: pure row-local expressions (tokenize once, sequence +
    posexplode + slice), zero shuffles — at 100 TB this runs entirely
    scan-side at full width. Output size is bounded by
    ceil(n_tokens/stride) rows per document, each O(1) wide."""
    from .textstats import _spread

    docs = _spread(load_table(spark, sf_dir, "documents"))
    base = docs.select("doc_id", tokens(F.col("text")).alias("t"))
    n = F.size("t")
    starts = F.sequence(
        F.lit(0), F.greatest(n - F.lit(1), F.lit(0)), F.lit(stride)
    )
    chunked = base.select(
        "doc_id", "t", F.posexplode(starts).alias("chunk_id", "start_tok")
    )
    chunk = F.expr(f"slice(t, start_tok + 1, {window})")
    return chunked.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("start_tok").cast("long").alias("start_tok"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_fp"),
    ).orderBy("doc_id", "chunk_id")


#: Bloom dials: 2^18 bits (4096 words — a ~32 KiB broadcast) x 3 probes.
#: At the test corpus' ~25k distinct train shingles the false-positive
#: rate is ~1-2%; the production dial scales BLOOM_BITS with the train
#: set (m ~ 14n keeps FP ~1% at k=3) and the artifact stays
#: broadcast-sized into the terabytes of corpus it filters.
BLOOM_BITS = 1 << 18
BLOOM_HASHES = 3


def _bloom_pos(sh: Column, i: int) -> Column:
    """Probe position i for shingle ``sh``: 32 bits of md5 mod the bitmap
    size — engine-portable (the oracle runs the identical arithmetic), so
    even the false positives match across engines."""
    h = F.md5(F.concat(sh, F.lit(f"#b{i}")))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % BLOOM_BITS)


def _bloom_words(
    spark: SparkSession,
    sf_dir: str,
    tagged: DataFrame,
    probes: Column,
    val_permille: int,
    salt: str,
) -> DataFrame:
    """The train split's Bloom bitmap as (word_idx, word) rows, built by
    ONE partial-aggregated pass: probe positions fold straight into the
    64-bit words (bit_or is idempotent, so duplicate shingles/positions
    need no distinct stage — the exchange carries at most BLOOM_BITS/64
    rows per partition, never the shingle set). Persisted per (session,
    corpus, split dial) — the bitmap is the index artifact; repeat
    audits re-probe it for free."""
    from ..cache import get_or_build

    def build() -> DataFrame:
        return (
            tagged.filter(~F.col("is_val"))
            .select(probes.alias("pos"))
            .select(
                (F.col("pos") / 64).cast("long").alias("word_idx"),
                (F.col("pos") % 64).cast("int").alias("bit"),
            )
            .groupBy("word_idx")
            # shiftleft via F.expr: the python wrapper only takes a
            # literal shift count, the SQL function takes a column
            .agg(F.bit_or(F.expr("shiftleft(cast(1 as bigint), bit)")).alias("word"))
        )

    return get_or_build(f"bloom_words:{val_permille}:{salt}", spark, sf_dir, build)


def bloom_contamination(
    spark: SparkSession, sf_dir: str, val_permille: int = 100, salt: str = "v1"
) -> DataFrame:
    """Decontamination via a broadcast Bloom filter — the join-free twin
    of :func:`split_contamination`. The train split's distinct shingles
    are folded into a fixed-size bitmap (bit_or per 64-bit word); the val
    side probes the bitmap row-locally and reports, per val document, how
    many of its shingles hit on all ``BLOOM_HASHES`` probes.

    Why this exists next to the exact join: at 100 TB the train shingle
    set is billions of rows and the exact join shuffles ALL of it; the
    Bloom bitmap is a fixed ~MB artifact that broadcasts, so the val-side
    probe is a scan-local map with NO train-side shuffle at query time
    (the bitmap build aggregates to <= BLOOM_BITS/64 rows). The price is
    a bounded, one-sided error: ``n_bloom_hits`` over-counts with the
    filter's false-positive rate and never under-counts — every
    ``split_contamination`` match is a bloom hit (no false negatives;
    asserted in tests). Both engines compute identical membership, so
    the DuckDB oracle matches bit-for-bit, false positives included.

    Output covers EVERY val document with at least one shingle
    (``n_bloom_hits = 0`` rows included) — the audit wants "clean" to be
    an explicit verdict, not an absent row."""
    from .dedup import shingle_index

    sh = shingle_index(spark, sf_dir).select("doc_id", "sh")
    b = _bucket(F.col("doc_id"), salt)
    tagged = sh.withColumn("is_val", b < val_permille)

    probes = F.explode(
        F.array(*[_bloom_pos(F.col("sh"), i) for i in range(BLOOM_HASHES)])
    )
    words = _bloom_words(spark, sf_dir, tagged, probes, val_permille, salt)

    val_probe = (
        tagged.filter(F.col("is_val"))
        .select("doc_id", "sh")
        .select("doc_id", "sh", probes.alias("pos"))
        .select(
            "doc_id",
            "sh",
            (F.col("pos") / 64).cast("long").alias("word_idx"),
            (F.col("pos") % 64).cast("int").alias("bit"),
        )
    )
    hit = (
        val_probe.join(F.broadcast(words), "word_idx", "left")
        .select(
            "doc_id",
            "sh",
            F.when(
                F.expr(
                    "shiftrightunsigned(coalesce(word, cast(0 as bigint)), bit)"
                ).bitwiseAND(F.lit(1).cast("long"))
                == 1,
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("probe_hit"),
        )
        .groupBy("doc_id", "sh")
        .agg(F.min("probe_hit").alias("all_hit"))
    )
    return (
        hit.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum("all_hit").cast("long").alias("n_bloom_hits"),
        )
        .orderBy("doc_id")
    )


def chunk_dup_groups(
    spark: SparkSession,
    sf_dir: str,
    window: int = CHUNK_WINDOW,
    stride: int = CHUNK_STRIDE,
) -> DataFrame:
    """Passage-level exact dedup over the chunk manifest — the
    boilerplate-passage detector: identical ``window``-token passages
    recurring across (or within) documents, the navigation/footer text a
    document-level fingerprint can't see because the documents differ
    elsewhere. Groups by the chunk fingerprint; ``n_copies`` counts
    occurrences, ``n_docs`` distinct hosting documents, ``first_doc_id``
    names the earliest host. Zero-token chunks (empty documents) are
    excluded — an empty passage is not boilerplate.

    Scale shape: the chunk manifest is row-local (see
    :func:`passage_chunks`); this adds ONE partial-aggregated shuffle on
    the 16-byte fingerprint — the exact-dedup shape, at passage grain."""
    ch = passage_chunks(spark, sf_dir, window, stride)
    return (
        ch.filter(F.col("n_chunk_tokens") > 0)
        .groupBy("chunk_fp")
        .agg(
            F.count("*").cast("long").alias("n_copies"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.min("doc_id").alias("first_doc_id"),
        )
        .filter(F.col("n_copies") > 1)
        .orderBy("chunk_fp")
    )
