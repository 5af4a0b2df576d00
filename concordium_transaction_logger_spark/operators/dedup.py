"""Deduplication operators for training-data pipelines over ``documents``.

Four families, all shuffle-conscious:

- **exact**: hash-groupBy on a canonical fingerprint — one shuffle keyed by
  the hash; at 100 TB the fingerprint is computed scan-side so only
  (hash, doc_id) pairs shuffle, never document bodies.
- **n-gram Jaccard**: shingle explode -> self-join on shingle -> per-pair
  intersection counts. The join key is the shingle, so common-shingle skew
  is the scale risk — AQE skew-join plus an (optional) document-frequency
  cap on shingles bounds it.
- **MinHash + LSH banding**: k md5-derived minhashes per doc; band
  signatures bucket candidates so the pair join is |bucket|² within
  buckets instead of |docs|² — the classic sub-quadratic near-dup path.
- **SimHash**: bit-majority signature; equal signatures = candidates.

All hashes are md5-derived (portable across engines for the DuckDB oracle —
Spark's xxhash64/murmur is not reproducible in DuckDB).
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table, table_bytes
from .textstats import fingerprints, mean_millis_expr, permille_expr, tokens

MINHASH_K = 8
BAND_ROWS = 4  # 2 bands of 4 minhashes each
SHINGLE = 3
#: Default document-frequency cap for shingle/fingerprint self-joins: a
#: shingle seen in more documents than this is a stop-shingle (boilerplate)
#: and is dropped before pair generation — the default MUST be the capped
#: form because the uncapped self-join's pair count grows as Σ df² per
#: shingle and a single hot shingle at 100 TB is a job-killing skew key.
#: The uncapped exact variant stays available via ``max_df=None``.
#: 5 ≈ the q99 document frequency of the test corpora — at production
#: scale tune to a permille of |docs|; what matters is that the default
#: path is the capped one and the cap is actually exercised.
DEFAULT_MAX_DF = 5

#: tfidf norm-join broadcast gate (r11): broadcast the |docs|-row norm
#: frame only while the SOURCE corpus is under this on-disk size. A
#: ~32 GiB compressed corpus is on the order of tens of millions of
#: documents -> a few hundred MB of (long, long) norm rows framed, well
#: inside the 8 GB / 512M-row broadcast cap with headroom; beyond it the
#: norm attach becomes a shuffled-hash join. Env-tunable so a cluster
#: with a bigger driver can raise it without a code change.
NORM_BROADCAST_MAX_CORPUS_BYTES = int(
    os.environ.get("CTL_NORM_BROADCAST_MAX_CORPUS_BYTES", str(32 << 30))
)


def exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by fingerprint; keeper = min doc_id per group
    (deterministic survivor selection)."""
    fp = fingerprints(spark, sf_dir)
    groups = fp.groupBy("fp").agg(
        F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("group_size")
    )
    return fp.join(groups, "fp").select(
        "doc_id", "fp", "keeper_doc_id", "group_size",
        (F.col("doc_id") == F.col("keeper_doc_id")).alias("is_keeper"),
    )


def gram_strings(t: Column, n: int) -> Column:
    """Array of space-joined n-grams over a BOUND token-array column —
    the single n-gram window expression (1-based ``element_at``, in
    lockstep with DuckDB list indexing) shared by :func:`shingles`,
    :func:`doc_span_occurrences`, and :func:`tfidf_cosine_pairs`, so the
    indexing convention cannot drift between consumers. The caller binds
    the token array to a column first (see :func:`shingles` — an unbound
    expression re-runs the tokenizer per element)."""
    return F.transform(
        F.sequence(F.lit(1), F.size(t) - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(t, i + off) for off in range(n)]
        ),
    )


def shingles(docs: DataFrame) -> DataFrame:
    """Distinct word-SHINGLE shingles per doc. ``element_at`` is 1-based to
    mirror DuckDB list indexing.

    Two deliberate physical choices (10x at local scale, essential at 100 TB):
    - tokens are *bound to a column first* so the tokenizer regex runs once
      per document — referencing the expression tree inside the transform
      lambda would re-evaluate the split per shingle element;
    - repartition before the explode: document corpora often arrive as few
      large files, and the CPU-heavy shingling must not be serialized onto
      the scan's partitioning;
    - per-doc dedup is ``array_distinct`` *inside the row*, not a global
      ``.distinct()`` — the distinctness scope is one document, so paying
      a full shuffle of every exploded shingle for it would be pure
      waste (and at 100 TB, the dominant cost)."""
    spark = docs.sparkSession
    parallelism = spark.sparkContext.defaultParallelism
    tok = (
        docs.repartition(parallelism, "doc_id")
        .select("doc_id", tokens(F.col("text")).alias("t"))
        .filter(F.size("t") >= SHINGLE)
    )
    t = F.col("t")
    sh = gram_strings(t, SHINGLE)
    return tok.select("doc_id", F.explode(F.array_distinct(sh)).alias("sh"))


#: Per-(session, sf_dir) materialized shingle index. The index feeds the
#: jaccard self-join (both sides + sizes), minhash signatures, and the
#: banding pipeline; a resident engine materializes it once per corpus —
#: the standard shingle-index step at 100 TB — instead of re-running the
#: CPU-heavy tokenize/explode/distinct per query (the analog of the
#: reference preparing statements once per connection, postgres.rs:239-274).


def shingle_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..cache import get_or_build

    def build() -> DataFrame:
        # ``shh`` is the 8-byte join key for equality-only consumers (the
        # jaccard self-join): shuffling a fixed 64-bit hash instead of the
        # ~40-byte shingle string is the at-scale representation (collision
        # odds ~n²/2⁶⁴ — negligible against the jaccard threshold); minhash
        # still consumes the string form.
        return shingles(load_table(spark, sf_dir, "documents")).withColumn(
            "shh", F.xxhash64("sh")
        )

    return get_or_build("shingle_index", spark, sf_dir, build)


def stop_shingles(
    spark: SparkSession, sf_dir: str, max_df: int = DEFAULT_MAX_DF
) -> DataFrame:
    """The shingles the df-cap drops, with their document frequencies —
    the no-silent-caps artifact (SCALE.md): whatever the capped jaccard
    excludes is enumerable and auditable, never silently discarded."""
    return (
        shingle_index(spark, sf_dir)
        .groupBy("sh")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_df)
        .orderBy("sh")
    )


def ngram_jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold_permille: int = 500,
    max_df: int | None = DEFAULT_MAX_DF,
) -> DataFrame:
    """Near-dup pairs by word-trigram Jaccard >= threshold.

    inter/union from the shingle self-join; doc sizes joined back from the
    distinct-shingle counts. Jaccard emitted as per-mille BIGINT.

    ``max_df`` is the scale dial for hot-shingle skew (SCALE.md), and the
    capped form IS the default: shingles appearing in more than ``max_df``
    documents are *stop-shingles* — they carry no discrimination but
    dominate the self-join's pair count (|pairs| grows as Σ df² per
    shingle). The stop list is tiny by construction (only the most common
    shingles), so it rides as a broadcast left-anti join — the fact-side
    shingle set never shuffles for the cap. Jaccard is then computed over
    the capped shingle space (sizes recomputed after the cap, consistently
    on both engines). The dropped shingles are enumerable via
    :func:`stop_shingles` (no silent caps); ``max_df=None`` is the exact
    uncapped variant for bounded corpora / recall audits."""
    sh = shingle_index(spark, sf_dir).select("doc_id", "shh")
    if max_df is not None:
        # pin the stop list (r10): it is referenced by FOUR subtrees (both
        # self-join sides and both size joins), and unpinned the full
        # df-count aggregate over the shingle index re-executed once per
        # reference (4 HashAggregate passes in the before plan). The frame
        # is tiny by construction (only shingles with df > max_df).
        stop = (
            sh.groupBy("shh")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_df)
            .select("shh")
            .localCheckpoint(eager=False)
        )
        sh = sh.join(F.broadcast(stop), "shh", "left_anti")
    # pin the per-doc sizes too (r10): na and nb below are two broadcast
    # consumers, each of which re-ran the capped-index groupBy unpinned;
    # the frame is |docs| rows of two longs.
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh")).localCheckpoint(eager=False)
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shh") == F.col("b.shh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(F.broadcast(na), "doc_a")
        .join(F.broadcast(nb), "doc_b")
        .withColumn(
            "jaccard_permille",
            mean_millis_expr("n_inter", "n_a + n_b - n_inter"),
        )
        .filter(F.col("jaccard_permille") >= threshold_permille)
        .select("doc_a", "doc_b", "n_inter", "jaccard_permille")
        .orderBy("doc_a", "doc_b")
    )


def _minhash_aggs() -> list[Column]:
    """The K minhash aggregate expressions — THE definition both the
    session index (:func:`minhash_index`) and the streaming per-batch
    twin (:func:`doc_band_buckets`) compile, so batch and streaming
    signatures are structurally identical, not hand-synchronized."""
    return [
        F.min(F.md5(F.concat(F.col("sh"), F.lit(f"#{i}")))).alias(f"mh{i}")
        for i in range(MINHASH_K)
    ]


def minhash_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(session, sf_dir) materialized minhash signature table — the
    signature matrix IS the minhash index: built once from the shingle
    index, read by the signatures query, the banding pipeline, and any
    downstream Jaccard estimator."""
    from ..cache import get_or_build

    def build() -> DataFrame:
        sh = shingle_index(spark, sf_dir)
        return sh.groupBy("doc_id").agg(*_minhash_aggs())

    return get_or_build("minhash_index", spark, sf_dir, build)


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K md5-derived minhashes per document: mh_i = MIN(md5(shingle||'#i')).

    The lexicographic min over hex digests is a uniform minhash; md5 keeps
    it bit-identical in the DuckDB oracle. Computed as one groupBy over the
    exploded shingles — k mins in a single partial-aggregated shuffle —
    materialized per session as the minhash index (see
    :func:`minhash_index`)."""
    return minhash_index(spark, sf_dir).orderBy("doc_id")


def _band_cols() -> list[Column]:
    bands = []
    for b in range(MINHASH_K // BAND_ROWS):
        cols = [F.col(f"mh{b * BAND_ROWS + r}") for r in range(BAND_ROWS)]
        bands.append(F.md5(F.concat(*cols)).alias(f"band{b}"))
    return bands


def _explode_buckets(sig: DataFrame) -> DataFrame:
    """(doc_id, band0..bandN) -> (doc_id, 'b:bandhash') bucket keys."""
    n_bands = MINHASH_K // BAND_ROWS
    return sig.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.concat(F.lit(f"{b}:"), F.col(f"band{b}")) for b in range(n_bands)
            ])
        ).alias("bucket"),
    )


def band_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(session, sf_dir) materialized LSH bucket keys — two narrow
    columns feeding both self-join sides of the banding pass AND the
    connected-components clustering; like the shingle index, a resident
    engine computes the shingle → signature → bucket pipeline once."""
    from ..cache import get_or_build

    def build() -> DataFrame:
        sig = minhash_index(spark, sf_dir).select("doc_id", *_band_cols())
        return _explode_buckets(sig)

    return get_or_build("band_buckets", spark, sf_dir, build)


def doc_band_buckets(docs: DataFrame) -> DataFrame:
    """LSH band bucket keys for an arbitrary ``(doc_id, text)`` frame —
    the frame-based twin of :func:`band_buckets` (which memoizes the
    whole-corpus index per session). The streaming admission path
    (``StreamingCorpusIngest(near_dup=True)``) buckets each micro-batch
    with exactly these expressions, so streaming bucket keys compare
    string-for-string with the batch index."""
    sh = shingles(docs)
    sig = sh.groupBy("doc_id").agg(*_minhash_aggs())
    return _explode_buckets(sig.select("doc_id", *_band_cols()))


def minhash_band_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding: docs sharing any band signature are candidate pairs.

    Scale shape: explode signatures into (band_id, band_hash) keys and
    self-join within buckets — |bucket|² work instead of |docs|².
    The bucket keys (two narrow columns) are materialized once per session
    so the shingle → signature pipeline never re-runs per consumer."""
    buckets = band_buckets(spark, sf_dir)
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


def minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash as a *measuring instrument*, not just a bucketer: for every
    LSH-band candidate pair, the Jaccard estimate = fraction of agreeing
    minhashes (the unbiased MinHash estimator, Broder 1997) — per-mille
    BIGINT over MINHASH_K signatures.

    This is the cheap second stage a production dedup pipeline runs
    between banding and any exact verification: it reads ONLY the two
    k-slot signatures (fixed width), never re-shingling the documents —
    at 100 TB the candidate pairs join the signature index twice
    (broadcast the pair list when it is small, hash-join on doc id when
    it is not) and the estimate is a row-local expression. Correlation
    with the exact shingle Jaccard is asserted in
    ``tests/test_components_split.py``."""
    pairs = minhash_band_pairs(spark, sf_dir)
    sig = minhash_index(spark, sf_dir)
    a = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(MINHASH_K)],
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(MINHASH_K)],
    )
    agree = reduce(
        lambda acc, i: acc
        + F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0),
        range(MINHASH_K),
        F.lit(0),
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            agree.cast("long").alias("n_agree"),
        )
        .withColumn(
            "est_jaccard_permille",
            mean_millis_expr("n_agree", str(MINHASH_K)),
        )
        .orderBy("doc_a", "doc_b")
    )


def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The artifact a curation pipeline actually ships: the cleaned
    corpus — documents whose doc_id is its component's keeper (min id),
    with provenance columns, annotated with how many near-duplicates the
    keeper absorbed. The doc bodies never shuffle: the narrow verdict
    frame (doc_id, keep) joins back into the documents scan and the
    filter drops losers scan-side."""
    comp = dup_components(spark, sf_dir)
    keep = comp.filter(F.col("doc_id") == F.col("component_id")).select(
        "doc_id", (F.col("component_size") - 1).alias("n_absorbed")
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "n_chars"
    )
    return docs.join(keep, "doc_id").orderBy("doc_id")


def dup_components(spark: SparkSession, sf_dir: str, max_iter: int = 20) -> DataFrame:
    """Connected components over the MinHash-band candidate graph — the
    step a real dedup pipeline runs after pair generation: near-dup PAIRS
    are not enough, the keep/drop decision needs the transitive closure
    (A~B, B~C => one cluster, one survivor).

    Hash-min label propagation: every doc starts labeled with itself; each
    round every node takes the min label among itself and its neighbors;
    fixpoint = component min-id. Rounds are whole-graph DataFrame jobs
    (one shuffle each: the label groupBy); the driver loop only checks the
    scalar convergence count — control flow, not data flow. Converges in
    O(component diameter) rounds, and near-dup components are tiny by
    construction (band collisions), so 2-3 rounds in practice. At 100 TB
    with adversarially long chains the same loop hosts the large-star/
    small-star optimization (Kiveris et al., "Connected Components in
    MapReduce"); labels are ``localCheckpoint``ed per round to truncate
    the growing lineage (iterative plans otherwise re-derive every prior
    round inside each job).

    Returns (doc_id, component_id, component_size) for every document;
    singletons keep component_id = doc_id, size 1.
    """
    # Propagate over the bipartite doc <-> band-bucket graph instead of
    # materialized pairwise edges: a bucket is a *clique* (every member
    # pair is a candidate), so bucket-hop propagation reaches the same
    # fixpoint as the pair graph while each round touches Σ|bucket| rows
    # — the pair graph is Σ df² per bucket, which is exactly the blowup
    # hot buckets suffer at 100 TB. Round = two partial-aggregated
    # shuffles: min label per bucket, then min bucket-label per doc.
    return components_over_buckets(
        band_buckets(spark, sf_dir),
        load_table(spark, sf_dir, "documents").select("doc_id"),
        max_iter=max_iter,
    )


def components_over_buckets(
    buckets: DataFrame, all_docs: DataFrame, max_iter: int = 20
) -> DataFrame:
    """Hash-min connected components over an arbitrary (doc_id, bucket)
    bipartite frame — the shared core of :func:`dup_components` (which
    feeds it the memoized whole-corpus band index) and the linkage
    entity frame (``linkage._entity_frame``). ``all_docs`` supplies the
    singleton universe (docs with no bucket keep component_id = doc_id,
    size 1).

    Raises when ``max_iter`` rounds do not reach the fixpoint instead of
    returning silently-wrong (split) components: hash-min needs
    O(component diameter) rounds, and a pathological chain corpus can
    exceed any fixed budget — the loud error names
    :func:`star_components` (O(log² n) on any shape) as the fallback."""
    if max_iter < 1:
        # 0 rounds would fall through the loop with changed == 0 and
        # return every doc as its own singleton — silently wrong, the
        # exact failure mode the non-convergence raise exists to prevent
        raise ValueError(f"components_over_buckets: max_iter must be >= 1, got {max_iter}")
    from pyspark.sql.window import Window

    # Convergence is detected by the LABEL-SUM invariant instead of a
    # per-round labels⋈labels diff join (r10 optimization): hash-min is
    # monotone — new_label(d) = min over d's buckets of the bucket min,
    # and d sits in each of its buckets, so no label ever increases.
    # Hence Σ labels strictly decreases until the fixpoint and
    # "sum unchanged" ⟺ "no label changed". The sum is a cheap partial
    # aggregate over the just-checkpointed round frame (control-plane
    # scalar), replacing a corpus-sized join + count job per round;
    # DECIMAL(38,0) keeps it exact for arbitrary 64-bit label ids at any
    # corpus size (an int64 sum could wrap).
    label_sum = F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
    labels = None
    prev_sum: object = None
    converged = False
    for i in range(max_iter):
        if labels is None:
            # Round 1 folds the identity-label join away: every doc's
            # initial label IS its doc_id, so the first bucket min is a
            # plain aggregate over the bucket frame — one join and the
            # init-labels checkpoint job cheaper than joining an
            # identity frame.
            bucket_min = buckets.groupBy("bucket").agg(
                F.min("doc_id").alias("blabel")
            )
        else:
            bucket_min = (
                buckets.join(labels, "doc_id")
                .groupBy("bucket")
                .agg(F.min("label").alias("blabel"))
            )
        # LAZY checkpoint + the convergence aggregate as the materializing
        # action (r10): an eager localCheckpoint is its own job, and the
        # label-sum collect was a second — two scheduler round trips per
        # round over a frame the round already computed. eager=False marks
        # the frame for pinning and the agg's collect below materializes
        # it, so each round is ONE job; the next round's join still reads
        # the pinned partitions, not the lineage.
        new_labels = (
            buckets.join(bucket_min, "bucket")
            .groupBy("doc_id")
            .agg(F.min("blabel").alias("label"))
            .localCheckpoint(eager=False)
        )
        if prev_sum is None:
            # the initial-label sum (Σ doc_id) comes from the SAME frame:
            # round 1's groupBy keys are exactly the docs that carry
            # labels, so one aggregate yields both sides of the first
            # convergence comparison.
            row = new_labels.agg(
                label_sum, F.sum(F.col("doc_id").cast("decimal(38,0)")).alias("s0")
            ).collect()[0]
            prev_sum, new_sum = row["s0"], row["s"]
        else:
            new_sum = new_labels.agg(label_sum).collect()[0]["s"]
        labels = new_labels
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        raise ValueError(
            f"components_over_buckets: hash-min propagation did not "
            f"converge in {max_iter} rounds (the label sum is still "
            f"decreasing) — the candidate graph has a component whose "
            f"diameter exceeds the round budget; raise max_iter or use "
            f"star_components (O(log^2 n) rounds on any graph shape)"
        )
    singletons = (
        all_docs.select("doc_id")
        .join(labels.select("doc_id"), "doc_id", "left_anti")
        .select("doc_id", F.col("doc_id").alias("label"))
    )
    labels = labels.union(singletons)
    # component_size as ONE window count over the labeled frame (r10
    # optimization): the former groupBy+join-back spelled the same thing
    # as TWO executions of the labels∪singletons subtree (the singleton
    # anti-join re-ran inside both the sizes aggregate and the join
    # probe — visible as duplicated SortMergeJoin LeftAnti subtrees in
    # the golden-record plan) plus a labels⋈sizes join. The window is
    # one hash exchange on label over a single execution of the subtree.
    return (
        labels.select(
            "doc_id",
            F.col("label").alias("component_id"),
            F.count("*")
            .over(Window.partitionBy("label"))
            .cast("long")
            .alias("component_size"),
        )
        .orderBy("doc_id")
    )


def star_components(edges: DataFrame, max_iter: int = 30) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SOCC 2014) — the adversarial-diameter twin of
    :func:`dup_components`' hash-min propagation. Hash-min converges in
    O(diameter) rounds, which a pathological chain corpus turns into
    O(n); star contraction converges in O(log² n) rounds on ANY graph
    shape, so it is the drop-in when candidate components can be long
    chains (SCALE.md "dup connected-components" row).

    ``edges``: undirected candidate pairs as columns (a, b). Returns
    (node, component_id) for every node appearing in an edge; the caller
    unions in singletons. Each round is two groupBy shuffles over the
    edge list (same per-round cost shape as hash-min); lineage truncated
    per round with localCheckpoint. Raises after ``max_iter`` rounds —
    non-convergence is a bug, not a timeout."""
    e = (
        edges.select(F.col("a").cast("long"), F.col("b").cast("long"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def both_dirs(ed: DataFrame) -> DataFrame:
        return ed.select("a", "b").union(
            ed.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )

    def star(ed: DataFrame, large: bool) -> DataFrame:
        nbrs = both_dirs(ed)
        mins = nbrs.groupBy("a").agg(
            F.least(F.min("b"), F.first("a")).alias("m")
        )
        joined = nbrs.join(mins, "a")
        if large:
            out = joined.filter(F.col("b") > F.col("a")).select(
                F.col("b").alias("x"), F.col("m").alias("y")
            )
        else:
            out = joined.filter(F.col("b") <= F.col("a")).select(
                F.col("b").alias("x"), F.col("m").alias("y")
            ).union(joined.select(F.col("a").alias("x"), F.col("m").alias("y")))
        return (
            out.filter(F.col("x") != F.col("y"))
            .select(
                F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
            )
            .distinct()
        )

    # Convergence = edge-set equality. Both sets are distinct, so
    # |new| == |old| plus ONE empty one-sided anti-join proves equality
    # (equal-cardinality subset) — the count is a cheap aggregate and
    # the anti-join only runs on rounds whose counts already match,
    # instead of two full anti-joins every round.
    prev_n = e.count()
    for _ in range(max_iter):
        new_e = star(star(e, large=True), large=False).localCheckpoint(eager=False)
        n = new_e.count()
        changed = 1
        if n == prev_n:
            changed = new_e.join(e, ["a", "b"], "left_anti").limit(1).count()
        e, prev_n = new_e, n
        if changed == 0:
            break
    else:
        raise RuntimeError(f"star contraction did not converge in {max_iter} rounds")
    # converged: every edge is (member, component-min)
    members = e.select(F.col("b").alias("node"), F.col("a").alias("component_id"))
    roots = e.select(F.col("a").alias("node"), F.col("a").alias("component_id"))
    return members.union(roots).distinct()


def dup_components_star(spark: SparkSession, sf_dir: str, max_iter: int = 30) -> DataFrame:
    """:func:`dup_components` computed by star contraction instead of
    hash-min — identical output contract and oracle; kept as a separate
    query so both algorithms stay continuously verified against each
    other and the SQL oracle (the star variant is the one a deployment
    switches to when components may be chain-shaped)."""
    pairs = minhash_band_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    labels = star_components(pairs, max_iter=max_iter)
    singletons = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .join(labels.select(F.col("node").alias("doc_id")), "doc_id", "left_anti")
        .select(F.col("doc_id").alias("node"), F.col("doc_id").alias("component_id"))
    )
    labels = labels.union(singletons)
    sizes = labels.groupBy("component_id").agg(F.count("*").alias("component_size"))
    return (
        labels.join(sizes, "component_id")
        .select(F.col("node").alias("doc_id"), "component_id", "component_size")
        .orderBy("doc_id")
    )


def dedup_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The final keep/drop decision: one row per document with its
    component and whether it survives (the component's min doc_id is the
    deterministic keeper). This is the artifact a curation pipeline
    actually writes — `dup_components` is its internal step."""
    comp = dup_components(spark, sf_dir)
    return comp.select(
        "doc_id",
        "component_id",
        "component_size",
        (F.col("doc_id") == F.col("component_id")).alias("keep"),
    ).orderBy("doc_id")


NIBBLES = 16  # simhash over 16 bits: one md5 hex nibble per bit position


def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash16 over distinct tokens: bit p = majority sign of
    (nibble p of md5(token)) & 1. Engine-portable (md5 + instr); the
    wider 64-bit variant is the same plan with more nibble columns."""
    from .textstats import _spread

    docs = _spread(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("tok")
    ).withColumn("h", F.md5(F.col("tok")))
    bit_sums = [
        F.sum(
            F.when(
                (F.instr(F.lit("0123456789abcdef"), F.substring("h", p + 1, 1)) - 1) % 2
                == 1,
                1,
            ).otherwise(-1)
        ).alias(f"s{p}")
        for p in range(NIBBLES)
    ]
    agg = tok.groupBy("doc_id").agg(*bit_sums)
    sig = reduce(
        lambda acc, p: acc
        + F.when(F.col(f"s{p}") > 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0)),
        range(NIBBLES),
        F.lit(0).cast("long"),
    )
    return agg.select("doc_id", sig.alias("simhash16")).orderBy("doc_id")


#: SimHash banding geometry: 16 bits -> 4 blocks of 4 bits. By the
#: pigeonhole argument (Manku, Jain & Das Sarma, "Detecting
#: Near-Duplicates for Web Crawling", WWW 2007), any pair within Hamming
#: distance d <= SIMHASH_BLOCKS - k differs in at most d blocks, so it
#: shares at least k identical blocks and lands in at least one
#: (block-choice, values) bucket when bucketing on every k-subset.
SIMHASH_BLOCKS = 4
SIMHASH_BLOCK_BITS = NIBBLES // SIMHASH_BLOCKS  # 4


def simhash_dup_pairs(
    spark: SparkSession, sf_dir: str, max_hamming: int = 2
) -> DataFrame:
    """SimHash near-duplicate pairs with EXACT recall at Hamming <= 2 via
    block banding: bucket each signature on every C(4,2)=6 choice of two
    4-bit blocks; a pair within distance 2 touches at most 2 blocks, so
    some 2 blocks match and the pair collides in that bucket (pigeonhole
    — recall 1 by construction, verified against the brute-force oracle).
    Candidates then pass the exact ``bit_count(xor)`` filter.

    Scale shape: the self-join keys are (block-choice, 8 bits of
    signature) — 6×256 buckets at this 16-bit geometry; a production
    64-bit simhash uses the same plan with more/wider blocks so bucket
    count grows into the millions and \\|bucket\\|² stays bounded. Bodies
    never move: only (doc_id, signature) pairs shuffle."""
    from itertools import combinations

    # The 2-of-4 block banding generates candidates ONLY for distance
    # <= SIMHASH_BLOCKS - 2; a larger max_hamming would silently lose
    # recall (the final filter would accept pairs banding never surfaces).
    if max_hamming > SIMHASH_BLOCKS - 2:
        raise ValueError(
            f"simhash_dup_pairs: max_hamming={max_hamming} exceeds the "
            f"2-of-{SIMHASH_BLOCKS} banding's exact-recall bound "
            f"{SIMHASH_BLOCKS - 2}; widen SIMHASH_BLOCKS instead"
        )
    sig = simhash(spark, sf_dir).select("doc_id", "simhash16")
    blocks = [
        ((F.col("simhash16") / F.lit(1 << (4 * i))).cast("long") % 16).alias(
            f"blk{i}"
        )
        for i in range(SIMHASH_BLOCKS)
    ]
    withb = sig.select("doc_id", "simhash16", *blocks)
    keys = F.array(
        *[
            F.struct(
                F.lit(n).alias("choice"),
                F.col(f"blk{i}").alias("v1"),
                F.col(f"blk{j}").alias("v2"),
            )
            for n, (i, j) in enumerate(combinations(range(SIMHASH_BLOCKS), 2))
        ]
    )
    keyed = withb.select(
        "doc_id", "simhash16", F.explode(keys).alias("k")
    ).select(
        "doc_id", "simhash16", F.col("k.choice").alias("choice"),
        F.col("k.v1").alias("v1"), F.col("k.v2").alias("v2"),
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.choice") == F.col("b.choice"))
            & (F.col("a.v1") == F.col("b.v1"))
            & (F.col("a.v2") == F.col("b.v2"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash16").alias("sa"),
            F.col("b.simhash16").alias("sb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("long")
    return (
        cands.select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .orderBy("doc_a", "doc_b")
    )


def corpus_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus dedup-health dashboard: per-source document counts, distinct
    text counts, and duplicate rate in per-mille — the summary a curation
    pipeline reports after (or before) an exact-dedup pass.

    COUNT(DISTINCT md5(text)) dedups on the 128-bit fingerprint, never the
    body, so the distinct shuffle carries 32-byte keys; at 100 TB this is
    the same two-shuffle distinct-agg shape as `part_supplier_variety`, and
    the approx twin (HLL on the fingerprint) is the documented dial."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.count("*")
    d = F.count_distinct(F.md5("text"))
    return (
        docs.groupBy("source")
        .agg(
            n.alias("n_docs"),
            d.alias("n_distinct"),
            (n - d).alias("dup_docs"),
        )
        .withColumn("dup_permille", permille_expr("dup_docs", "n_docs"))
        .orderBy("source")
    )


def source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source content-overlap matrix: pairwise shingle-set Jaccard
    between sources — the provenance dashboard that catches two "different"
    crawl snapshots or mirrored dumps feeding near-identical content into
    the corpus (the source-level view of what the doc-level LSH pipeline
    catches pairwise). Pairs with zero shared shingles are omitted.

    Scale shape: ONE wide shuffle, all-integer aggregation state. The
    doc→source-index map broadcasts into the session shingle index (at
    ingest scale ``source`` simply rides the shingle index as a scan-side
    column — the broadcast is the sf-local stand-in), then a single
    groupBy on the shingle key folds each shingle's source set into a
    64-BIT BITMASK (`bit_or(1 << idx)` — a plain long aggregate buffer;
    a collect_set-of-strings buffer here costs ~3× in shuffle/agg
    weight, measured on the 10× slope corpus), and the ordered source
    pairs explode from the set bits of each mask as INT structs — the
    pair fan-out carries two ints per pair, never two source strings.
    (A distinct-mask pre-collapse was measured and dropped: at realistic
    source counts the extra aggregate costs more than the explode it
    saves.) Per-source vocabulary sizes are the DIAGONAL of the same
    pair-cell aggregation (cell (i, i) = shingles containing source i),
    so the whole matrix is one explode + one groupBy over the mask
    frame; the |sources|²-bounded cell frame is localCheckpointed so
    the sizes and pairs consumers never re-run the corpus-sized
    lineage (previously two aggregate subtrees that AQE could only
    partially dedup — r6 slope work). The
    mask is SEGMENTED: ceil(|sources|/64) longs, one bit_or aggregate
    per word — ≤64 sources keeps the single-long buffer of old, 128
    sources costs one extra long per shingle of aggregate state (tested
    at 128); the word count comes from one tiny distinct-count job
    driver-side, control flow not data flow. The honest ceiling moves to
    the mask WIDTH: past ~4096 sources (64 words of aggregate state per
    shingle) the (source, shingle)-distinct count path wins, and that
    boundary is asserted loudly. The string shingle (not the 64-bit
    hash) keys the groupBy so the count is collision-exact against the
    oracle; at 100 TB the ``shh`` form is the documented swap."""
    from pyspark.sql.window import Window

    sh = shingle_index(spark, sf_dir).select("doc_id", "sh")
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    w = Window.orderBy("source")  # |sources| rows — single tiny partition
    srcidx = src.select("source").distinct().select(
        "source", (F.row_number().over(w) - 1).cast("int").alias("idx")
    )
    n_src = srcidx.count()  # tiny: |sources| rows, sets the mask width
    if n_src > 4096:
        raise ValueError(
            f"source_overlap: {n_src} sources would need {-(-n_src // 64)} "
            "mask words of aggregate state per shingle — switch to the "
            "(source, shingle)-distinct count path at this cardinality"
        )
    n_words = max(1, -(-n_src // 64))
    docmap = src.join(F.broadcast(srcidx), "source").select("doc_id", "idx")
    word_aggs = [
        F.bit_or(
            F.when(
                (F.col("idx") >= 64 * wd) & (F.col("idx") < 64 * (wd + 1)),
                F.expr(f"shiftleft(1L, idx - {64 * wd})"),
            ).otherwise(F.lit(0).cast("long"))
        ).alias(f"m{wd}")
        for wd in range(n_words)
    ]
    masks = (
        sh.join(F.broadcast(docmap), "doc_id")
        .groupBy("sh")
        .agg(*word_aggs)
        .select(F.array(*[f"m{wd}" for wd in range(n_words)]).alias("marr"))
    )
    bits = F.expr(
        f"filter(sequence(0, {64 * n_words - 1}),"
        " i -> ((element_at(marr, CAST(i DIV 64 AS INT) + 1) >> (i % 64)) & 1) = 1)"
    ).alias("bits")
    mc = masks.select(bits)
    # ONE explode + ONE groupBy over the mask frame: the upper triangle
    # INCLUDING the diagonal — cell (i, i) counts shingles containing
    # source i, i.e. the per-source vocabulary size, so the separate
    # sizes aggregation (a second full pass over the shingle masks that
    # AQE could only partially dedup against the pairs subtree) folds
    # into the same shuffle. Total fan-out is identical: the old
    # per-bit sizes explode IS the diagonal. The cell frame is
    # |sources|²-bounded — localCheckpoint pins it so the sizes and
    # pairs consumers below never re-run the corpus-sized lineage.
    pair = F.explode(
        F.expr(
            "flatten(transform(bits, (x, i) ->"
            " transform(slice(bits, i + 1, size(bits) - i),"
            " y -> struct(x AS ia, y AS ib))))"
        )
    ).alias("p")
    cells = (
        mc.select(pair)
        .groupBy(F.col("p.ia").alias("ia"), F.col("p.ib").alias("ib"))
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    sizes = cells.filter(F.col("ia") == F.col("ib")).select(
        F.col("ia").alias("idx"), F.col("cnt").alias("n_sh")
    )
    pairs = cells.filter(F.col("ia") < F.col("ib")).withColumnRenamed(
        "cnt", "inter_shingles"
    )
    sz = sizes.join(F.broadcast(srcidx), "idx")
    za = sz.select(
        F.col("source").alias("src_a"), F.col("n_sh").alias("n_a"), F.col("idx").alias("ia")
    )
    zb = sz.select(
        F.col("source").alias("src_b"), F.col("n_sh").alias("n_b"), F.col("idx").alias("ib")
    )
    return (
        pairs.join(F.broadcast(za), "ia")
        .join(F.broadcast(zb), "ib")
        .select(
            "src_a",
            "src_b",
            "inter_shingles",
            "n_a",
            "n_b",
            # the engine's ONE half-up rounding formula — a truncating
            # (1000*i) DIV u here rounded differently from every other
            # jaccard_permille column (r7 review)
            mean_millis_expr(
                "inter_shingles", "n_a + n_b - inter_shingles"
            ).alias("jaccard_permille"),
        )
        .orderBy("src_a", "src_b")
    )


def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the share of its distinct shingles that occur
    NOWHERE else in the corpus (df == 1) — the diversity/memorization
    signal a curation pipeline uses to find boilerplate-heavy vs unique
    content (low novelty + high dup-pair count = template text).

    Scale shape: reuses the session shingle index; the df table is one
    partial-aggregated groupBy on the 8-byte shingle hash, joined back by
    the same key (both sides hash-partition on ``shh`` — co-partitioned,
    one exchange each), then a per-doc fold. Document bodies never
    shuffle."""
    sh = shingle_index(spark, sf_dir).select("doc_id", "shh")
    dfc = sh.groupBy("shh").agg(F.count("*").alias("df"))
    uniq = F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).cast("long")
    return (
        sh.join(dfc, "shh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            uniq.alias("n_unique"),
        )
        .withColumn(
            "novelty_permille", permille_expr("n_unique", "n_shingles")
        )
        .orderBy("doc_id")
    )


#: Window length (tokens) for exact duplicate-span detection. 50 tokens in
#: the original suffix-array formulation; 8 here so the test corpora (mean
#: ~50 tokens/doc) exercise the merge logic. The plan is L-independent.
SPAN_L = 8


def span_islands(dpos: DataFrame, span_l: int = SPAN_L) -> DataFrame:
    """Merge duplicated ``span_l``-token window starts ``(doc_id, pos)``
    into maximal spans per document — gaps-and-islands over two window
    functions: a window opens a new island when it starts at or past the
    end of every earlier window — and count them: (doc_id, n_dup_spans,
    n_dup_tokens). The one island kernel behind :func:`duplicate_spans`,
    :func:`span_admission_frame` and the streaming ``span_dedup`` layer,
    which differ only in which windows count as duplicated."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + span_l).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = dpos.withColumn(
        "new_island",
        F.when(prev_end.isNull() | (F.col("pos") >= prev_end), 1).otherwise(0),
    ).withColumn("island_id", F.sum("new_island").over(w))
    return (
        isl.groupBy("doc_id", "island_id")
        .agg(F.min("pos").alias("s"), (F.max("pos") + span_l).alias("e"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_dup_spans"),
            F.sum(F.col("e") - F.col("s")).cast("long").alias("n_dup_tokens"),
        )
    )


def duplicate_spans(
    spark: SparkSession, sf_dir: str, span_l: int = SPAN_L
) -> DataFrame:
    """Exact substring-duplication audit — the ExactSubstr pass of Lee et
    al. 2021 ("Deduplicating Training Data Makes Language Models Better")
    re-expressed for Spark. The suffix-array formulation is inherently
    sequential; the distributed equivalent hashes every ``span_l``-token
    window, marks windows whose hash occurs >= 2 times corpus-wide as
    duplicated, and merges overlapping duplicated windows per document
    into maximal spans (gaps-and-islands over two window functions).
    Output: per-doc duplicated-span count, removable duplicated-token
    count, and dup share in per-mille.

    Scale shape: window hashes are computed scan-side (array transform, no
    shuffle); the corpus-wide occurrence count is ONE hash-partitioned
    window over the 16-byte hash key (cheaper than groupBy+join, which
    would shuffle the same occurrence rows PLUS a count table); the
    island merge partitions by doc_id — embarrassingly parallel. A
    boilerplate span seen everywhere is a hot key for the count window;
    AQE skew handling splits it, and no pair explosion exists anywhere
    (output is linear in input, unlike pair-generating dedup ops).
    """
    from pyspark.sql.window import Window

    para = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents").repartition(para, "doc_id")
    t = F.col("t")
    # tokenize the corpus ONCE: both consumers (the per-doc token counts
    # and the exploded window hashes) read the same lazily-pinned frame
    # instead of each re-scanning and re-splitting the text (guide §1.2);
    # the pin trades the second full parse for one block-manager
    # write+read of the token arrays — the tokenize-once materialization
    # every ExactSubstr pipeline makes.
    tok = docs.select("doc_id", tokens(F.col("text")).alias("t")).localCheckpoint(
        eager=False
    )
    spans = span_occurrences_from_tokens(tok, span_l)
    occ = F.count("*").over(Window.partitionBy("h"))
    dpos = spans.withColumn("n_occ", occ).filter(F.col("n_occ") >= 2).select(
        "doc_id", "pos"
    )
    per_doc = span_islands(dpos, span_l)
    n_tok = tok.select("doc_id", F.size(t).cast("long").alias("n_tokens"))
    joined = n_tok.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("n_dup_spans"), F.lit(0)).cast("long").alias("n_dup_spans"),
        F.coalesce(F.col("n_dup_tokens"), F.lit(0)).cast("long").alias("n_dup_tokens"),
    )
    return joined.select(
        "doc_id",
        "n_tokens",
        "n_dup_spans",
        "n_dup_tokens",
        permille_expr("n_dup_tokens", "n_tokens").alias("dup_permille"),
    ).orderBy("doc_id")


def dedup_clean_text(
    spark: SparkSession, sf_dir: str, span_l: int = SPAN_L
) -> DataFrame:
    """The removal step that follows :func:`duplicate_spans` — Lee et al.
    2021's ExactSubstr-dedup transformation itself: every duplicated
    ``span_l``-token window occurrence EXCEPT the globally first one
    (min (doc_id, pos) per window hash) is removed, overlapping removals
    merge naturally via token-index coverage, and the surviving tokens are
    reassembled into the cleaned text. A full duplicate of an earlier doc
    cleans to the empty string; the first occurrence survives verbatim.

    Scale shape: one shuffle+sort on the window hash assigns the keeper
    (row_number) and the occurrence count in the same window pass; removal
    coverage explodes to (doc_id, token_idx) pairs — bounded by corpus
    token count, linear, never pairs of documents; the kept-token
    reassembly is a per-doc sort_array over an already doc-partitioned
    aggregate. Document text rides the scan only twice (tokenize +
    rebuild); the join spine is all integers and 16-byte hashes."""
    from pyspark.sql.window import Window

    para = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents").repartition(para, "doc_id")
    t = F.col("t")
    # tokenize-once pin: THREE consumers here (window hashes, the
    # positional token explode, the per-doc length attach) previously
    # each re-scanned and re-split the text — guide §1.2; see
    # :func:`duplicate_spans` for the materialization tradeoff.
    tok = docs.select("doc_id", tokens(F.col("text")).alias("t")).localCheckpoint(
        eager=False
    )
    spans = span_occurrences_from_tokens(tok, span_l)
    w_h = Window.partitionBy("h")
    ranked = spans.select(
        "doc_id",
        "pos",
        F.row_number().over(w_h.orderBy("doc_id", "pos")).alias("rn"),
        F.count("*").over(w_h).alias("n_occ"),
    )
    removed = ranked.filter((F.col("n_occ") >= 2) & (F.col("rn") >= 2))
    covered = removed.select(
        "doc_id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + (span_l - 1))).alias("idx"),
    ).distinct()
    toks_idx = tok.select("doc_id", F.posexplode(t).alias("idx", "tok"))
    kept = toks_idx.join(covered, ["doc_id", "idx"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("idx", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").cast("long").alias("n_kept"),
    )
    return (
        tok.select("doc_id", F.size(t).cast("long").alias("n_tokens"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
        .orderBy("doc_id")
    )


#: Admission threshold for span-level dedup: reject a document when more
#: than this share (per-mille) of its tokens is covered by L-token windows
#: already seen in earlier (smaller doc_id) documents.
SPAN_MAX_DUP_PERMILLE = 500


def span_admission(
    spark: SparkSession,
    sf_dir: str,
    span_l: int = SPAN_L,
    max_dup_permille: int = SPAN_MAX_DUP_PERMILLE,
) -> DataFrame:
    """Span-level admission verdict — the ORDERED counterpart of
    :func:`duplicate_spans`: an occurrence only counts as duplicated if
    the same ``span_l``-token window occurs in an EARLIER document
    (smaller doc_id), so the first arrival of any content is always
    charged zero. A document whose earlier-dup share exceeds
    ``max_dup_permille`` is rejected. This is the batch twin of the
    streaming ``span_dedup`` admission in ``StreamingCorpusIngest``:
    a full in-order replay admits exactly this verdict's 'admit' set,
    because "earlier document" is batch-boundary-free (min doc_id per
    window hash).

    Scale shape: identical to :func:`duplicate_spans` — scan-side window
    hashing, ONE count/min window over the hash key, doc-partitioned
    island merge, linear output."""
    para = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents").repartition(para, "doc_id")
    return span_admission_frame(docs, span_l, max_dup_permille)


def span_admission_frame(
    docs: DataFrame,
    span_l: int = SPAN_L,
    max_dup_permille: int = SPAN_MAX_DUP_PERMILLE,
) -> DataFrame:
    """:func:`span_admission` over an arbitrary ``(doc_id, text)`` frame —
    the shared core the streaming reconciler re-runs over the seen corpus
    so its span verdict is expression-identical to the batch one."""
    from pyspark.sql.window import Window

    t = F.col("t")
    # tokenize-once pin, same as :func:`duplicate_spans`: the window
    # hashes and the per-doc length attach read one lazily-pinned
    # tokenized frame instead of two full text parses (guide §1.2); the
    # streaming reconciler inherits the single-parse shape per replay.
    tok = docs.select("doc_id", tokens(F.col("text")).alias("t")).localCheckpoint(
        eager=False
    )
    spans = span_occurrences_from_tokens(tok, span_l)
    min_doc = F.min("doc_id").over(Window.partitionBy("h"))
    dpos = (
        spans.withColumn("min_doc", min_doc)
        .filter(F.col("min_doc") < F.col("doc_id"))
        .select("doc_id", "pos")
    )
    per_doc = span_islands(dpos, span_l)
    pm = permille_expr("coalesce(n_dup_tokens, 0)", "n_tokens")
    return (
        tok.select("doc_id", F.size(t).cast("long").alias("n_tokens"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("n_dup_tokens"), F.lit(0)).cast("long").alias("n_dup_tokens"),
            pm.alias("dup_permille"),
        )
        .withColumn(
            "verdict",
            F.when(F.col("dup_permille") > max_dup_permille, F.lit("reject"))
            .otherwise(F.lit("admit")),
        )
        .orderBy("doc_id")
    )


def doc_span_occurrences(docs: DataFrame, span_l: int = SPAN_L) -> DataFrame:
    """(doc_id, pos, h) for every ``span_l``-token window of every
    document — the shared kernel behind the span-dedup family and the
    streaming ``span_dedup`` admission (which probes these hashes against
    its seen-window state)."""
    return span_occurrences_from_tokens(
        docs.select("doc_id", tokens(F.col("text")).alias("t")), span_l
    )


def span_occurrences_from_tokens(tok: DataFrame, span_l: int = SPAN_L) -> DataFrame:
    """:func:`doc_span_occurrences` over an already-tokenized
    ``(doc_id, t)`` frame, so a caller that also needs the token arrays
    (per-doc lengths, token re-assembly) can tokenize the corpus ONCE and
    feed every consumer from the same frame."""
    t = F.col("t")
    grams = F.transform(gram_strings(t, span_l), lambda s: F.md5(s))
    return tok.filter(F.size(t) >= span_l).select(
        "doc_id", F.posexplode(grams).alias("pos", "h")
    )


def tfidf_cosine_pairs(
    spark: SparkSession,
    sf_dir: str,
    max_df: int = DEFAULT_MAX_DF,
    min_cos2_ppm: int = 250_000,
) -> DataFrame:
    """Sparse-vector near-dup via TF-IDF cosine over word shingles — the
    weighted companion that completes the similarity triangle: set
    overlap (Jaccard/MinHash) ignores multiplicity, dense embeddings
    (``similarity.near_dup_pairs``) need a model; TF-IDF cosine scores
    how much of each document's *distinctive mass* the pair shares, so a
    doc that repeats a rare boilerplate block scores differently from
    one that mentions it once. Terms are 3-token shingles WITH
    multiplicity (SpotSigs-style, Theobald et al. SIGIR'08) — unigrams
    are the degenerate choice under a small dense vocabulary, where
    every token's df ≈ N and all IDF mass vanishes; shingle df is sparse
    by construction (the same reason the Jaccard family shingles).

    Integer-exact throughout so the DuckDB oracle is hash-identical:
    IDF is whole-bit (bitlen(N) - bitlen(df), the engine's standard
    floor-log2 quantization), weights are ``tf · idf_bits``, and instead
    of a square root the score is **cos² in parts-per-million**:

        cos2_ppm = (10⁶ · dot²) DIV (‖a‖² · ‖b‖²)

    computed in DECIMAL(38,0) / HUGEINT (dot ≤ ~1e12 ⇒ numerator ≤ 1e30,
    inside both engines' 38-digit range). cos ≥ 0.5 ⇔ cos2_ppm ≥ 250_000.

    Scale shape: the pair join is an **inverted index self-join** keyed by
    the term, with the same document-frequency cap discipline as the
    shingle family — terms with df > ``max_df`` are dropped from the pair
    generation (a hot term contributes df² pairs; the cap is the skew
    dial, and what it can drop is enumerable the same way
    ``stop_shingles`` enumerates dropped shingles). Norms are computed
    over ALL positive-IDF terms scan-side (one partial-aggregated groupBy
    per doc), so the score degrades gracefully (dot is a lower bound)
    rather than silently inflating. Everything that shuffles is
    (doc_id, term, weight) triples — document bodies never move (at
    production scale the term string rides as its xxhash64, the
    ``shingle_index`` ``shh`` trick)."""
    docs = load_table(spark, sf_dir, "documents")
    parallelism = spark.sparkContext.defaultParallelism
    t = F.col("t")
    # Shingle construction is fully VECTORIZED (the bigram_surprisal
    # treatment): arrays_zip of SHINGLE shifted slices — no higher-order
    # lambda (a transform() measured ~3 µs/element of interpreted-lambda
    # overhead) — and the term is hashed to an 8-byte xxhash64 key by
    # whole-stage-codegen right after the explode (multi-column xxhash64
    # chains per column, so no concat ambiguity). No shuffle in this op
    # ever carries a shingle string: the tf groupBy, the df groupBy, the
    # idf join, the checkpoint, and the inverted-index self-join all
    # move (doc_id, th) longs. The DuckDB oracle keeps the strings —
    # identical results modulo 64-bit collisions.
    gram_len = F.greatest(F.lit(0), F.size(t) - (SHINGLE - 1))
    gram_zip = F.arrays_zip(
        *[F.slice(t, k + 1, gram_len) for k in range(SHINGLE)]
    )
    occ = (
        docs.repartition(parallelism, "doc_id")
        .select("doc_id", tokens(F.col("text")).alias("t"))
        .filter(F.size(t) >= SHINGLE)
        .select("doc_id", F.explode(gram_zip).alias("g"))
        .select(
            "doc_id",
            F.xxhash64(
                *[F.col("g")[str(k)] for k in range(SHINGLE)]
            ).alias("th"),
        )
    )
    tf = occ.groupBy("doc_id", "th").agg(F.count("*").cast("long").alias("tf"))
    n_docs = docs.select(F.count("*").cast("long").alias("n_docs"))
    df = tf.groupBy("th").agg(F.count("*").cast("long").alias("df"))
    idf = (
        df.crossJoin(F.broadcast(n_docs))
        .select(
            "th",
            "df",
            (F.length(F.bin(F.col("n_docs"))) - F.length(F.bin(F.col("df"))))
            .cast("long")
            .alias("idf_bits"),
        )
        .filter(F.col("idf_bits") > 0)
    )
    # The weight table feeds THREE consumers (norms + both inverted-index
    # join sides) — checkpoint it so tokenize → tf → idf runs once, not
    # once per subtree (the engine's standard reused-heavy-frame rule).
    # The term rides as its xxhash64 from here on (the shingle_index
    # ``shh`` trick the docstring promises): the checkpointed bytes and
    # the self-join shuffle carry an 8-byte key instead of a ~30-byte
    # shingle string — the postings frame is THE linear cost of this op,
    # so its row width is the slope dial (r7 target: 0.58 -> <=0.5).
    # ``keep`` folds the df cap into one boolean so df never rides past
    # this select.
    w = (
        tf.join(idf, "th")
        .select(
            "doc_id",
            "th",
            (F.col("df") <= max_df).alias("keep"),
            (F.col("tf") * F.col("idf_bits")).alias("w"),
        )
        .localCheckpoint(eager=False)
    )
    # pin the norms (r10): na and nb are two consumers, and unpinned the
    # norm aggregate re-read the full postings checkpoint once per side
    # (two HashAggregate passes in the before plan). |docs| rows of two
    # longs — the same narrow-sizes-frame treatment as the jaccard family.
    norms = (
        w.groupBy("doc_id")
        .agg(F.sum(F.col("w") * F.col("w")).cast("long").alias("norm2"))
        .localCheckpoint(eager=False)
    )
    inv = w.filter(F.col("keep")).select("doc_id", "th", "w")
    a = inv.select(
        F.col("doc_id").alias("doc_a"), "th", F.col("w").alias("wa")
    )
    b = inv.select(
        F.col("doc_id").alias("doc_b"), "th", F.col("w").alias("wb")
    )
    dots = (
        a.join(b, "th")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).cast("long").alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("norm2").alias("na"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("norm2").alias("nb"))
    # broadcast the two norm joins (r10): unpinned/unhinted they planned
    # as SortMergeJoins that re-shuffled AND re-sorted the pair frame by
    # doc_a then doc_b — two full pair-frame exchanges to attach two
    # longs. The norm frame is the |docs|-row narrow side. GATED (r11,
    # advice item): norms is corpus-proportional (16 bytes/doc), so an
    # unconditional broadcast would eventually hit the 8 GB broadcast cap
    # / driver heap at the very scale this op targets. Gate on the
    # on-disk size of the source corpus (driver-side metadata, no job):
    # under the threshold the norm frame is at most a few hundred MB and
    # broadcasting skips both pair-frame exchanges; over it, fall back to
    # the shuffled-hash join (no sort — the pair frame is hash-attached,
    # which is the documented at-scale plan).
    if table_bytes(sf_dir, "documents") <= NORM_BROADCAST_MAX_CORPUS_BYTES:
        na, nb = F.broadcast(na), F.broadcast(nb)
    else:
        na, nb = na.hint("shuffle_hash"), nb.hint("shuffle_hash")
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "dot",
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0)) * dot * dot)"
                " DIV (CAST(na AS DECIMAL(38,0)) * nb) AS BIGINT)"
            ).alias("cos2_ppm"),
        )
        .filter(F.col("cos2_ppm") >= min_cos2_ppm)
        .orderBy("doc_a", "doc_b")
    )


def gram_hash_collision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The collision audit for every 8-byte hashed gram key this engine
    shuffles in place of the gram itself (r7 verdict): one row per
    hashed-key family with the EXACT distinct-gram count next to the
    distinct-HASH count over the same domain. The documented contract —
    "identical results modulo 64-bit collisions" (``shingle_index.shh``,
    ``tfidf_cosine_pairs.th``, ``bigram_surprisal.bgh``/``ph``) — is
    thereby CHECKED, not assumed: any collision makes n_hashes <
    n_grams, which both the oracle hash-compare (the oracle emits
    n_grams twice, asserting equality) and the parity suite catch. The
    quantitative bound is the birthday estimate n²/2⁶⁵ (~3% at n=2³⁰;
    grams here are ~10⁴-10⁶), so a green audit is expected — the point
    is that a trillion-token corpus operator can RUN this instead of
    trusting the estimate.

    Scale shape: two corpus scans (one shingle explode, one bigram
    explode), each feeding one multi-count_distinct aggregation (an
    Expand of 3-4x the exploded rows — the audit's documented cost;
    run it at parity/audit time, not in the hot path). Nothing else
    shuffles; output is 4 rows.

    Domain-fidelity notes: the shingle/tfidf families share one scan —
    the tfidf tuple hash is recomputed from the space-joined shingle by
    split, which is value-identical because tokens are alphanumeric
    (no token contains the joiner); the bigram families reuse the
    operator's own ``bigram_zip`` constructor, so the audited domain IS
    the hashed domain."""
    from .textstats import bigram_zip

    docs = load_table(spark, sf_dir, "documents")
    sh = shingles(docs)
    parts = F.split(F.col("sh"), " ")
    sh_agg = sh.agg(
        F.count_distinct("sh").alias("ng"),
        F.count_distinct(F.xxhash64("sh")).alias("nh_str"),
        F.count_distinct(
            F.xxhash64(*[F.element_at(parts, k + 1) for k in range(SHINGLE)])
        ).alias("nh_tup"),
    )
    sh_rows = sh_agg.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("shingle").alias("family"),
                    F.col("ng").cast("long").alias("n_grams"),
                    F.col("nh_str").cast("long").alias("n_hashes"),
                ),
                F.struct(
                    F.lit("tfidf_term").alias("family"),
                    F.col("ng").cast("long").alias("n_grams"),
                    F.col("nh_tup").cast("long").alias("n_hashes"),
                ),
            )
        ).alias("r")
    ).select("r.*")

    spark2 = docs.sparkSession
    parallelism = spark2.sparkContext.defaultParallelism
    big = (
        docs.repartition(parallelism, "doc_id")
        .select(F.explode(bigram_zip(tokens(F.col("text")))).alias("p"))
        .select(F.col("p")["0"].alias("t1"), F.col("p")["1"].alias("t2"))
    )
    bg_agg = big.agg(
        F.count_distinct(F.struct("t1", "t2")).alias("ng_b"),
        F.count_distinct(F.xxhash64("t1", "t2")).alias("nh_b"),
        F.count_distinct("t1").alias("ng_c"),
        F.count_distinct(F.xxhash64("t1")).alias("nh_c"),
    )
    bg_rows = bg_agg.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("bigram").alias("family"),
                    F.col("ng_b").cast("long").alias("n_grams"),
                    F.col("nh_b").cast("long").alias("n_hashes"),
                ),
                F.struct(
                    F.lit("bigram_context").alias("family"),
                    F.col("ng_c").cast("long").alias("n_grams"),
                    F.col("nh_c").cast("long").alias("n_hashes"),
                ),
            )
        ).alias("r")
    ).select("r.*")
    return sh_rows.unionByName(bg_rows).orderBy("family")
