"""Similarity search over the ``embeddings`` table (array<float> column).

Every top-k path is filter-and-refine: a candidate stage of its own
(brute force, IVF probe list, multi-probe LSH buckets, PQ codes), then
the shared kernels below.

- **Score** — :func:`_cosine`. Embeddings are quantized to integer
  milli-units so the dot product is exact integer arithmetic
  (order-independent => identical in Spark and the DuckDB oracle); only
  the final cosine normalization touches floating point, and it is
  emitted as a rounded micro-unit BIGINT. The Arrow kernels round with
  :func:`_half_up`, Spark's HALF_UP.
- **Rank** — :func:`_top_k`: per query, (score DESC, neighbor_id ASC),
  rank <= k. Every oracle mirrors this one rule.

Query sets and probe lists are broadcast, so the candidate side never
shuffles through a join: at 100 TB a probe is one (pruned) scan +
per-partition top-k + driver merge.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.tables import load_table

#: milli-unit quantization of float components (exact in both engines).
QUANT = 1000


def _quantized(df: DataFrame) -> DataFrame:
    q = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * QUANT, 0).cast("long"),
    )
    return df.select("vec_id", "label", q.alias("e"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _norm(c: Column) -> Column:
    return F.sqrt(_dot(c, c).cast("double"))


def _sim_micro(dot: Column, norm_product: Column) -> Column:
    return F.round(1_000_000 * dot / norm_product, 0).cast("long")


def _half_up(x):
    """numpy twin of ``F.round(x, 0)`` (HALF_UP) as int64: the rounding
    every Arrow kernel applies to its float cosines, so their scores are
    bit-identical to :func:`_sim_micro`'s."""
    import numpy as np

    return np.where(x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5)).astype(np.int64)


def _side(
    df: DataFrame, role: str, *extra: Column, vec: str = "e", norm: str | None = None
) -> DataFrame:
    """One side of the exact scoring join: ``role="q"`` gives (query_id,
    qe, qn), ``role="c"`` gives (neighbor_id, ce, cn), each followed by
    ``extra``. ``norm`` names a precomputed norm column; without it the
    norm is computed from ``vec``."""
    n = F.col(norm) if norm else _norm(F.col(vec))
    return df.select(
        F.col("vec_id").alias("query_id" if role == "q" else "neighbor_id"),
        F.col(vec).alias(f"{role}e"),
        n.alias(f"{role}n"),
        *extra,
    )


def _cosine(pairs: DataFrame, score: str = "sim_micro") -> DataFrame:
    """The exact score of each joined query × candidate row (see
    :func:`_side`): (query_id, neighbor_id, score)."""
    return pairs.select(
        "query_id",
        "neighbor_id",
        _sim_micro(
            _dot(F.col("qe"), F.col("ce")), F.col("qn") * F.col("cn")
        ).alias(score),
    )


def _top_k(scored: DataFrame, k: int, score: str = "sim_micro") -> DataFrame:
    """The rank rule: per query, ``row_number`` over (score DESC,
    neighbor_id ASC), keep rank <= k, ordered by (query_id, rank)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score).desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def _brute_force(emb: DataFrame, n_queries: int, vec: str = "e") -> DataFrame:
    """The brute-force candidate stage: the first ``n_queries`` vectors
    (broadcast) against every other vector."""
    queries = _side(emb.filter(F.col("vec_id") < n_queries), "q", vec=vec)
    cands = _side(emb.filter(F.col("vec_id") >= n_queries), "c", vec=vec)
    return cands.join(F.broadcast(queries))


def cosine_topk(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 5,
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors for the first ``n_queries`` vectors.

    Rank is (sim_micro DESC, vec_id) — fully deterministic. Queries are
    broadcast; ranking is a per-query window over the candidate scan."""
    emb = _quantized(load_table(spark, sf_dir, "embeddings"))
    return _top_k(_cosine(_brute_force(emb, n_queries)), k)


def near_dup_pairs(
    spark: SparkSession, sf_dir: str, threshold_micro: int = 400_000
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the vector member of the
    dedup family): all pairs with similarity >= threshold.

    This is the exactness baseline (all-pairs); at 100 TB the same scoring
    runs behind LSH-bucket blocking (`ann_lsh_topk`'s join shape) so the
    pair space is |bucket|² — the brute variant stays as the recall oracle
    on samples. Scoring is the quantized integer dot (order-independent,
    engine-exact). Norms are computed once per vector BEFORE the pair
    join (N aggregates instead of 2·N²) and one side is broadcast so the
    nested-loop pair generation never shuffles the corpus."""
    emb = _quantized(load_table(spark, sf_dir, "embeddings"))
    withn = emb.select("vec_id", "e", _norm(F.col("e")).alias("n"))
    # The corpus parquet is tiny-file/single-split, but the pair space is
    # |N|²: spread the probe side across all cores so the O(N²) scoring
    # parallelizes (the broadcast join would otherwise inherit 1 task).
    a = withn.repartition(spark.sparkContext.defaultParallelism).select(
        F.col("vec_id").alias("vec_a"), F.col("e").alias("ea"), F.col("n").alias("na")
    )
    b = withn.select(
        F.col("vec_id").alias("vec_b"), F.col("e").alias("eb"), F.col("n").alias("nb")
    )
    pairs = a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
    scored = pairs.select(
        "vec_a",
        "vec_b",
        _sim_micro(
            _dot(F.col("ea"), F.col("eb")), F.col("na") * F.col("nb")
        ).alias("sim_micro"),
    )
    return scored.filter(F.col("sim_micro") >= threshold_micro).orderBy(
        "vec_a", "vec_b"
    )


def near_dup_pairs_blocked(
    spark: SparkSession, sf_dir: str, threshold_micro: int = 400_000, n_blocks: int = 8
) -> DataFrame:
    """Same result as :func:`near_dup_pairs`, different physical shape:
    a distributed triangle block-nested-loop with numpy matmul kernels.

    Vectors are hashed into ``n_blocks`` disjoint blocks; the (i <= j)
    block-pair triangle is cogrouped so each task scores one ``A @ B.T``
    int64 matmul — BLAS-vectorized, ~2 orders of magnitude more
    multiply-adds/sec than a 64-element ``zip_with`` expression tree per
    pair. No table data ever passes through the driver: replication is
    ``n_blocks + 1`` copies through one shuffle (the classic triangle
    self-join), and each task holds only 2 blocks (~2·N/n_blocks rows),
    so executor memory bounds the block size, not the corpus. Pick
    ``n_blocks ~ sqrt(cluster cores)`` at scale. The integer dot keeps
    results bit-identical to the expression variant and the DuckDB oracle
    (rounding reproduces Spark's HALF_UP). This stays the *exact* recall
    oracle — the sub-quadratic scale paths are :func:`semdedup_pairs`
    (cluster-blocked) and the LSH bucket join."""
    import numpy as np
    import pandas as pd

    emb = _quantized(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "e", F.pmod(F.col("vec_id"), F.lit(n_blocks)).alias("blk")
    )
    tri = spark.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(n_blocks) if i <= j],
        "bi int, bj int",
    )
    tri_r = tri.select(F.col("bi").alias("rbi"), F.col("bj").alias("rbj"))
    left = emb.join(F.broadcast(tri), F.col("blk") == F.col("bi")).select(
        "bi", "bj", "vec_id", "e"
    )
    right = emb.join(F.broadcast(tri_r), F.col("blk") == F.col("rbj")).select(
        "rbi", "rbj", F.col("vec_id").alias("rvec_id"), F.col("e").alias("re")
    )

    def score(key, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if lpdf.empty or rpdf.empty:
            return pd.DataFrame(
                {c: pd.Series(dtype="int64") for c in ("vec_a", "vec_b", "sim_micro")}
            )
        # Cross-block pairs need no id mask: distinct pmod residue classes
        # can never share a vec_id.
        return _block_pairs(
            lpdf["vec_id"].to_numpy(np.int64),
            np.array(list(lpdf["e"]), dtype=np.int64),
            rpdf["rvec_id"].to_numpy(np.int64),
            np.array(list(rpdf["re"]), dtype=np.int64),
            threshold_micro,
            same_block=int(key[0]) == int(key[1]),
        )

    return (
        left.groupby("bi", "bj")
        .cogroup(right.groupby("rbi", "rbj"))
        .applyInPandas(score, schema="vec_a long, vec_b long, sim_micro long")
        .orderBy("vec_a", "vec_b")
    )


def _block_pairs(aids, a, bids, b, threshold_micro: int, same_block: bool):
    """The block-pair scorer behind both matmul near-dup paths: the
    HALF_UP micro-unit cosine of every row of ``a`` against every row of
    ``b`` (int64 milli-unit matrices, so the dot is exact), kept at
    >= ``threshold_micro``. A block scored against itself keeps each
    unordered pair once. Returns (vec_a < vec_b, sim_micro)."""
    import numpy as np
    import pandas as pd

    an = np.sqrt((a * a).sum(axis=1).astype(np.float64))
    bn = np.sqrt((b * b).sum(axis=1).astype(np.float64))
    sim = _half_up((1_000_000 * (a @ b.T)).astype(np.float64) / np.outer(an, bn))
    keep = sim >= threshold_micro
    if same_block:
        keep &= aids[:, None] < bids[None, :]
    ai, bi = np.nonzero(keep)
    va, vb = aids[ai], bids[bi]
    return pd.DataFrame(
        {"vec_a": np.minimum(va, vb), "vec_b": np.maximum(va, vb), "sim_micro": sim[ai, bi]}
    )


def _centroid_sums(emb: DataFrame) -> DataFrame:
    """Per-label centroid *sum* vectors as ``(cell, cs: array<long>)``.

    Sums (not means): cosine to a centroid is scale-invariant, so dividing
    by n is pure float noise — keeping integer sums keeps the whole
    assignment reproducible across engines. Caveat recorded: component
    sums are exact in int64 up to ~1e9 rows/cell at milli-quantization;
    beyond that switch ``cs`` to double."""
    exploded = emb.select("label", F.posexplode("e").alias("pos", "v"))
    sums = exploded.groupBy("label", "pos").agg(F.sum("v").alias("s"))
    return (
        sums.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "s"))).alias("ps"))
        .select(
            F.col("label").alias("cell"),
            F.transform("ps", lambda x: x["s"]).alias("cs"),
        )
    )


def centroids_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(session, sf_dir) persisted centroid table — O(cells) rows,
    built once per session and broadcast into every assignment/probe
    consumer (a resident ANN index keeps its centroids resident)."""
    from ..cache import get_or_build

    return get_or_build(
        "ivf_centroids",
        spark,
        sf_dir,
        lambda: _centroid_sums(
            _quantized(load_table(spark, sf_dir, "embeddings"))
        ),
    )


def ivf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized IVF assignment: (vec_id, label, cell,
    cell_sim_micro, e, vnorm) — rank-1 cell per vector over the broadcast
    centroid table, persisted per (session, sf_dir). Shared by
    :func:`ivf_assign` (the index-build query) and :func:`ivf_topk` (the
    probe path's candidate side), so the corpus × centroid scoring runs
    once per session, not once per consumer branch. At 100 TB this is
    *written partitioned by cell* so probes read only nprobe cells'
    partitions."""
    from ..cache import get_or_build

    def build() -> DataFrame:
        emb = _quantized(load_table(spark, sf_dir, "embeddings"))
        return _nearest_cells(emb, centroids_for(spark, sf_dir), 1).select(
            "vec_id",
            "label",
            "cell",
            "cell_sim_micro",
            "e",
            _norm(F.col("e")).alias("vnorm"),
        )

    return get_or_build("ivf_index", spark, sf_dir, build)


def _nearest_cells(vecs: DataFrame, cents: DataFrame, n: int) -> DataFrame:
    """Each vector's ``n`` nearest IVF cells: cosine over the broadcast
    centroid table, ties -> smallest cell id. ``vecs`` (vec_id, e, ...)
    keeps its columns and gains (cell, cell_sim_micro). The one centroid
    rule: n = 1 is the cell assignment (the batch index build and the
    streaming ingest twin), n = nprobe the query probe list, so cell
    membership and probing cannot drift apart."""
    e, cs = F.col("e"), F.col("cs")
    scored = vecs.crossJoin(F.broadcast(cents)).withColumn(
        "cell_sim_micro", _sim_micro(_dot(e, cs), _norm(e) * _norm(cs))
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cell_sim_micro").desc(), F.col("cell").asc()
    )
    return (
        scored.drop("cs")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n)
        .drop("rn")
    )


def ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell assignment: each vector -> its nearest centroid by cosine
    (argmax over the broadcast centroid table; ties broken by cell id).
    Reads the session's materialized index (see :func:`ivf_index`)."""
    return (
        ivf_index(spark, sf_dir)
        .select("vec_id", "label", "cell", "cell_sim_micro")
        .orderBy("vec_id")
    )


def ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 5,
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """IVF-probed ANN: score only candidates whose cell is among the
    query's ``nprobe`` nearest centroids — cost ~ nprobe/cells of the
    corpus instead of all of it (recall < 1, like any IVF index).

    Candidates come from the session's materialized IVF index (rank-1
    cell per corpus vector, precomputed norms — :func:`ivf_index`); only
    the tiny query set re-scores cells for its nprobe probe list. Each
    candidate lives in exactly one cell, so a (query, candidate) pair
    occurs at most once — no dedup stage. The probe list (n_queries x
    nprobe rows) is broadcast; candidate vectors never shuffle."""
    idx = ivf_index(spark, sf_dir)
    cands = _side(
        idx.filter(F.col("vec_id") >= n_queries), "c", F.col("cell"), norm="vnorm"
    )
    # the probe list is :func:`_ivf_probes`, shared with the IVF-PQ
    # paths; the query vectors and norms join back from the session index
    # (it already holds e per vec_id — no second parquet scan)
    qvecs = _side(idx.filter(F.col("vec_id") < n_queries), "q", norm="vnorm")
    probes = _ivf_probes(spark, sf_dir, n_queries, nprobe).join(
        F.broadcast(qvecs), "query_id"
    )
    return _top_k(_cosine(cands.join(F.broadcast(probes), "cell")), k)


def lang_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal join: embeddings ⋈ documents metadata — vector counts
    and integer-exact squared-norm mass per (language, cluster label).
    The shape every multimodal curation pipeline runs to audit how
    clusters split across document attributes.

    Scale shape: the metadata side is projected to 2 columns and the join
    is a broadcast (embeddings never shuffle for it); one
    partial-aggregated shuffle of |lang × label| rows."""
    emb = _quantized(load_table(spark, sf_dir, "embeddings"))
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        emb.join(F.broadcast(docs), emb["vec_id"] == docs["doc_id"])
        .groupBy("lang", "label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum(_dot(F.col("e"), F.col("e"))).alias("sum_norm2"),
        )
        .orderBy("lang", "label")
    )


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid accumulators over the quantized embeddings:
    (label, dim) -> (sum_q, n). Division deferred to the consumer so the
    result is exact integers (and so partial aggregation carries plain
    sums). This is the building block of an IVF-style ANN index: centroids
    = sum/n, assignment = argmin distance to centroids."""
    emb = _quantized(load_table(spark, sf_dir, "embeddings"))
    exploded = emb.select("label", F.posexplode("e").alias("pos", "v"))
    return (
        exploded.select("label", (F.col("pos") + 1).alias("dim"), "v")
        .groupBy("label", "dim")
        .agg(F.sum("v").alias("sum_q"), F.count("*").alias("n"))
        .orderBy("label", "dim")
    )


N_PLANES = 8


def _plane_component(plane: int, dim: int) -> int:
    """Deterministic pseudo-random hyperplane component in [-8, 7]:
    first hex nibble of md5('{plane}:{dim}') minus 8. Computed Python-side
    (planes are a tiny constant table, broadcast with the literal plan)."""
    import hashlib

    h = hashlib.md5(f"{plane}:{dim}".encode()).hexdigest()
    return int(h[0], 16) - 8


def lsh_signature(df: DataFrame, dims: int = 64) -> DataFrame:
    """Random-hyperplane signature: bit j = (plane_j · e) >= 0. The planes
    are constant-folded literals — no shuffle, no UDF."""
    sig = F.lit(0).cast("long")
    for j in range(N_PLANES):
        comps = F.array(*[F.lit(_plane_component(j, d)) for d in range(dims)])
        proj = F.aggregate(
            F.zip_with(F.col("e"), comps, lambda x, c: x * c),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        sig = sig + F.when(proj >= 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0))
    return df.withColumn("lsh_bucket", sig)


def lsh_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(session, sf_dir) persisted LSH signature index — quantized
    vectors with bucket and precomputed norm. Both sides of the bucket
    join read it, so the 8-plane signature expression runs once per
    corpus, not once per join branch; at 100 TB this table is *written
    partitioned by bucket* (SCALE.md) so a probe reads one partition
    group."""
    from ..cache import get_or_build

    return get_or_build(
        "lsh_index",
        spark,
        sf_dir,
        lambda: lsh_signature(
            _quantized(load_table(spark, sf_dir, "embeddings"))
        ).withColumn("vnorm", _norm(F.col("e"))),
    )


#: Multi-probe radius: a query probes every bucket within this Hamming
#: distance of its own signature. Radius 2 over 8 planes = 37 of 256
#: buckets (~14% of a uniform corpus) — the recall/cost dial; radius 0
#: is classic single-bucket LSH (cheapest, lowest recall).
LSH_PROBE_RADIUS = 2


def _probe_masks(radius: int) -> list[int]:
    from itertools import combinations

    return [
        sum(1 << b for b in bits)
        for r in range(radius + 1)
        for bits in combinations(range(N_PLANES), r)
    ]


def ann_lsh_topk(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 5,
    k: int = 10,
    radius: int = LSH_PROBE_RADIUS,
) -> DataFrame:
    """ANN via multi-probe hyperplane-LSH: score only candidates whose
    bucket is within Hamming distance ``radius`` of the query's signature
    (recall < 1, cost ~ probed-bucket mass instead of |corpus|).

    The probe set is generated by XOR-ing the query signature with the
    constant ≤radius-bit masks and *exploded on the tiny query side*, so
    the candidate join stays an equality join on the bucket — the shape
    that partition-prunes when the index is written bucket-partitioned at
    100 TB (single-probe LSH keeps the same plan with radius=0; its
    all-8-bits-agree requirement makes recall collapse, measured in
    tests/test_similarity_plans.py). Each candidate owns exactly one
    bucket and probe masks are distinct, so no pair dedup is needed.
    Same deterministic scoring as :func:`cosine_topk`; reads the
    session's materialized signature index (see :func:`lsh_index`)."""
    cands = lsh_index(spark, sf_dir).filter(F.col("vec_id") >= n_queries)
    return _lsh_topk(cands, _lsh_probes(spark, sf_dir, n_queries, radius), k)


def _lsh_probes(
    spark: SparkSession, sf_dir: str, n_queries: int, radius: int
) -> DataFrame:
    """The multi-probe set: (query_id, qe, qn, qb), one row per bucket
    within Hamming distance ``radius`` of each query's signature (the
    signature XOR each ≤radius-bit mask, exploded on the query side)."""
    qb = F.explode(
        F.array(
            *[
                F.col("lsh_bucket").bitwiseXOR(F.lit(m)).cast("long")
                for m in _probe_masks(radius)
            ]
        )
    ).alias("qb")
    queries = lsh_index(spark, sf_dir).filter(F.col("vec_id") < n_queries)
    return _side(queries, "q", qb, norm="vnorm")


def _lsh_topk(cands: DataFrame, probes: DataFrame, k: int) -> DataFrame:
    """Exact top-k over the candidates (vec_id, e, lsh_bucket, vnorm) whose
    bucket is in a query's broadcast probe set — an equality join on the
    bucket, whichever table the candidates are read from."""
    c = _side(cands, "c", F.col("lsh_bucket").alias("cb"), norm="vnorm")
    return _top_k(_cosine(c.join(F.broadcast(probes), F.col("qb") == F.col("cb"))), k)


def _int8_codes(df: DataFrame) -> DataFrame:
    """Symmetric per-vector int8 quantization of the milli-unit embedding.

    ``scale = max(1, ceil(max|e| / 127))``; each component becomes
    ``round(e / scale)`` in [-127, 127] — 4x smaller than the int32/int64
    milli representation (the point at 100 TB: an int8 corpus is the
    difference between scanning 25 TB and 100 TB per brute-force pass,
    and it's what SIMD int8 dot-product kernels want).

    All arithmetic is integer, computed half-away-from-zero on the
    absolute value — ``(2|x| + s) // (2s)`` — so Spark and DuckDB agree
    exactly (both compute a non-negative integer division; no negative
    floor/truncate divergence). Cosine between codes needs NO rescaling:
    the per-vector scale cancels in dot/(norm*norm)."""
    emb = _quantized(df)
    e = F.col("e")
    s = F.greatest(
        F.lit(1).cast("long"),
        F.floor((F.array_max(F.transform(e, F.abs)) + 126) / 127).cast("long"),
    )
    withs = emb.select("vec_id", "label", "e", s.alias("s"))
    q = F.transform(
        F.col("e"),
        lambda x: F.when(x < 0, -F.floor((-2 * x + F.col("s")) / (2 * F.col("s"))))
        .otherwise(F.floor((2 * x + F.col("s")) / (2 * F.col("s"))))
        .cast("long"),
    )
    return withs.select("vec_id", "label", q.alias("q8"))


def cosine_topk_int8(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 5,
    k: int = 10,
) -> DataFrame:
    """Top-k cosine neighbors over int8-quantized codes — the compressed
    brute-force path. Same join/window shape as :func:`cosine_topk`
    (broadcast queries, per-partition scoring, per-query top-k window);
    only the element width changes. Recall vs the exact path is asserted
    in tests/test_similarity_plans.py."""
    emb = _int8_codes(load_table(spark, sf_dir, "embeddings"))
    pairs = _brute_force(emb, n_queries, vec="q8")
    return _top_k(_cosine(pairs, "sim_micro_q"), k, "sim_micro_q")


#: fixed k-means geometry so the Spark run and the SQL oracle agree exactly.
KMEANS_K = 8
KMEANS_ITERS = 2
KMEANS_DIM = 64

#: SemDeDup's scale dial: the default cluster count grows with the corpus
#: so the blocked pair space Σ|cluster|² ≈ N·target stays LINEAR in N
#: (fixed k would be N²/k — quadratic; measured in SCALE_SLOPES.json).
#: 250 keeps the per-task |cluster|² matmul ≈ 62k sims — comfortably
#: inside one Arrow batch — and reproduces the historical k=8 geometry on
#: the ≤2k-vector test corpora, so the oracle stays bit-identical there.
SEMDEDUP_TARGET_CLUSTER = 250


def semdedup_default_k(spark: SparkSession, sf_dir: str) -> int:
    """k = max(KMEANS_K, ceil(N / SEMDEDUP_TARGET_CLUSTER)) — the
    corpus-size-derived cluster count the DuckDB oracle computes with the
    same formula (scalar subquery over qvec), so both engines pick the
    identical geometry at any SF. The count() is parquet-footer metadata,
    not a scan."""
    n = load_table(spark, sf_dir, "embeddings").count()
    return max(KMEANS_K, -(-n // SEMDEDUP_TARGET_CLUSTER))


def _kmeans_assign(emb: DataFrame, cents: list[tuple[int, list[int]]]) -> DataFrame:
    """Nearest-centroid assignment as an Arrow-batched numpy kernel.

    Distance is squared L2 in milli-units — pure int64 arithmetic
    (``|a|² - 2aCᵀ + |C|²`` as one matmul per batch), so both engines
    agree bit-for-bit; ``cents`` must be sorted by centroid id so
    ``argmin``'s first-occurrence rule breaks ties to the smallest id
    (matching the oracle's ``ORDER BY d, cid``). The centroid block rides
    into each task via the closure (k×dim ints) — no join, no shuffle of
    the corpus, and the matmul replaces a per-row 64-element expression
    tree whose codegen dominated wall time."""
    import numpy as np
    import pandas as pd

    cids = np.array([c for c, _ in cents], dtype=np.int64)
    cmat = np.array([v for _, v in cents], dtype=np.int64)
    csq = (cmat * cmat).sum(axis=1)

    def assign(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            a = np.array(list(pdf["e"]), dtype=np.int64)
            d = (a * a).sum(axis=1)[:, None] - 2 * (a @ cmat.T) + csq[None, :]
            j = d.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(np.int64),
                    "e": pdf["e"],
                    "cluster": cids[j],
                    "d": d[np.arange(len(j)), j],
                }
            )

    return emb.mapInPandas(assign, "vec_id long, e array<long>, cluster long, d long")


def _kmeans_centroids(
    spark: SparkSession,
    sf_dir: str,
    k: int = KMEANS_K,
    sample_permille: int = 1000,
) -> list[tuple[int, list[int]]]:
    """Run the fixed Lloyd's iterations and return the final centroid set.

    Each iteration is one distributed assignment pass followed by a
    |k|-row aggregate the driver collects to build the next iteration's
    literals — the standard Lloyd's round-trip (k x dim ints over the
    wire, same as MLlib). Per-dim means are 64 column aggregates (no
    explode); clusters that empty out drop from the centroid set.

    ``sample_permille < 1000`` trains on a deterministic xxhash64
    per-mille sample of the corpus — the FAISS convention (a coarse
    quantizer's geometry converges on a bounded sample; training on all
    of a 10⁹-vector corpus buys nothing but N·k work). The full-corpus
    default keeps the oracle-pinned paths bit-identical; sampling
    changes init to the sample's k smallest vec_ids (the default's
    ``vec_id < k`` rows need not survive the sample)."""
    emb = _quantized(load_table(spark, sf_dir, "embeddings")).select("vec_id", "e")
    if sample_permille < 1000:
        emb = emb.filter(
            F.pmod(F.xxhash64(F.col("vec_id"), F.lit(41)), F.lit(1000))
            < sample_permille
        )
        init = emb.orderBy("vec_id").limit(k).collect()
    else:
        init = emb.filter(F.col("vec_id") < k).orderBy("vec_id").collect()
    cents = [(int(r.vec_id), list(r.e)) for r in init]
    for _ in range(KMEANS_ITERS - 1):
        assigned = _kmeans_assign(emb, cents)
        # Per-dim means as (cluster, pos) rows — a 2-key agg over the
        # exploded components compiles in milliseconds, where 64 separate
        # sum expressions paid ~2 s of whole-stage-codegen; rounding stays
        # Spark-side so the oracle's ROUND semantics are matched verbatim.
        rows = (
            assigned.select("cluster", F.posexplode("e").alias("pos", "v"))
            .groupBy("cluster", "pos")
            .agg(F.round(F.sum("v") / F.count("*"), 0).cast("long").alias("comp"))
            .collect()
        )
        by_cluster: dict[int, dict[int, int]] = {}
        for r in rows:
            by_cluster.setdefault(int(r["cluster"]), {})[int(r["pos"])] = int(
                r["comp"]
            )
        cents = sorted(
            (cid, [comps[p] for p in range(KMEANS_DIM)])
            for cid, comps in by_cluster.items()
        )
    return cents


def kmeans_index(spark: SparkSession, sf_dir: str, k: int = KMEANS_K) -> DataFrame:
    """The materialized k-means assignment (vec_id, e, cluster, d) after
    the fixed Lloyd's iterations — a session index shared by the profile
    query and SemDeDup blocking (at 100 TB: written partitioned by
    cluster, like the IVF assignment).

    ``k`` is THE SemDeDup scale dial: the blocked pair space is
    Σ|cluster|² ≈ N²/k, so a production deployment grows k with the
    corpus to hold cluster size (and per-task matmul memory) constant —
    k ∝ N keeps semdedup linear. The default stays the oracle-pinned
    KMEANS_K; non-default k gets its own session-cache slot. Measured in
    SCALE_SLOPES.json: fixed k=8 slope ~2 at 10× corpus, k ∝ N slope ~1."""
    from ..cache import get_or_build

    name = "kmeans_assign" if k == KMEANS_K else f"kmeans_assign_k{k}"
    return get_or_build(
        name,
        spark,
        sf_dir,
        lambda: _kmeans_assign(
            _quantized(load_table(spark, sf_dir, "embeddings")).select("vec_id", "e"),
            _kmeans_centroids(spark, sf_dir, k=k),
        ),
    )


def kmeans_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration Lloyd's k-means over the embedding corpus, reported
    as the per-cluster size + inertia profile — the clustering step a
    curation pipeline runs for topic balancing / SemDeDup-style pruning.

    Iterative-algorithm-on-Spark shape: each assignment pass ships the
    centroid block into the scan via the kernel closure (no join, no
    shuffle of the corpus); see :func:`_kmeans_centroids` for the driver
    round-trip. All
    arithmetic is integer (milli-quantized components, squared-L2
    distances, round-half-up centroid means), so the DuckDB oracle — the
    same two iterations unrolled as CTEs — matches exactly. Init is the
    first k vectors, deterministic anywhere."""
    return (
        kmeans_index(spark, sf_dir)
        .groupBy("cluster")
        .agg(F.count("*").alias("n_vecs"), F.sum("d").alias("inertia"))
        .orderBy("cluster")
    )


def semdedup_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold_micro: int = 400_000,
    k: int | None = None,
) -> DataFrame:
    """SemDeDup-style cluster-blocked near-duplicate pairs: score only
    pairs that share a k-means cluster (Abbas et al. 2023's blocking), so
    the pair space is sum(|cluster|²) instead of |corpus|² — THE scale
    path for embedding dedup at 100 TB, where all-pairs is impossible.

    ``k`` defaults to :func:`semdedup_default_k` (k ∝ N, target cluster
    size :data:`SEMDEDUP_TARGET_CLUSTER`) — NOT a fixed constant, because
    fixed k makes Σ|cluster|² quadratic as the corpus grows past the
    cluster capacity (SCALE_SLOPES.json: fixed k=8 slope ~2 at 10×,
    default slope ~linear). Pass an explicit k only to pin a geometry.

    Reads the session's materialized k-means assignment and scores each
    cluster independently inside ``applyInPandas`` — one |cluster|²
    int64 matmul per group (the same kernel as the blocked brute force),
    shuffled once on the cluster id (partition-pruned when the index is
    written partitioned by cluster). The kernel reproduces the quantized
    cosine bit-exactly, so within-cluster pairs match
    `embedding_near_dup_pairs` — recall loss is only cross-cluster
    pairs, measured in `test_similarity_plans.py`."""
    if k is None:
        k = semdedup_default_k(spark, sf_dir)
    idx = kmeans_index(spark, sf_dir, k=k).select("vec_id", "cluster", "e")
    return _cluster_blocked_pairs(idx, threshold_micro)


def _cluster_blocked_pairs(idx: DataFrame, threshold_micro: int) -> DataFrame:
    """Score all within-cluster pairs of a (vec_id, cluster, e) assignment
    frame: one |cluster|² block-pair score (:func:`_block_pairs`, the
    blocked brute force's kernel) per group, shuffled once on the cluster
    id. The kernel reproduces the quantized cosine bit-exactly, so every
    consumer — the flat k-means index and the two-level one — emits
    pairs comparable to `embedding_near_dup_pairs`."""
    import numpy as np
    import pandas as pd

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy(np.int64)
        m = np.array(list(pdf["e"]), dtype=np.int64)
        pairs = _block_pairs(ids, m, ids, m, threshold_micro, same_block=True)
        return pairs.assign(cluster=np.int64(pdf["cluster"].iloc[0]))

    return (
        idx.groupBy("cluster")
        .applyInPandas(score, "vec_a long, vec_b long, cluster long, sim_micro long")
        .orderBy("vec_a", "vec_b")
    )


def _local_lloyd(m, k: int, iters: int):
    """Deterministic integer Lloyd's over one in-memory cell — the fine
    half of the two-level quantizer, factored out so the property test
    can drive it directly against an exact-rational reference
    (tests/test_similarity_plans.py).

    ``m``: int64 [n × dim] rows sorted by ascending vec_id. Init = the
    first min(k, n) rows; refinement rounds use argmin squared-L2 with
    ties to the first (lowest) index and round-half-away-from-zero means
    in EXACT integer arithmetic (``sign(s)·((|s|·2 + cnt) // (2·cnt))``
    — the flat path's F.round(sum/count) semantics without the float
    division); emptied clusters drop and the label space compacts, same
    as the flat trainer. Returns (labels, squared-distances). The
    property test lives in tests/test_properties.py."""
    import numpy as np

    kc = min(k, len(m))
    cents = m[:kc]
    for _ in range(iters - 1):
        d = (
            (m * m).sum(axis=1)[:, None]
            - 2 * (m @ cents.T)
            + (cents * cents).sum(axis=1)[None, :]
        )
        j = d.argmin(axis=1)
        new = []
        for c in np.unique(j):
            rows = m[j == c]
            s = rows.sum(axis=0, dtype=np.int64)
            cnt = np.int64(len(rows))
            new.append(np.sign(s) * ((np.abs(s) * 2 + cnt) // (2 * cnt)))
        cents = np.array(new, dtype=np.int64)
    d = (
        (m * m).sum(axis=1)[:, None]
        - 2 * (m @ cents.T)
        + (cents * cents).sum(axis=1)[None, :]
    )
    j = d.argmin(axis=1)
    return j, d[np.arange(len(j)), j]


def kmeans_index_2level(
    spark: SparkSession, sf_dir: str, k: int | None = None
) -> DataFrame:
    """Two-level (coarse → fine) k-means assignment — the quantizer shape
    that survives k ∝ N.

    The flat index costs N·k·d multiply-adds per assignment pass; with
    SemDeDup's scale dial (k = N / target_cluster) that is N²·d/target —
    fine at 20k vectors, 2.6·10¹⁷ multiplies at 10⁹ (impossible on any
    cluster). The production shape (FAISS IVF at large nlist, SCaNN,
    SemDeDup at corpus scale) is hierarchical: k1 ≈ √k coarse centroids
    trained on a bounded sample partition the corpus (N·√k·d), then each
    coarse cell is clustered into k2 ≈ √k fine sub-clusters LOCALLY
    (Σ|cell|·k2·d = N·√k·d) — total 2·N·√k·d. At k = 4M that is ~2.5·10¹⁴:
    a morning on 1000 executors instead of never. Cells recurse to three
    levels when N/k1 outgrows one task's memory (not needed below ~10⁸).

    Fine clustering runs inside ``applyInPandas`` per coarse cell with
    the SAME deterministic integer Lloyd's as the flat path (init = the
    cell's k2 smallest vec_ids, argmin ties to the first index,
    round-half-away-from-zero means in exact integer arithmetic), so the
    result is reproducible anywhere — but it is a different geometry
    from the flat index by construction, so correctness is pinned the
    rows-only way (ann_pq_topk precedent): determinism, validity, an
    inertia bound vs the flat index, and a SemDeDup recall floor vs the
    exact pair oracle (tests/test_similarity_plans.py).

    Output contract matches :func:`kmeans_index`: (vec_id, e, cluster,
    d) with d the squared-L2 milli-distance to the owning fine centroid;
    cluster ids are coarse·k2 + local fine index (blocking labels, not
    dense)."""
    import numpy as np
    import pandas as pd

    from ..cache import get_or_build

    if k is None:
        k = semdedup_default_k(spark, sf_dir)
    k1 = max(1, int(-(-(k**0.5) // 1)))  # ceil(sqrt(k))
    k2 = max(1, -(-k // k1))

    def build() -> DataFrame:
        emb = _quantized(load_table(spark, sf_dir, "embeddings")).select("vec_id", "e")
        n = emb.count()
        # coarse training sample: ~256 vectors per coarse centroid (the
        # FAISS heuristic); never below the whole corpus when it's tiny
        permille = min(1000, -(-256 * k1 * 1000 // max(n, 1)))
        # densify coarse ids to 0..k1-1: _kmeans_centroids keys centroids
        # by their init rows' vec_ids, which under sampling are arbitrary
        # survivors of the hash filter — raw ids would push the composed
        # label coarse*k2+j outside the documented [0, k1*k2) space (and
        # break any consumer decoding coarse = cluster // k2)
        cents1 = [
            (i, v)
            for i, (_, v) in enumerate(
                _kmeans_centroids(spark, sf_dir, k=k1, sample_permille=permille)
            )
        ]
        coarse = _kmeans_assign(emb, cents1).select(
            "vec_id", "e", F.col("cluster").alias("coarse")
        )

        def fine(pdf: pd.DataFrame) -> pd.DataFrame:
            order = np.argsort(pdf["vec_id"].to_numpy(np.int64))
            ids = pdf["vec_id"].to_numpy(np.int64)[order]
            m = np.array(list(pdf["e"]), dtype=np.int64)[order]
            j, d = _local_lloyd(m, k2, KMEANS_ITERS)
            return pd.DataFrame(
                {
                    "vec_id": ids,
                    "e": list(m),
                    "cluster": int(pdf["coarse"].iloc[0]) * k2 + j,
                    "d": d,
                }
            )

        return coarse.groupBy("coarse").applyInPandas(
            fine, "vec_id long, e array<long>, cluster long, d long"
        )

    return get_or_build(f"kmeans2_assign_k{k}", spark, sf_dir, build)


def semdedup_survivors(
    spark: SparkSession,
    sf_dir: str,
    threshold_micro: int = 400_000,
    k: int | None = None,
) -> DataFrame:
    """The artifact SemDeDup actually ships: the deduplicated embedding
    corpus. Pairs are not a dedup decision — the keep/drop call needs
    the transitive closure (A~B, B~C ⇒ one survivor), so survivors are
    the min-vec_id member of each within-cluster near-dup component,
    annotated with how many near-duplicates the keeper absorbed — the
    same keeper convention as the doc family (`dedup.dedup_survivors`).

    Candidate pairs come from :func:`semdedup_pairs` (the cluster-
    blocked scale path); components run by star contraction
    (`dedup.star_components`, O(log² n) rounds on ANY graph shape —
    chosen over hash-min because near-dup similarity graphs DO grow
    long chains in practice: the slope harness's rotated-replica
    corpus at 10× needs at least 20 hash-min rounds — it tripped the
    conservative round-budget guard the first time this operator ran
    there, while star contraction finishes well inside its budget with
    identical output). The pair graph is
    localCheckpointed inside star_components, so the cluster-pair
    kernel runs once, not once per round. Singleton vectors survive
    with n_absorbed = 0."""
    from .dedup import star_components

    edges = semdedup_pairs(spark, sf_dir, threshold_micro, k=k).select(
        F.col("vec_a").alias("a"), F.col("vec_b").alias("b")
    )
    labels = star_components(edges).select(
        F.col("node").alias("vec_id"), "component_id"
    )
    all_vecs = load_table(spark, sf_dir, "embeddings").select("vec_id")
    singletons = all_vecs.join(labels.select("vec_id"), "vec_id", "left_anti").select(
        "vec_id", F.col("vec_id").alias("component_id")
    )
    comp = labels.unionByName(singletons)
    sizes = comp.groupBy("component_id").agg(F.count("*").alias("n"))
    return (
        comp.filter(F.col("vec_id") == F.col("component_id"))
        .join(sizes, "component_id")
        .select("vec_id", (F.col("n") - 1).cast("long").alias("n_absorbed"))
        .orderBy("vec_id")
    )


def semdedup_pairs_2level(
    spark: SparkSession,
    sf_dir: str,
    threshold_micro: int = 400_000,
    k: int | None = None,
) -> DataFrame:
    """SemDeDup blocking over the two-level quantizer — identical pair
    scoring and output contract to :func:`semdedup_pairs` (the shared
    :func:`_cluster_blocked_pairs` kernel), different blocking geometry:
    the fine sub-clusters bound the pair space the same way (Σ|cluster|²
    ≈ N·target) while the ASSIGNMENT cost drops from N·k to 2·N·√k —
    the variant a 10⁹-vector corpus must use. Recall vs the exact pair
    oracle is floored in tests/test_similarity_plans.py; no SQL oracle
    (per-cell iterative training has no tractable cross-engine SQL twin,
    same rows-only contract as ann_pq_topk)."""
    if k is None:
        k = semdedup_default_k(spark, sf_dir)
    idx = kmeans_index_2level(spark, sf_dir, k=k).select("vec_id", "cluster", "e")
    return _cluster_blocked_pairs(idx, threshold_micro)


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011): the 100 TB ANN compression path.
# 64 dims -> PQ_M sub-vectors, each encoded as the id of its nearest
# sub-codebook centroid: 4 bytes/vector vs 64 for int8 codes — the
# difference between a corpus that fits executor memory and one that
# doesn't. Scoring is ADC (asymmetric distance computation): the query
# precomputes its dot product against every sub-centroid once (an M x K
# table), then each candidate costs M table lookups instead of a
# 64-element dot product.
# ---------------------------------------------------------------------------

PQ_M = 4  # sub-vector count (64 dims -> 4 x 16)
PQ_K = 16  # centroids per sub-codebook (4-bit codes)
PQ_ITERS = 2  # fixed Lloyd's iterations per subspace (deterministic)


def _pq_assign(emb: DataFrame, books) -> DataFrame:
    """Encode each vector: per subspace, the argmin-squared-L2 centroid id
    (ties -> smallest id, matching np.argmin). One numpy matmul per
    (batch, subspace); codebooks ride in the closure (M*K*subdim ints)."""
    import numpy as np
    import pandas as pd

    mats = [np.array(b, dtype=np.int64) for b in books]  # [K x subdim] x M
    csq = [(m * m).sum(axis=1) for m in mats]
    sub = 64 // PQ_M

    def encode(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            a = np.array(list(pdf["e"]), dtype=np.int64)
            codes = np.empty((len(a), PQ_M), dtype=np.int64)
            for m in range(PQ_M):
                am = a[:, m * sub : (m + 1) * sub]
                d = (am * am).sum(axis=1)[:, None] - 2 * (am @ mats[m].T) + csq[m][None, :]
                codes[:, m] = d.argmin(axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(np.int64), "codes": list(codes)}
            )

    return emb.mapInPandas(encode, "vec_id long, codes array<long>")


def _pq_codebooks(spark: SparkSession, sf_dir: str):
    """Train the M sub-codebooks with fixed Lloyd's iterations, memoized
    per (session, corpus) — the code index build and every probe share
    one training run. Only centroid-scale data crosses the driver: init
    is the first PQ_K vectors' sub-vectors, each refinement collects
    M*K*subdim rounded means (1k ints) — the corpus never leaves the
    executors."""
    from ..cache import get_or_build

    return get_or_build(
        "pq_codebooks", spark, sf_dir, lambda: _pq_train(spark, sf_dir)
    )


def _pq_train(spark: SparkSession, sf_dir: str):
    emb = _quantized(load_table(spark, sf_dir, "embeddings")).select("vec_id", "e")
    sub = 64 // PQ_M
    init = emb.filter(F.col("vec_id") < PQ_K).orderBy("vec_id").collect()
    books = [
        [list(r.e[m * sub : (m + 1) * sub]) for r in init] for m in range(PQ_M)
    ]
    for _ in range(PQ_ITERS - 1):
        coded = _pq_assign(emb, books).join(emb, "vec_id")
        # slice each subspace's components BEFORE the second explode:
        # exploding the full 64-dim vector against every (m, cluster) row
        # and filtering 3/4 of it away materializes PQ_M x 64 rows per
        # vector per iteration; the slice keeps it at exactly 64
        comp = (
            coded.select(
                "e",
                F.posexplode("codes").alias("m", "cluster"),
            )
            .select(
                "m",
                "cluster",
                F.posexplode(
                    F.expr(f"slice(e, m * {sub} + 1, {sub})")
                ).alias("spos", "v"),
            )
            .groupBy("m", "cluster", "spos")
            .agg(F.round(F.avg("v"), 0).cast("long").alias("c"))
            .collect()
        )
        new_books = [
            [list(books[m][k]) for k in range(PQ_K)] for m in range(PQ_M)
        ]
        for r in comp:
            new_books[int(r["m"])][int(r["cluster"])][int(r["spos"])] = int(r["c"])
        books = new_books
    return books


def pq_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized PQ code table (vec_id, codes: array<long>[M]) —
    4 bytes of payload per vector at 100 TB (written alongside, or
    instead of, the raw embeddings; brute scans read ONLY this)."""
    from ..cache import get_or_build

    def build() -> DataFrame:
        emb = _quantized(load_table(spark, sf_dir, "embeddings")).select("vec_id", "e")
        return _pq_assign(emb, _pq_codebooks(spark, sf_dir))

    return get_or_build("pq_index", spark, sf_dir, build)


def _pq_query_tables(spark: SparkSession, sf_dir: str, n_queries: int):
    """Per-query ADC lookup tables, shared by every PQ scan (flat ADC and
    IVF-PQ): (per-sub-centroid squared norms, {query_id: (M x K dot
    table, query norm)}). Only the n_queries query vectors are collected
    — control-plane traffic."""
    import numpy as np

    books = _pq_codebooks(spark, sf_dir)
    mats = [np.array(b, dtype=np.int64) for b in books]
    cent_sq = np.stack([(m * m).sum(axis=1) for m in mats])  # M x K
    sub = 64 // PQ_M
    qrows = (
        _quantized(load_table(spark, sf_dir, "embeddings"))
        .filter(F.col("vec_id") < n_queries)
        .orderBy("vec_id")
        .collect()
    )
    qtabs = {}
    for r in qrows:
        q = np.array(r.e, dtype=np.int64)
        dots = np.stack(
            [q[m * sub : (m + 1) * sub] @ mats[m].T for m in range(PQ_M)]
        )  # M x K
        # guard a zero-norm query like the candidate side: without it the
        # division yields inf/nan whose int64 cast is implementation-
        # defined garbage ranks instead of a harmless ~0 score
        qtabs[int(r.vec_id)] = (dots, max(float(np.sqrt((q * q).sum())), 1e-12))
    return cent_sq, qtabs


def ann_pq_topk(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 5,
    k: int = 10,
    rerank: int = 100,
) -> DataFrame:
    """ANN over PQ codes with ADC scoring + exact re-rank: the PQ scan
    (est_cos from the query's precomputed per-sub-centroid dot/norm
    tables — M lookups per candidate, reading only the 4-byte code
    column) shortlists ``rerank`` candidates per query; the shortlist
    then re-scores against the TRUE vectors (a |queries|*rerank-row
    broadcast semi-join into the embedding scan) and the final top-k is
    exact over that shortlist. This is the production PQ shape: the
    full-corpus pass touches 4 bytes/vector, the expensive exact math
    touches only the shortlist. ``rerank=0`` disables the second stage
    (raw ADC ranking: recall ~0.33 here; rerank=100 measures 0.88-0.92 —
    both floored in tests/test_similarity_plans.py).

    No SQL oracle: the two-level k-means training has no tractable
    cross-engine SQL twin — correctness is pinned by the recall floors
    plus determinism (fixed init, integer codebooks, argmin tie rule)."""
    import numpy as np
    import pandas as pd

    cent_sq, qtabs = _pq_query_tables(spark, sf_dir, n_queries)
    qids = np.array(list(qtabs), dtype=np.int64)
    tabs = list(qtabs.values())

    def score(batches):
        # every candidate against every query: one (queries x batch) matrix
        for pdf in batches:
            if pdf.empty or not qtabs:
                continue
            ids = pdf["vec_id"].to_numpy(np.int64)
            sims = _adc_sims(np.array(list(pdf["codes"]), dtype=np.int64), cent_sq, tabs)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids, len(ids)),
                    "neighbor_id": np.tile(ids, len(qids)),
                    "sim_micro_pq": sims.ravel(),
                }
            )

    cands = pq_index(spark, sf_dir).filter(F.col("vec_id") >= n_queries)
    scored = cands.mapInPandas(
        score, "query_id long, neighbor_id long, sim_micro_pq long"
    )
    return _exact_rerank(spark, sf_dir, scored, n_queries, k, rerank)


def _adc_sims(codes, cent_sq, tabs):
    """The ADC arithmetic: the HALF_UP micro-unit cosine estimate of each
    PQ code row (n x M) against each query's (M x K dot table, norm) in
    ``tabs`` — a len(tabs) x n int64 matrix. A code's norm is the norm
    of its reconstruction, from the per-sub-centroid squared norms."""
    import numpy as np

    m = np.arange(PQ_M)
    cnorm = np.sqrt(cent_sq[m, codes].sum(axis=1).astype(np.float64))
    est = np.stack([dots[m, codes].sum(axis=1) for dots, _ in tabs]).astype(np.float64)
    qn = np.array([qn for _, qn in tabs])[:, None]
    return _half_up(1_000_000 * est / (qn * np.maximum(cnorm, 1e-12)))


def _exact_rerank(
    spark: SparkSession,
    sf_dir: str,
    scored: DataFrame,
    n_queries: int,
    k: int,
    rerank: int,
) -> DataFrame:
    """The refine stage shared by every two-stage ANN path (PQ-ADC and
    IVF-PQ): ``scored`` holds (query_id, neighbor_id, sim_micro_pq)
    estimates. ``rerank=0`` returns their top-k. Otherwise the top
    ``rerank`` per query is re-scored against the TRUE vectors and the
    exact top-k is taken over that shortlist: |queries|*rerank rows
    (broadcast), so only shortlisted candidate vectors are touched by the
    exact math."""
    if not rerank:
        return _top_k(scored, k, "sim_micro_pq")
    shortlist = _top_k(scored, rerank, "sim_micro_pq").select("query_id", "neighbor_id")
    emb = _quantized(load_table(spark, sf_dir, "embeddings"))
    queries = _side(emb.filter(F.col("vec_id") < n_queries), "q")
    exact = (
        _side(emb, "c")
        .join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(queries), "query_id")
    )
    return _top_k(_cosine(exact), k)


def ivf_pq_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The combined IVF-PQ index: (cell, vec_id, codes) — the at-rest
    layout of a FAISS-style IVFPQ list table. At 100 TB this is ONE table
    written partitioned by cell with the 4-byte PQ code as the only
    payload, so a probe reads nprobe cells' partitions of codes and
    nothing else. Here it joins the two session indexes once per session
    and persists; probes never repeat the join."""
    from ..cache import get_or_build

    def build() -> DataFrame:
        cells = ivf_index(spark, sf_dir).select("vec_id", "cell")
        return pq_index(spark, sf_dir).join(cells, "vec_id")

    return get_or_build("ivf_pq_index", spark, sf_dir, build)


def ann_ivf_pq_topk(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 5,
    k: int = 10,
    nprobe: int = 4,
    rerank: int = 100,
) -> DataFrame:
    """IVF-PQ ANN — the composed billion-vector production shape (the
    FAISS IVFPQ recipe, Jégou et al. 2011): the query's ``nprobe``
    nearest IVF cells bound WHICH candidates are touched, ADC over the
    4-byte PQ codes ranks them without reading any vector, and the exact
    re-rank re-scores only the ``rerank``-deep shortlist against true
    vectors. Per-query cost ~ (nprobe/cells)·N code lookups +
    ``rerank`` exact dot products — both knobs independent of corpus
    size, which is what makes the shape hold at 10^9 vectors.

    Dataflow: the probe list (n_queries x nprobe cells) broadcasts into
    the code-table scan, ADC scoring is an Arrow-batched map over the
    matching cells' codes, and the shortlist re-rank is the shared
    broadcast-semi-join second stage (:func:`_exact_rerank`). Neither
    codes nor vectors ever shuffle at query time.

    No SQL oracle (k-means + PQ training, the ann_pq_topk precedent) —
    correctness is pinned by determinism and the recall floor vs the
    exact ranking (tests/test_similarity_plans.py); recall is capped by
    the IVF probe stage (~the ivf_topk floor), not the PQ codes, since
    the re-rank is exact over the probed cells."""
    probes = _ivf_probes(spark, sf_dir, n_queries, nprobe)
    pairs = (
        ivf_pq_index(spark, sf_dir)
        .filter(F.col("vec_id") >= n_queries)
        .join(F.broadcast(probes), "cell")
        .select("query_id", "vec_id", "codes")
    )
    return _ivf_pq_score_and_rerank(spark, sf_dir, pairs, n_queries, k, rerank)


def _ivf_probes(
    spark: SparkSession, sf_dir: str, n_queries: int, nprobe: int
) -> DataFrame:
    """The probe list of every IVF path: each query's ``nprobe`` nearest
    cells (:func:`_nearest_cells`). n_queries x nprobe rows — control
    plane, always broadcastable."""
    queries = ivf_index(spark, sf_dir).filter(F.col("vec_id") < n_queries)
    return _nearest_cells(
        queries.select("vec_id", "e"), centroids_for(spark, sf_dir), nprobe
    ).select(F.col("vec_id").alias("query_id"), "cell")


def _ivf_pq_score_and_rerank(
    spark: SparkSession,
    sf_dir: str,
    pairs: DataFrame,
    n_queries: int,
    k: int,
    rerank: int,
) -> DataFrame:
    """ADC-score (query_id, vec_id, codes) candidate pairs against the
    queries' precomputed per-sub-centroid dot tables, shortlist
    ``rerank`` deep per query, and finish with the shared exact re-rank
    (``rerank=0`` disables the second stage and returns the raw ADC
    ranking, the ann_pq_topk contract). The probe stage (session index
    or partitioned layout) is the caller's; this is everything after the
    candidate set is bounded."""
    import numpy as np
    import pandas as pd

    cent_sq, qtabs = _pq_query_tables(spark, sf_dir, n_queries)

    def score(batches):
        # pairs, not a cross product: each query scores only its own probes
        for pdf in batches:
            if pdf.empty or not qtabs:
                continue
            out = []
            for qid, g in pdf.groupby("query_id"):
                codes = np.array(list(g["codes"]), dtype=np.int64)  # n x M
                sims = _adc_sims(codes, cent_sq, [qtabs[int(qid)]])[0]
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": np.full(len(g), int(qid), dtype=np.int64),
                            "neighbor_id": g["vec_id"].to_numpy(np.int64),
                            "sim_micro_pq": sims,
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    scored = pairs.mapInPandas(
        score, "query_id long, neighbor_id long, sim_micro_pq long"
    )
    return _exact_rerank(spark, sf_dir, scored, n_queries, k, rerank)


def write_lsh_partitioned(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Materialize the LSH signature index AT REST, partitioned by bucket
    — the 100 TB layout SCALE.md promises: a probe then reads only its
    probe-set's partitions (partition pruning on ``lsh_bucket``), never
    the corpus. The write is one shuffle-free pass over the session
    index."""
    lsh_index(spark, sf_dir).write.mode("overwrite").partitionBy(
        "lsh_bucket"
    ).parquet(path)


def ann_lsh_topk_over_layout(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    n_queries: int = 5,
    k: int = 10,
    radius: int = LSH_PROBE_RADIUS,
) -> DataFrame:
    """:func:`ann_lsh_topk` served FROM the bucket-partitioned layout:
    query signatures come from the session index (tiny), their multi-probe
    bucket set is collected (n_queries x |masks| ints — control plane,
    the same probe-list pattern as IVF), and the candidate scan filters
    ``lsh_bucket IN (probes)`` — a literal predicate the reader turns
    into PartitionFilters, so only the probed partitions' files are read
    (asserted in tests/test_similarity_plans.py). Scoring is identical to
    the session-index path."""
    probes = _lsh_probes(spark, sf_dir, n_queries, radius)
    # the set already dedups the tiny n_queries x |masks| collect — no
    # .distinct() shuffle stage needed on top
    probe_buckets = sorted({r["qb"] for r in probes.select("qb").collect()})
    cands = (
        spark.read.parquet(path)
        .filter(F.col("lsh_bucket").isin(probe_buckets))
        .filter(F.col("vec_id") >= n_queries)
    )
    return _lsh_topk(cands, probes, k)


def write_ivf_pq_partitioned(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Materialize the IVF-PQ index AT REST, partitioned by cell — the
    100 TB serving layout: each IVF list is a partition holding only
    (vec_id, codes), 4 bytes of payload per vector, so a probe reads
    nprobe partitions of codes and never the corpus. One shuffle-free
    pass over the session index."""
    ivf_pq_index(spark, sf_dir).select("vec_id", "codes", "cell").write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(path)


def ann_ivf_pq_topk_over_layout(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    n_queries: int = 5,
    k: int = 10,
    nprobe: int = 4,
    rerank: int = 100,
) -> DataFrame:
    """:func:`ann_ivf_pq_topk` served FROM the cell-partitioned layout:
    the probe list's cell set is collected (n_queries x nprobe ints —
    control plane, the LSH-over-layout precedent) and the candidate scan
    filters ``cell IN (probes)`` — a literal predicate the reader turns
    into PartitionFilters, so only the probed cells' files are read
    (asserted in tests/test_similarity_plans.py). Scoring and re-rank
    are identical to the session-index path."""
    probes = _ivf_probes(spark, sf_dir, n_queries, nprobe)
    probe_cells = sorted({int(r["cell"]) for r in probes.select("cell").collect()})
    cands = (
        spark.read.parquet(path)
        .filter(F.col("cell").isin(probe_cells))
        .filter(F.col("vec_id") >= n_queries)
    )
    pairs = cands.join(F.broadcast(probes), "cell").select(
        "query_id", "vec_id", "codes"
    )
    return _ivf_pq_score_and_rerank(spark, sf_dir, pairs, n_queries, k, rerank)


def embedding_split_contamination(
    spark: SparkSession,
    sf_dir: str,
    threshold_micro: int = 400_000,
    val_permille: int = 100,
) -> DataFrame:
    """SEMANTIC train/val decontamination — the embedding-space twin of
    the n-gram ``doc_split_contamination``: a val example whose embedding
    sits within ``threshold_micro`` cosine of ANY train example is
    contaminated even when no shingle matches (paraphrased benchmark
    questions, translated answers — the leakage n-gram audits cannot
    see; the audit every post-Phi data card reports).

    Split assignment is the engine's standard retry-stable md5-bucket
    rule (``sampling._bucket`` on ``vec_id``, same salt convention as
    ``doc_train_split``), so the split needs no stored table and the
    audit is a pure function of the corpus.

    Scale shape: rides the SemDeDup cluster blocking — the pairs come
    from :func:`semdedup_pairs` (session k-means index, k ∝ N, one
    |cluster|² integer-matmul per cluster), then one orientation pass
    selects val↔train pairs and a partial-aggregated groupBy rolls them
    up per val vector. Recall is bounded by the blocking exactly as
    SemDeDup's is (cross-cluster near-misses, measured in
    ``test_similarity_plans.py``); composing with
    ``embedding_near_dup_pairs`` instead gives the exact-but-quadratic
    twin. Returns (vec_id, n_train_matches, max_sim_micro) per
    contaminated val vector."""
    from .sampling import _bucket

    pairs = semdedup_pairs(spark, sf_dir, threshold_micro=threshold_micro)
    splits = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", (_bucket(F.col("vec_id"), "v1") < val_permille).alias("is_val")
    )
    sa = splits.select(
        F.col("vec_id").alias("vec_a"), F.col("is_val").alias("val_a")
    )
    sb = splits.select(
        F.col("vec_id").alias("vec_b"), F.col("is_val").alias("val_b")
    )
    oriented = (
        pairs.join(sa, "vec_a")
        .join(sb, "vec_b")
        .filter(F.col("val_a") != F.col("val_b"))
        .select(
            F.when(F.col("val_a"), F.col("vec_a")).otherwise(F.col("vec_b")).alias("vec_id"),
            "sim_micro",
        )
    )
    return (
        oriented.groupBy("vec_id")
        .agg(
            F.count("*").cast("long").alias("n_train_matches"),
            F.max("sim_micro").cast("long").alias("max_sim_micro"),
        )
        .orderBy("vec_id")
    )
