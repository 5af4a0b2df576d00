"""Physical-plan assertions for the similarity/dedup family: the corpus
side must never shuffle through a join — small sides broadcast, vector
kernels run scan-side (SCALE.md rules 1/3)."""

from __future__ import annotations

from concordium_transaction_logger_spark.operators import dedup, similarity
from concordium_transaction_logger_spark.plans import layout


def test_near_dup_pairs_joins_are_broadcast(spark, sf_dir):
    df = similarity.near_dup_pairs(spark, sf_dir)
    assert layout.shuffles_no_join(df)
    assert "BroadcastNestedLoopJoin" in layout.explain_str(df, "simple")


def test_blocked_near_dup_is_triangle_cogroup(spark, sf_dir):
    """The blocked brute force is a distributed triangle block-nested
    loop: the only joins are broadcasts of the tiny (bi, bj) triangle
    table, the pair scoring runs in a cogrouped matmul kernel, and no
    table data passes through the driver (no collect in the operator)."""
    df = similarity.near_dup_pairs_blocked(spark, sf_dir)
    plan = layout.explain_str(df, "simple")
    assert "FlatMapCoGroupsInPandas" in plan
    assert "SortMergeJoin" not in plan, "block tagging must broadcast"
    assert "BroadcastNestedLoopJoin" not in plan, "pair join must be the kernel"


def test_blocked_near_dup_matches_unblocked_exactly(spark, sf_dir):
    a = [tuple(r) for r in similarity.near_dup_pairs(spark, sf_dir).collect()]
    b = [tuple(r) for r in similarity.near_dup_pairs_blocked(spark, sf_dir).collect()]
    assert a and a == b


def test_ivf_probe_broadcasts_centroids_and_probes(spark, sf_dir):
    assert layout.shuffles_no_join(similarity.ivf_assign(spark, sf_dir))
    assert layout.shuffles_no_join(similarity.ivf_topk(spark, sf_dir))


def test_cosine_and_lsh_topk_broadcast_queries(spark, sf_dir):
    assert layout.shuffles_no_join(similarity.cosine_topk(spark, sf_dir))
    assert layout.shuffles_no_join(similarity.ann_lsh_topk(spark, sf_dir))


def test_jaccard_size_join_is_broadcast(spark, sf_dir):
    """The shingle self-join must shuffle (keyed by shingle), but the
    doc-size enrichment joins must broadcast."""
    plan = layout.explain_str(dedup.ngram_jaccard_pairs(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in plan


def test_lsh_and_ivf_topk_recall_against_exact(spark, sf_dir):
    """Measured recall floors for the two sub-linear ANN paths vs the
    exact brute-force ranking. These are ANN operators — recall < 1 by
    design — but a floor pins the quality/cost point so a regression
    (e.g., dropping multi-probe back to single-bucket LSH, which measures
    ~0.0-0.02 recall@10 here) fails loudly."""
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(spark, sf_dir, 5, 10).collect()
    }
    assert exact
    lsh = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ann_lsh_topk(spark, sf_dir, 5, 10).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_topk(spark, sf_dir, 5, 10).collect()
    }
    lsh_recall = len(exact & lsh) / len(exact)
    ivf_recall = len(exact & ivf) / len(exact)
    assert lsh_recall >= 0.3, f"multi-probe LSH recall@10 too low: {lsh_recall:.2f}"
    assert ivf_recall >= 0.4, f"IVF nprobe=4 recall@10 too low: {ivf_recall:.2f}"


def test_int8_topk_recall_against_exact(spark, sf_dir):
    """The compressed path must stay a faithful ANN: overlap@10 with the
    exact milli-unit ranking >= 80% averaged over the query set (int8
    keeps ~2 decimal digits per component — plenty for cosine top-k)."""
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(spark, sf_dir, 5, 10).collect()
    }
    quant = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk_int8(spark, sf_dir, 5, 10).collect()
    }
    assert exact and len(exact) == len(quant)
    overlap = len(exact & quant) / len(exact)
    assert overlap >= 0.8, f"int8 recall too low: {overlap:.2f}"


def test_int8_codes_are_bounded(spark, sf_dir):
    """Every quantized component fits int8: |q| <= 127."""
    from pyspark.sql import functions as F
    from concordium_transaction_logger_spark.sources.tables import load_table

    codes = similarity._int8_codes(load_table(spark, sf_dir, "embeddings"))
    n_bad = codes.filter(
        F.array_max(F.transform(F.col("q8"), F.abs)) > 127
    ).count()
    assert n_bad == 0


def test_kmeans_assignment_is_joinless(spark, sf_dir):
    """Lloyd's assignment compiles centroids into literal expressions —
    the corpus is scanned, never joined or re-shuffled per centroid."""
    df = similarity.kmeans_profile(spark, sf_dir)
    plan = layout.explain_str(df, "simple")
    assert "Join" not in plan, plan


def test_kmeans_clusters_partition_the_corpus(spark, sf_dir):
    """Every vector lands in exactly one cluster; inertia is non-negative
    and shrinks (or holds) as Lloyd's iterates from the init assignment."""
    rows = similarity.kmeans_profile(spark, sf_dir).collect()
    from concordium_transaction_logger_spark.sources.tables import load_table

    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r.n_vecs for r in rows) == n_vecs
    assert all(r.inertia >= 0 for r in rows)
    emb = similarity._quantized(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "e"
    )
    init = [
        (int(r.vec_id), list(r.e))
        for r in emb.filter("vec_id < 8").orderBy("vec_id").collect()
    ]
    inertia0 = (
        similarity._kmeans_assign(emb, init)
        .groupBy()
        .sum("d")
        .collect()[0][0]
    )
    assert sum(r.inertia for r in rows) <= inertia0


def test_semdedup_pairs_subset_of_brute_force(spark, sf_dir):
    """Cluster blocking only loses cross-cluster pairs: every SemDeDup
    pair appears in the brute-force set with the identical score, and
    within-cluster recall is 1.0 by construction."""
    brute = {
        (r["vec_a"], r["vec_b"]): r["sim_micro"]
        for r in similarity.near_dup_pairs(spark, sf_dir, 400_000).collect()
    }
    blocked = {
        (r["vec_a"], r["vec_b"]): r["sim_micro"]
        for r in similarity.semdedup_pairs(spark, sf_dir, 400_000).collect()
    }
    assert blocked, "cluster blocking found no near-dup pairs at all"
    for pair, sim in blocked.items():
        assert brute.get(pair) == sim, f"{pair}: {sim} vs {brute.get(pair)}"
    # Recall here is bounded by clustering quality (k=8, 2 Lloyd's
    # iterations on 500 synthetic vectors) — production SemDeDup tunes
    # k/iterations per corpus and probes adjacent clusters to close the
    # gap; the invariants above (subset + identical scores) are the
    # correctness contract.
    recall = len(blocked) / len(brute)
    assert recall >= 0.25, f"cluster-blocking recall too low: {recall:.2f}"


def test_semdedup_2level_validity_inertia_and_recall(spark, sf_dir):
    """The two-level quantizer (coarse sample-trained k-means → per-cell
    local Lloyd's) must stay a faithful SemDeDup blocker: every vector
    assigned exactly once to a cluster inside the k1·k2 label space,
    fine-cluster inertia comparable to the flat index (measures ~1.0× —
    the local refinement is the same Lloyd's), pairs a strict subset of
    the brute-force set with identical scores (within-cluster scoring IS
    the exact kernel), and recall within a constant factor of the flat
    blocking (measures ~0.95×; the geometry differs by construction)."""
    from pyspark.sql import functions as F

    k = similarity.semdedup_default_k(spark, sf_dir)
    k1 = max(1, int(-(-(k**0.5) // 1)))
    k2 = max(1, -(-k // k1))
    idx2 = similarity.kmeans_index_2level(spark, sf_dir, k=k)
    n_vecs = similarity.kmeans_index(spark, sf_dir, k=k).count()
    assert idx2.count() == n_vecs, "every vector assigned exactly once"
    bad = idx2.filter((F.col("cluster") < 0) | (F.col("cluster") >= k1 * k2))
    assert bad.count() == 0, "cluster labels inside the coarse*k2+fine space"
    i2 = idx2.agg(F.sum("d")).first()[0]
    i1 = similarity.kmeans_index(spark, sf_dir, k=k).agg(F.sum("d")).first()[0]
    assert i2 <= 1.5 * i1, f"two-level inertia {i2} vs flat {i1}"

    brute = {
        (r["vec_a"], r["vec_b"]): r["sim_micro"]
        for r in similarity.near_dup_pairs(spark, sf_dir, 400_000).collect()
    }
    two = {
        (r["vec_a"], r["vec_b"]): r["sim_micro"]
        for r in similarity.semdedup_pairs_2level(spark, sf_dir, 400_000).collect()
    }
    flat = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.semdedup_pairs(spark, sf_dir, 400_000).collect()
    }
    assert two, "two-level blocking found no near-dup pairs at all"
    for pair, sim in two.items():
        assert brute.get(pair) == sim, f"{pair}: {sim} vs {brute.get(pair)}"
    recall2 = len(two) / len(brute)
    recall_flat = len(flat) / len(brute)
    assert recall2 >= 0.6 * recall_flat, (
        f"two-level recall {recall2:.2f} collapsed vs flat {recall_flat:.2f}"
    )


def test_semdedup_2level_plan_is_two_kernel_stages(spark, sf_dir):
    """The two-level path must stay kernel-side: coarse assignment and
    fine clustering are Arrow-batched python stages (mapInPandas +
    applyInPandas), never a centroid join — and the pair stage never
    builds a cartesian product."""
    df = similarity.semdedup_pairs_2level(spark, sf_dir, 400_000)
    plan = layout.explain_str(df, "simple")
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pq_topk_recall_and_determinism(spark, sf_dir):
    """The PQ+re-rank path must stay a faithful ANN (recall@10 >= 0.6
    reranked — measures 0.88-0.92; >= 0.15 raw ADC — measures ~0.33) and
    be fully deterministic (fixed init, integer codebooks, argmin ties
    to the smallest id): two runs produce identical rows."""
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(spark, sf_dir, 5, 10).collect()
    }
    reranked = similarity.ann_pq_topk(spark, sf_dir, 5, 10).collect()
    rr = {(r["query_id"], r["neighbor_id"]) for r in reranked}
    raw = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ann_pq_topk(spark, sf_dir, 5, 10, rerank=0).collect()
    }
    assert len(exact & rr) / len(exact) >= 0.6
    assert len(exact & raw) / len(exact) >= 0.15
    again = similarity.ann_pq_topk(spark, sf_dir, 5, 10).collect()
    assert sorted(map(tuple, reranked)) == sorted(map(tuple, again))
    # shortlist exactness: every re-ranked score equals the exact score
    exact_scores = {
        (r["query_id"], r["neighbor_id"]): r["sim_micro"]
        for r in similarity.cosine_topk(spark, sf_dir, 5, 10**9).collect()
    }
    for r in reranked:
        key = (r["query_id"], r["neighbor_id"])
        assert exact_scores[key] == r["sim_micro"], key


def test_lsh_layout_probe_prunes_partitions(spark, sf_dir, tmp_path):
    """The bucket-partitioned LSH layout end-to-end: the probe's candidate
    scan must show PartitionFilters on lsh_bucket (only probed partitions
    read), and results must equal the session-index ann_lsh_topk exactly."""
    path = str(tmp_path / "lsh_layout")
    similarity.write_lsh_partitioned(spark, sf_dir, path)
    df = similarity.ann_lsh_topk_over_layout(spark, sf_dir, path)
    plan = layout.explain_str(df)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "lsh_bucket" in pf[0], plan
    want = [tuple(r) for r in similarity.ann_lsh_topk(spark, sf_dir).collect()]
    got = [tuple(r) for r in df.collect()]
    assert got == want and got


def test_2level_sampled_coarse_training_keeps_label_space(spark, sf_dir, tmp_path):
    """The sampled-coarse-training branch — the mechanism the two-level
    quantizer exists for — engaged on a corpus big enough to trip the
    256·k1 sample budget. Review found the first version shipped with
    this branch untested: coarse centroid ids were the sampled init
    rows' raw vec_ids, so composed labels escaped [0, k1·k2). Builds a
    3000-vector corpus (k=12, k1=4, permille=342 < 1000) and pins the
    densified label space, assignment totality, and within-cluster pair
    consistency."""
    import os

    from pyspark.sql import functions as F

    from concordium_transaction_logger_spark.cache import release_corpus
    from concordium_transaction_logger_spark.sources.tables import TABLES

    cdir = str(tmp_path / "bigvec2")
    os.makedirs(cdir)
    for name in TABLES:
        if name == "embeddings":
            continue
        os.symlink(
            os.path.join(sf_dir, f"{name}.parquet"),
            os.path.join(cdir, f"{name}.parquet"),
        )
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    parts = [emb]
    for r in range(1, 6):
        rot = r % 64
        parts.append(
            emb.select(
                (F.col("vec_id") + r * 100_000).alias("vec_id"),
                F.concat(
                    F.slice("embedding", rot + 1, 64 - rot),
                    F.slice("embedding", 1, rot),
                ).alias("embedding"),
                "label",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.coalesce(4).write.parquet(os.path.join(cdir, "embeddings.parquet"))

    try:
        n = 3000
        k = similarity.semdedup_default_k(spark, cdir)
        assert k == 12
        k1 = max(1, int(-(-(k**0.5) // 1)))
        k2 = max(1, -(-k // k1))
        permille = min(1000, -(-256 * k1 * 1000 // n))
        assert permille < 1000, "corpus must be big enough to engage sampling"

        idx2 = similarity.kmeans_index_2level(spark, cdir, k=k)
        assert idx2.count() == n, "every vector assigned exactly once"
        lo, hi = idx2.agg(F.min("cluster"), F.max("cluster")).first()
        assert 0 <= lo and hi < k1 * k2, (
            f"labels [{lo}, {hi}] escape the [0, {k1 * k2}) space"
        )
        pairs = similarity.semdedup_pairs_2level(spark, cdir, 400_000)
        by_vec = {r["vec_id"]: r["cluster"] for r in idx2.select("vec_id", "cluster").collect()}
        rows = pairs.collect()
        assert rows, "scaled corpus must yield near-dup pairs"
        for r in rows:
            assert by_vec[r["vec_a"]] == r["cluster"] == by_vec[r["vec_b"]]
            assert r["sim_micro"] >= 400_000
    finally:
        release_corpus(spark, cdir)


def test_semdedup_default_k_scales_and_matches_oracle(spark, sf_dir, tmp_path):
    """The round-5 scale fix: semdedup's DEFAULT k is derived from corpus
    size (k = max(KMEANS_K, ceil(N/SEMDEDUP_TARGET_CLUSTER))) instead of a
    fixed 8, and the DuckDB oracle computes the identical formula as a
    scalar subquery — so both engines pick the same geometry at ANY
    corpus size, not just the test SFs where the formula happens to give
    8. Builds a 3000-vector corpus (k must resolve to 12) and runs the
    registry entry's Spark fn and oracle side-by-side on it."""
    import os

    import duckdb
    from pyspark.sql import functions as F

    from concordium_transaction_logger_spark.cache import release_corpus
    from concordium_transaction_logger_spark.registry import REGISTRY
    from concordium_transaction_logger_spark.sources.tables import TABLES

    cdir = str(tmp_path / "bigvec")
    os.makedirs(cdir)
    for name in TABLES:
        if name == "embeddings":
            continue
        os.symlink(
            os.path.join(sf_dir, f"{name}.parquet"),
            os.path.join(cdir, f"{name}.parquet"),
        )
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    parts = [emb]
    for r in range(1, 6):  # 6 x 500 = 3000 vectors
        rot = r % 64
        parts.append(
            emb.select(
                (F.col("vec_id") + r * 100_000).alias("vec_id"),
                F.concat(
                    F.slice("embedding", rot + 1, 64 - rot),
                    F.slice("embedding", 1, rot),
                ).alias("embedding"),
                "label",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.coalesce(4).write.parquet(os.path.join(cdir, "embeddings.parquet"))

    assert similarity.semdedup_default_k(spark, cdir) == 12

    qd = REGISTRY["embedding_semdedup_pairs"]
    try:
        sdf = qd.spark(spark, cdir)
        got = sorted(tuple(r) for r in sdf.collect())
    finally:
        release_corpus(spark, cdir)

    con = duckdb.connect()
    try:
        for name in TABLES:
            con.sql(
                f"CREATE VIEW {name} AS SELECT * "
                f"FROM read_parquet('{cdir}/{name}.parquet/*.parquet')"
                if name == "embeddings"
                else f"CREATE VIEW {name} AS SELECT * "
                f"FROM read_parquet('{cdir}/{name}.parquet')"
            )
        want = sorted(tuple(r) for r in con.sql(qd.oracle).fetchall())
    finally:
        con.close()
    assert got and got == want


def test_ivf_pq_topk_recall_against_exact(spark, sf_dir):
    """The composed IVF-PQ path: recall is bounded by the IVF probe
    stage (the exact re-rank recovers everything PQ quantization loses
    within the probed cells), so its floor matches ivf_topk's — and it
    must never BEAT the probe stage's candidate set: every result's
    neighbor must live in one of the query's probed cells."""
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(spark, sf_dir, 5, 10).collect()
    }
    ivfpq_rows = similarity.ann_ivf_pq_topk(spark, sf_dir, 5, 10).collect()
    ivfpq = {(r["query_id"], r["neighbor_id"]) for r in ivfpq_rows}
    assert exact
    recall = len(exact & ivfpq) / len(exact)
    assert recall >= 0.4, f"IVF-PQ recall@10 too low: {recall:.2f}"
    # candidate-set containment: every result's neighbor lives in one of
    # its query's probed cells (a cell-join regression that leaks
    # non-probed candidates would raise recall and pass the floor)
    probed = {
        (r["query_id"], r["cell"])
        for r in similarity._ivf_probes(spark, sf_dir, 5, 4).collect()
    }
    cell_of = {
        r["vec_id"]: r["cell"]
        for r in similarity.ivf_index(spark, sf_dir).select("vec_id", "cell").collect()
    }
    for q, n in ivfpq:
        assert (q, cell_of[n]) in probed, (q, n, cell_of[n])
    # rank column is dense 1..k per query
    by_q = {}
    for r in ivfpq_rows:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    # rerank=0 is the raw-ADC mode (the ann_pq_topk contract), never an
    # empty result
    raw = similarity.ann_ivf_pq_topk(spark, sf_dir, 5, 10, rerank=0).collect()
    assert {r["query_id"] for r in raw} == set(by_q)


def test_ivf_pq_layout_probe_prunes_partitions(spark, sf_dir, tmp_path):
    """The cell-partitioned IVF-PQ layout end-to-end: the probe's
    candidate scan must show PartitionFilters on cell (only the probed
    lists' files are read), and results must equal the session-index
    ann_ivf_pq_topk exactly."""
    path = str(tmp_path / "ivf_pq_layout")
    similarity.write_ivf_pq_partitioned(spark, sf_dir, path)
    df = similarity.ann_ivf_pq_topk_over_layout(spark, sf_dir, path)
    plan = layout.explain_str(df)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "cell" in pf[0], plan
    want = [tuple(r) for r in similarity.ann_ivf_pq_topk(spark, sf_dir).collect()]
    got = [tuple(r) for r in df.collect()]
    assert got == want and got


def test_rank_rule_and_half_up_are_spelled_once():
    """Every top-k path ranks through ``_top_k`` and every Arrow kernel
    rounds through ``_half_up``: in similarity.py the per-query rank
    window and the numpy HALF_UP expression each appear once, inside
    their kernel. A path that copies either instead of calling the
    kernel fails here."""
    import ast
    import inspect

    tree = ast.parse(inspect.getsource(similarity))
    # innermost enclosing function per node (ast.walk is breadth-first,
    # so an inner def overwrites its outer one)
    owner = {}
    for fn in ast.walk(tree):
        if isinstance(fn, ast.FunctionDef):
            for node in ast.walk(fn):
                owner[node] = fn.name

    def sites(attr, match):
        return sorted(
            owner.get(c, "<module>")
            for c in ast.walk(tree)
            if isinstance(c, ast.Call)
            and isinstance(c.func, ast.Attribute)
            and c.func.attr == attr
            and match(c.args)
        )

    def const(node, value):
        return isinstance(node, ast.Constant) and node.value == value

    rank = sites("partitionBy", lambda a: len(a) == 1 and const(a[0], "query_id"))
    half_up = sites(
        "floor",
        lambda a: len(a) == 1
        and isinstance(a[0], ast.BinOp)
        and isinstance(a[0].op, ast.Add)
        and const(a[0].right, 0.5),
    )
    assert rank == ["_top_k"], rank
    assert half_up == ["_half_up"], half_up


def test_half_up_matches_spark_round(spark):
    """The Arrow kernels' rounding must equal Spark's ``round(x, 0)``
    (HALF_UP: ties away from zero), or their scores drift from the
    expression paths and the oracle by one micro-unit on exact ties."""
    import numpy as np

    xs = [-2.5, -1.5, -0.5, -0.49, 0.0, 0.49, 0.5, 1.5, 2.5, 999_999.5]
    want = [
        r[0]
        for r in spark.createDataFrame([(x,) for x in xs], "x double")
        .selectExpr("CAST(round(x, 0) AS BIGINT)")
        .collect()
    ]
    assert similarity._half_up(np.array(xs)).tolist() == want
