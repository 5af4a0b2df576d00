"""Graph analytics over engine-derived graphs — the family a curation /
analytics stack reaches for once pairwise operators (dedup pairs, trade
edges) exist: iterative centrality (PageRank) and local clustering
structure (degree-oriented triangle counting).

Both operators follow the engine's integer-exactness convention (micro /
per-mille BIGINTs, floor division on non-negative values) so the DuckDB
oracles in ``registry.py`` are hash-identical: Spark's ``DIV`` and
DuckDB's ``//`` agree on non-negative integers, and no transcendental
function appears anywhere.

Scale notes are per-operator; the shared rule is the one every iterative
op in this engine obeys (``dedup.components_over_buckets`` precedent):
the loop body is whole-graph DataFrame jobs and the driver holds only
loop control. Lineage is truncated with ``localCheckpoint`` as the
ROUND COUNT demands: a loop that runs an action per round (components'
convergence count) must checkpoint per round, while a fixed-count lazy
loop like :func:`trade_pagerank` compiles several rounds into one job
and checkpoints every few rounds only to bound plan depth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .dedup import minhash_band_pairs

#: PageRank constants — damping 850/1000, mass in micro units. Fixed
#: iteration count (not convergence-tested) keeps the op a pure function
#: of its input, which is what lets a step-unrolled SQL oracle exist.
PR_DAMPING_PERMILLE = 850
PR_MASS_MICRO = 1_000_000
#: Per-round teleport base — derived ONCE here; the operator, the oracle
#: generator (registry._pagerank_step) and the tests all import this so
#: a damping change cannot desynchronize them.
PR_BASE_MICRO = (PR_MASS_MICRO * (1000 - PR_DAMPING_PERMILLE)) // 1000
PR_ITERS = 4
PR_TOP = 20


def trade_pair_deltas(lineitems: DataFrame, orders: DataFrame) -> DataFrame:
    """(cnode, snode, w) trade-pair counts for a lineitem set — THE edge
    definition, shared by the batch :func:`_trade_edges` and the
    streaming maintenance (``streaming.pipeline.StreamingTradeGraphIngest``
    feeds each micro-batch through these exact expressions), so the node
    encoding and weight rule cannot drift between the twins. Node ids
    are disjoint by parity: customer c ↦ 2c, supplier s ↦ 2s+1 (the
    graph is bipartite, so parity also encodes the side).

    Shape: one fact⋈fact join on orderkey (both sides hash-partition on
    the key; at 100 TB this is the same co-hashed orderkey join as
    ``late_shipment_priority_split`` — when one side is a micro-batch,
    AQE broadcasts THAT side) into a partial-aggregated groupBy on the
    (customer, supplier) pair — edge count is bounded by distinct
    trading pairs, far below lineitem count."""
    return (
        lineitems.select("l_orderkey", "l_suppkey")
        .join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            (F.col("o_custkey").cast("long") * 2).alias("cnode"),
            (F.col("l_suppkey").cast("long") * 2 + 1).alias("snode"),
        )
        .agg(F.count("*").cast("long").alias("w"))
    )


def _symmetric_edges(pairs: DataFrame) -> DataFrame:
    return pairs.select(
        F.col("cnode").alias("src"), F.col("snode").alias("dst"), "w"
    ).unionByName(
        pairs.select(F.col("snode").alias("src"), F.col("cnode").alias("dst"), "w")
    )


def adjacency_from_pairs(pairs: DataFrame) -> DataFrame:
    """(src, dst, w, wout) adjacency from (cnode, snode, w) pair counts —
    the symmetric union + out-weight join both the session index build
    and the streaming sink's served view (``trade_edges_from_sink``)
    share."""
    edges = _symmetric_edges(pairs)
    wout = edges.groupBy("src").agg(F.sum("w").cast("long").alias("wout"))
    return edges.join(wout, "src")


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The customer↔supplier trade graph as symmetric weighted edges —
    :func:`trade_pair_deltas` over the whole lineitem table."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return _symmetric_edges(trade_pair_deltas(li, orders))


def trade_graph_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(session, sf_dir) materialized adjacency list — edges already
    joined with their out-weight, the layout every PageRank round reuses.
    Like the shingle/band/IVF indexes, a resident engine builds the graph
    ONCE at ingest (the analog of the reference maintaining its ati/cti
    indexes at INSERT time) and queries only iterate over it; without the
    memo every pagerank call would re-run the fact⋈fact edge join."""
    from ..cache import get_or_build

    def build() -> DataFrame:
        orders = load_table(spark, sf_dir, "orders")
        li = load_table(spark, sf_dir, "lineitem")
        return adjacency_from_pairs(trade_pair_deltas(li, orders))

    return get_or_build("trade_graph", spark, sf_dir, build)


def trade_pagerank(
    spark: SparkSession,
    sf_dir: str,
    iters: int = PR_ITERS,
    top: int = PR_TOP,
) -> DataFrame:
    """Weighted PageRank over the customer↔supplier trade graph — the
    "which entities matter" query every graph-shaped analytics stack
    carries (Page et al. 1999; Pregel/GraphX express it the same way:
    rank join edges, contributions grouped by destination).

    Integer-exact update, all BIGINT:

        r_0(v)     = 1_000_000
        r_{t+1}(v) = 150_000 + Σ_{u→v} (850 · r_t(u) · w_uv) DIV (1000 · wout_u)

    Floor division leaks a bounded sub-micro remainder per edge (and
    isolated nodes sit at the 150_000 teleport floor) — deterministic in
    both engines, so the DuckDB oracle (step-unrolled CTEs, the k-means /
    BPE treatment) matches hash-for-hash; the leak shifts no ordering.

    Scale shape: each round is ONE shuffle pair — ranks⋈edges on ``src``
    (edges come pre-joined with their out-weight from the session's
    materialized :func:`trade_graph_index`, so no round re-derives the
    fact⋈fact join) and a partial-aggregated groupBy that folds the
    teleport rebase in: contributions are unioned with a zero row per
    universe node, so the rebase costs no second join. Each ranks frame
    is referenced exactly once by the next round, so the whole fixed
    iteration count compiles into ONE lazy job (4 sequential shuffle
    stages here) — lineage is truncated with a ``localCheckpoint`` only
    every 5th round, the dial that matters when ``iters`` grows. Driver
    traffic is zero (fixed iteration count — not even a convergence
    scalar). At 1000 executors the edge frame partitioning on ``src`` is
    reused across all rounds — the classic Pregel layout.

    Assumes FK closure (every edge endpoint appears in its dimension
    table), which the TPC-H-shaped schema guarantees; a dangling key
    would add its own node to the output where the oracle's
    dimension-driven universe drops it."""
    return pagerank_over_edges(
        trade_graph_index(spark, sf_dir),
        trade_nodes(spark, sf_dir),
        iters=iters,
        top=top,
    )


def trade_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trade graph's node universe (parity-encoded like
    :func:`_trade_edges`): every customer and supplier, edge-connected or
    not — the teleport floor applies to isolated nodes too."""
    cust = load_table(spark, sf_dir, "customer").select(
        (F.col("c_custkey").cast("long") * 2).alias("node")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        (F.col("s_suppkey").cast("long") * 2 + 1).alias("node")
    )
    return cust.unionByName(supp)


def pagerank_over_edges(
    e: DataFrame,
    nodes: DataFrame,
    iters: int = PR_ITERS,
    top: int = PR_TOP,
) -> DataFrame:
    """The PageRank rounds themselves, over ANY (src, dst, w, wout)
    adjacency frame and (node) universe — shared by
    :func:`trade_pagerank` (session-index adjacency) and the streaming
    twin (``streaming.pipeline.trade_pagerank_from_sink``, whose
    adjacency is summed from per-batch deltas): one update definition,
    so the batch and stream-served rankings can never drift."""
    # nodes is a handful of tiny scans referenced inside ONE lazy job —
    # re-scanning beats an eager checkpoint job plus pinned blocks.
    zeros = nodes.select("node", F.lit(0).cast("long").alias("c"))

    ranks = nodes.select("node", F.lit(PR_MASS_MICRO).cast("long").alias("r"))
    for i in range(iters):
        # SHUFFLE_HASH hint (r10, guide §3.1): the per-round rank⋈edge
        # join planned as sort-merge, paying a sort of BOTH sides every
        # round (the edge side re-sorts its persisted partitions each
        # iteration). Hash-building the rank side skips both sorts; the
        # build is one rank row per node per partition — the same
        # per-partition footprint the sort needed anyway — and exchange
        # reuse is unchanged (ranks arrive partitioned by the groupBy,
        # edges by the persisted adjacency layout).
        contrib = e.join(ranks.hint("shuffle_hash"), e.src == ranks.node).select(
            F.col("dst").alias("node"),
            # Both sides of the DIV are computed in DECIMAL(38,0)
            # (DuckDB: HUGEINT): rank mass scales with node count (r up
            # to ~N*10^6 when it concentrates on a hub) and w is an
            # unbounded trade count, so all-BIGINT 850*r*w can exceed
            # int64 at the very scale this operator targets — and
            # 1000*wout overflows int64 on its own once a node's
            # out-weight passes ~9.2*10^15. The quotient is <= r
            # (w <= wout, damping < 1), so it always fits back in
            # BIGINT.
            F.expr(
                f"CAST(({PR_DAMPING_PERMILLE} * CAST(r AS DECIMAL(38,0)) * w)"
                f" DIV (1000 * CAST(wout AS DECIMAL(38,0))) AS BIGINT)"
            ).alias("c"),
        )
        ranks = (
            contrib.unionByName(zeros)
            .groupBy("node")
            .agg(
                (F.lit(PR_BASE_MICRO) + F.sum("c")).cast("long").alias("r")
            )
        )
        if (i + 1) % 5 == 0:
            # eager=False + no mid-loop action means only LOGICAL-plan
            # truncation is retained (analyzer/optimizer cost stays
            # bounded in rounds); the final action still executes the
            # full physical lineage in one job — intentional: an eager
            # pin here would add a scheduler round trip per 5 rounds for
            # no data-plane saving (measured r11: the bench corpus has
            # no early fixpoint, every round's output is consumed).
            ranks = ranks.localCheckpoint(eager=False)

    return (
        ranks.orderBy(F.desc("r"), F.asc("node"))
        .limit(top)
        .select(
            F.when(F.col("node") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier"))
            .alias("node_kind"),
            F.expr("node DIV 2").cast("long").alias("node_key"),
            F.col("r").cast("long").alias("rank_micro"),
        )
    )


def dedup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the MinHash-band candidate graph — the density
    diagnostic a dedup pipeline reads before trusting its components:
    near-dup clusters should be clique-ish (high closure), while a low
    global clustering coefficient means the LSH bands are chaining
    unrelated docs together (hub shingles, band collisions).

    Algorithm: degree-oriented wedge counting (Suri & Vassilvitskii,
    "Counting Triangles and the Curse of the Last Reducer", WWW'11).
    Every undirected edge is oriented from its (degree, id)-smaller
    endpoint; wedges are built only at each apex's oriented out-edges, so
    per-node wedge work is d_out² with d_out ≤ O(√m) — the hub node that
    makes naive wedge counting quadratic contributes almost nothing as an
    apex. Each triangle {x,y,z} is counted exactly once (at its
    (degree,id)-minimal apex).

    One row out: nodes/edges/wedges/triangles plus the global clustering
    coefficient in per-mille (3·triangles / wedges — integer-exact).

    Scale shape: the pair graph comes from the memoized band index
    (Σ|bucket|² candidate pairs, the already-bounded LSH output); the
    wedge join self-joins oriented edges hash-partitioned on the apex and
    the closure check is a semi-join back to the edge set on the
    canonical (min,max) key. No driver data path — the single output row
    is the only collect."""
    # minhash_band_pairs is already distinct and canonical (doc_a < doc_b);
    # checkpoint it once — it feeds the orientation join, the closure
    # semi-join, and the edge count.
    pairs = minhash_band_pairs(spark, sf_dir).select("doc_a", "doc_b").localCheckpoint(eager=False)
    ends = pairs.select(F.col("doc_a").alias("node")).unionByName(
        pairs.select(F.col("doc_b").alias("node"))
    )
    # pin the degree frame (r10): it feeds the orientation joins, the
    # node count and the wedge-sum aggregate — unpinned, the union +
    # groupBy subtree re-executed per consumer (two duplicate Union/
    # HashAggregate subtrees in the before plan). |nodes| rows of two
    # longs.
    deg = (
        ends.groupBy("node")
        .agg(F.count("*").cast("long").alias("deg"))
        .localCheckpoint(eager=False)
    )

    da = deg.select(F.col("node").alias("doc_a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("doc_b"), F.col("deg").alias("deg_b"))
    lower_a = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("doc_a") < F.col("doc_b"))
    )
    oriented = (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            F.when(lower_a, F.col("doc_a")).otherwise(F.col("doc_b")).alias("src"),
            F.when(lower_a, F.col("doc_b")).otherwise(F.col("doc_a")).alias("dst"),
        )
    ).localCheckpoint(eager=False)

    # SHUFFLE_HASH hints (r10, guide §3.1): both the apex self-join and
    # the closure semi-join planned as sort-merge, paying sorts of the
    # oriented-edge frame (×2) and of the wedge fan-out; hash-building
    # the right side drops every one of those sorts. The build sides are
    # per-partition bounded — out-edge lists by the √m orientation bound,
    # the closure side is the edge set itself.
    w1 = oriented.select("src", F.col("dst").alias("v"))
    w2 = oriented.select("src", F.col("dst").alias("w"))
    wedges = w1.join(w2.hint("shuffle_hash"), "src").filter(F.col("v") < F.col("w"))
    closing = pairs.select(
        F.col("doc_a").alias("v"), F.col("doc_b").alias("w")
    )  # pairs already canonical: doc_a < doc_b
    tri = wedges.join(closing.hint("shuffle_hash"), ["v", "w"], "left_semi")

    n_nodes = deg.select(F.count("*").cast("long").alias("n_nodes"))
    n_edges = pairs.select(F.count("*").cast("long").alias("n_edges"))
    # COALESCE: an edgeless corpus must report 0 wedges, not NULL — the
    # oracle's SUM is coalesced the same way.
    n_wedges = deg.select(
        F.coalesce(F.sum(F.expr("deg * (deg - 1) DIV 2")), F.lit(0))
        .cast("long")
        .alias("n_wedges")
    )
    n_tri = tri.select(F.count("*").cast("long").alias("n_triangles"))
    return (
        n_nodes.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(n_wedges))
        .crossJoin(F.broadcast(n_tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(F.col("n_wedges") > 0,
                   F.expr("(3000 * n_triangles) DIV n_wedges"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("closure_permille"),
        )
    )


def trade_graph_components(
    spark: SparkSession, sf_dir: str, max_iter: int = 30
) -> DataFrame:
    """Connected components of the trade graph — the market-segmentation
    view: which customers and suppliers form isolated trading pools, and
    how many participants never trade at all (singleton components are
    exactly the customers with no orders). One aggregate row per
    component: (component_id, n_nodes, n_customers, n_suppliers).

    Reuses :func:`dedup.star_components` (Kiveris et al., O(log² n)
    rounds on ANY graph shape) over the session
    :func:`trade_graph_index` — a bipartite trade graph's components can
    be long customer↔supplier chains, exactly the diameter shape hash-min
    propagation is slow on, so the star-contraction kernel is the right
    default here (the dedup family keeps hash-min as ITS default because
    band cliques have tiny diameters). The oracle walks the same edges
    with a recursive CTE (the `doc_dup_components` treatment)."""
    from .dedup import star_components

    e = trade_graph_index(spark, sf_dir)
    pairs = e.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    labels = star_components(pairs, max_iter=max_iter)
    singles = (
        trade_nodes(spark, sf_dir)
        .join(labels.select("node"), "node", "left_anti")
        .select("node", F.col("node").alias("component_id"))
    )
    labels = labels.unionByName(singles)
    return (
        labels.groupBy("component_id")
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum(F.when(F.col("node") % 2 == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_customers"),
            F.sum(F.when(F.col("node") % 2 == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_suppliers"),
        )
        .select(
            F.col("component_id").cast("long").alias("component_id"),
            "n_nodes",
            "n_customers",
            "n_suppliers",
        )
        .orderBy(F.desc("n_nodes"), F.asc("component_id"))
    )
