"""Property-based tests (hypothesis): the engine's operators against
pure-Python reference implementations on adversarial tiny inputs, plus
pagination-completeness invariants on the real corpus."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from concordium_transaction_logger_spark.operators import queries as q
from concordium_transaction_logger_spark.operators.relational import SESSION_GAP_MS


def _py_sessions(ts_sorted: list[int], gap: int) -> list[tuple[int, int, int]]:
    """Reference sessionizer: (n_events, start, end) per session."""
    out = []
    cur = [ts_sorted[0]]
    for t in ts_sorted[1:]:
        if t - cur[-1] > gap:
            out.append((len(cur), cur[0], cur[-1]))
            cur = [t]
        else:
            cur.append(t)
    out.append((len(cur), cur[0], cur[-1]))
    return out


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ts_lists=st.lists(
        st.lists(st.integers(0, 10 * SESSION_GAP_MS), min_size=1, max_size=30),
        min_size=1,
        max_size=4,
    )
)
def test_sessionization_matches_python_reference(spark, ts_lists):
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    rows = [
        Row(user_id=u, ts_ms=t, event_id=u * 1000 + i)
        for u, tss in enumerate(ts_lists)
        for i, t in enumerate(sorted(tss))
    ]
    evt = spark.createDataFrame(rows)
    order = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    is_new = F.when(
        F.lag("ts_ms").over(order).isNull()
        | ((F.col("ts_ms") - F.lag("ts_ms").over(order)) > SESSION_GAP_MS),
        1,
    ).otherwise(0)
    got = (
        evt.withColumn("is_new", is_new)
        .withColumn(
            "sid",
            F.sum("is_new").over(order.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "sid")
        .agg(
            F.count("*").alias("n"),
            F.min("ts_ms").alias("s"),
            F.max("ts_ms").alias("e"),
        )
        .collect()
    )
    by_user: dict[int, list] = {}
    for r in got:
        by_user.setdefault(r.user_id, []).append((r.sid, r.n, r.s, r.e))
    for u, tss in enumerate(ts_lists):
        expect = _py_sessions(sorted(tss), SESSION_GAP_MS)
        actual = [(n, s, e) for _, n, s, e in sorted(by_user[u])]
        assert actual == expect


def test_keyset_pages_partition_the_full_result(spark, sf_dir):
    """Walking DESC pages of any size must enumerate exactly the rows of
    the unbounded iterate — no dupes, no gaps (the README:115-120 cursor
    contract)."""
    full = [r.ati_id for r in q.iterate_account(spark, sf_dir, 7).collect()]
    assert full == sorted(full)
    for page_size in (1, 7, 50):
        seen: list[int] = []
        start = None
        while True:
            page = q.query_account(
                spark, sf_dir, 7, limit=page_size, descending=True, start=start
            ).collect()
            if not page:
                break
            seen.extend(r.ati_id for r in page)
            start = page[-1].ati_id - 1
        assert seen == sorted(full, reverse=True), f"page_size={page_size}"


@given(
    shared=st.lists(
        st.text(alphabet="abcdefgh", min_size=1, max_size=6), min_size=6, max_size=10
    ),
    pre=st.lists(
        st.text(alphabet="mnopqrst", min_size=1, max_size=6), min_size=0, max_size=8
    ),
    post=st.lists(
        st.text(alphabet="uvwxyz", min_size=1, max_size=6), min_size=0, max_size=8
    ),
)
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
def test_winnowing_guarantee_shared_run_leaves_common_fingerprint(
    spark, tmp_path_factory, shared, pre, post
):
    """Schleimer et al.'s guarantee: two documents sharing a token run of
    length >= K + W - 1 must share at least one winnow fingerprint. Doc A
    is the shared run; doc B embeds it between unrelated prefix/suffix
    tokens (disjoint alphabets, so no accidental k-gram collisions)."""
    from concordium_transaction_logger_spark.operators import textstats

    out = str(tmp_path_factory.mktemp("winnow") / "documents.parquet")
    doc_a = " ".join(shared)
    doc_b = " ".join(pre + shared + post)
    spark.createDataFrame(
        [
            Row(doc_id=0, text=doc_a, lang="en", source="s", n_chars=len(doc_a)),
            Row(doc_id=1, text=doc_b, lang="en", source="s", n_chars=len(doc_b)),
        ]
    ).coalesce(1).write.mode("overwrite").parquet(out)
    fps = textstats.winnow_fingerprints(spark, out.rsplit("/", 1)[0]).collect()
    a = {r.fp for r in fps if r.doc_id == 0}
    b = {r.fp for r in fps if r.doc_id == 1}
    assert a & b, "shared run >= K+W-1 tokens left no common fingerprint"


def test_kmeans_assignment_invariant_to_partitioning(spark, sf_dir):
    """The final cluster assignment is a pure function of the data —
    identical whether the corpus arrives in 1 partition or 32 (no
    partition-order dependence in the iterative path)."""
    from pyspark.sql import functions as F

    from concordium_transaction_logger_spark.operators import similarity
    from concordium_transaction_logger_spark.sources.tables import load_table

    emb = similarity._quantized(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "e"
    )
    cents = similarity._kmeans_centroids(spark, sf_dir)
    one = sorted(
        (r.vec_id, r.cluster)
        for r in similarity._kmeans_assign(emb.coalesce(1), cents).collect()
    )
    many = sorted(
        (r.vec_id, r.cluster)
        for r in similarity._kmeans_assign(
            emb.repartition(32), cents
        ).collect()
    )
    assert one == many


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(st.integers(-1000, 1000), st.integers(0, 10**6)),
        min_size=1,
        max_size=300,
        unique_by=lambda t: t[1],
    )
)
def test_global_ranked_equals_single_partition_window(spark, rows):
    """The distributed two-pass global ranking (range repartition + local
    rank + prefix offsets) must equal the single-partition window
    row_number on arbitrary data, including heavy ties on the primary
    sort key (the unique id column breaks them)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from concordium_transaction_logger_spark.operators.relational import global_ranked

    df = spark.createDataFrame(rows, "val long, id long")
    order = [F.col("val").desc(), F.col("id").asc()]
    want = {
        (r["id"], r["rn"])
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy(*order)).cast("long")
        ).collect()
    }
    got = {(r["id"], r["rn"]) for r in global_ranked(df, order).collect()}
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(st.integers(-1000, 1000), st.integers(-(10**6), 10**6)),
        min_size=1,
        max_size=300,
        unique_by=lambda t: t[0],
    )
)
def test_global_cumsum_equals_local_prefix_sum(spark, rows):
    """The distributed two-pass prefix sum (global_cumsum — the SUM
    sibling of global_ranked) must equal a plain Python running total
    over the sorted order on arbitrary data, including NEGATIVE values
    (the offsets must subtract correctly) and zero-mass rows (the
    field-odds estimator's TGT probe points)."""
    from concordium_transaction_logger_spark.operators.relational import (
        global_cumsum,
    )

    df = spark.createDataFrame(rows, "k long, v long")
    running, want = 0, {}
    for k, v in sorted(rows):
        running += v
        want[k] = running
    got = {
        r["k"]: r["cum"]
        for r in global_cumsum(df, ["k"], "v", "cum").collect()
    }
    assert got == want


def test_global_ranked_interleaved_results_stay_consistent(spark):
    """A result consumed AFTER a second global_ranked call must still
    carry a valid global ranking: the prefix offsets are in-plan
    (broadcast join), never driver literals snapshot from a partitioning
    that a replay would re-sample."""
    from pyspark.sql import functions as F

    from concordium_transaction_logger_spark.operators.relational import global_ranked

    df1 = spark.range(0, 5000).select(
        (F.col("id") * 2654435761 % 100003).alias("k"), F.col("id").alias("v")
    )
    df2 = spark.range(0, 3000).select(
        (F.col("id") * 40503 % 9973).alias("k"), F.col("id").alias("v")
    )
    r1 = global_ranked(df1, ["k", "v"])
    _ = global_ranked(df2, ["k", "v"])  # a second plan over another input
    rows = r1.collect()  # a deferred result must not corrupt
    assert sorted(r.rn for r in rows) == list(range(1, 5001))
    by_rank = sorted(rows, key=lambda r: r.rn)
    keys = [(r.k, r.v) for r in by_rank]
    assert keys == sorted(keys)


def test_global_ranked_and_cumsum_read_one_partitioning(spark):
    """An input with a column that is neither a sort key nor the value
    (linkage's ``ev_pts`` shape) must still rank and sum against ONE
    sampled range partitioning. The offsets subtree prunes that column,
    so without the lineage cut its exchange differs from the row
    subtree's, is not reused, and samples its own boundaries. Rows are
    scattered over the input partitions at random on every evaluation —
    the local stand-in for a cluster's varying shuffle fetch order — so
    two samples would disagree and the ranks would gap or repeat."""
    import random

    from pyspark.sql import functions as F
    from pyspark.sql.types import IntegerType

    from concordium_transaction_logger_spark.operators.relational import (
        global_cumsum,
        global_ranked,
    )

    scatter = F.udf(lambda: random.randrange(4), IntegerType()).asNondeterministic()
    n = 3000
    ev_pts = (
        spark.range(0, n)
        .select(
            (F.col("id") * 7919 % 3001).alias("val"),
            (F.col("id") % 2).alias("kind"),
            F.lit(1).cast("long").alias("c"),
            (F.col("id") % 5).alias("src"),
        )
        .repartition(4, scatter())
    )
    cum = global_cumsum(ev_pts, ["val", "kind"], "c", "cum")
    ranked = global_ranked(ev_pts, ["val", "kind"])
    assert sorted(r.cum for r in cum.collect()) == list(range(1, n + 1))
    assert sorted(r.rn for r in ranked.collect()) == list(range(1, n + 1))
    # neither result re-partitions on its own: both subtrees scan the
    # one materialized range partitioning
    for out in (cum, ranked):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "rangepartitioning" not in plan


# ---------------------------------------------------------------------------
# Two-level quantizer fine kernel (similarity._local_lloyd) vs an
# exact-rational pure-Python reference: same init (first min(k, n) rows),
# same argmin tie rule (lowest index), and round-half-away-from-zero means
# computed with Fractions instead of the kernel's integer shortcut — so a
# rounding or tie-breaking regression in the numpy path fails here without
# needing a Spark session.
# ---------------------------------------------------------------------------


def _ref_local_lloyd(rows: list[list[int]], k: int, iters: int):
    from fractions import Fraction

    def sq(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    def assign(cents):
        return [
            min(range(len(cents)), key=lambda c: (sq(r, cents[c]), c)) for r in rows
        ]

    def half_away(fr: "Fraction") -> int:
        mag = abs(fr)
        fl = mag.numerator // mag.denominator
        if mag - fl >= Fraction(1, 2):
            fl += 1
        return fl if fr >= 0 else -fl

    cents = [list(r) for r in rows[: min(k, len(rows))]]
    for _ in range(iters - 1):
        j = assign(cents)
        new = []
        for c in sorted(set(j)):
            members = [r for r, jj in zip(rows, j) if jj == c]
            new.append(
                [
                    half_away(Fraction(sum(m[dim] for m in members), len(members)))
                    for dim in range(len(rows[0]))
                ]
            )
        cents = new
    j = assign(cents)
    return j, [sq(r, cents[jj]) for r, jj in zip(rows, j)]


@settings(max_examples=120, deadline=None)
@given(
    data=st.data(),
    n=st.integers(min_value=1, max_value=12),
    dim=st.integers(min_value=1, max_value=4),
    k=st.integers(min_value=1, max_value=5),
    iters=st.integers(min_value=1, max_value=3),
    lo_hi=st.sampled_from([(-2, 2), (-1000, 1000)]),  # tiny range forces ties
)
def test_local_lloyd_matches_exact_rational_reference(data, n, dim, k, iters, lo_hi):
    import numpy as np

    from concordium_transaction_logger_spark.operators.similarity import _local_lloyd

    rows = data.draw(
        st.lists(
            st.lists(
                st.integers(min_value=lo_hi[0], max_value=lo_hi[1]),
                min_size=dim,
                max_size=dim,
            ),
            min_size=n,
            max_size=n,
        )
    )
    m = np.array(rows, dtype=np.int64)
    j, d = _local_lloyd(m, k, iters)
    rj, rd = _ref_local_lloyd(rows, k, iters)
    assert list(j) == rj
    assert list(d) == rd
