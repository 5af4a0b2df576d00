"""Streaming entity resolution: the pair sink maintained by
StreamingLinkageIngest must serve the batch customer_fuzzy_matches /
customer_match_components frames exactly once the stream has consumed
the same corpus — for any batching of the arrivals, across nothing-new
reruns and lost-checkpoint replays — and a RE-batched replay must be
refused before either sink mutates."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from concordium_transaction_logger_spark.operators.linkage import (
    customer_fuzzy_matches,
    customer_match_components,
)
from concordium_transaction_logger_spark.sources.tables import load_table
from concordium_transaction_logger_spark.streaming.pipeline import (
    StreamingLinkageIngest,
    linkage_components_from_sink,
    linkage_pairs_from_sink,
)


@pytest.fixture()
def dirs(tmp_path):
    return {
        "source": str(tmp_path / "source"),
        "out": str(tmp_path / "out"),
        "ckpt": str(tmp_path / "ckpt"),
    }


def _write_split(spark, sf_dir, source_dir, n_files=3):
    """One file per residue class of c_custkey — key order deliberately
    does NOT align with arrival order, so cross-batch pairs hit the
    disjoint verify regime in BOTH key orders (asserted below)."""
    cust = load_table(spark, sf_dir, "customer")
    for m in range(n_files):
        (
            cust.filter(F.col("c_custkey") % n_files == m)
            .coalesce(1)
            .write.mode("append")
            .parquet(source_dir)
        )


def _pairs(df):
    return sorted(tuple(r) for r in df.collect())


def test_stream_serves_batch_matches_and_entities(spark, sf_dir, dirs):
    """Three micro-batches split by key residue (so cross-batch pairs
    exist in both key orders — see the dedicated coverage test) must
    serve the batch pair frame and the batch entity assignment
    row-for-row, and a single-batch run of the same corpus must serve
    the identical frame (batching-invariance); reruns and
    identical-batching replays are no-ops."""
    _write_split(spark, sf_dir, dirs["source"])
    ingest = StreamingLinkageIngest(
        spark, dirs["source"], dirs["out"], dirs["ckpt"], max_files_per_trigger=1
    )
    ingest.run_available_now()

    want_pairs = _pairs(customer_fuzzy_matches(spark, sf_dir))
    got_pairs = _pairs(linkage_pairs_from_sink(spark, dirs["out"]))
    assert got_pairs == want_pairs
    assert want_pairs, "test corpus must yield candidate pairs"

    want_ent = _pairs(customer_match_components(spark, sf_dir))
    got_ent = _pairs(linkage_components_from_sink(spark, dirs["out"]))
    assert got_ent == want_ent

    solo = StreamingLinkageIngest(
        spark, dirs["source"], dirs["out"] + "_onebatch", dirs["ckpt"] + "_onebatch"
    )
    solo.run_available_now()
    assert _pairs(linkage_pairs_from_sink(spark, dirs["out"] + "_onebatch")) == want_pairs

    # nothing-new rerun: no change
    ingest.run_available_now()
    assert _pairs(linkage_pairs_from_sink(spark, dirs["out"])) == want_pairs

    # lost checkpoint, identical batching: idempotent partition rewrite
    shutil.rmtree(dirs["ckpt"])
    StreamingLinkageIngest(
        spark, dirs["source"], dirs["out"], dirs["ckpt"], max_files_per_trigger=1
    ).run_available_now()
    assert _pairs(linkage_pairs_from_sink(spark, dirs["out"])) == want_pairs


def test_cross_batch_pairs_cover_both_key_orders(spark, sf_dir, dirs):
    """Batching-invariance is only proven if some pair's SMALLER key
    arrives in a later batch than its partner (the least/greatest
    normalization path) and some pair straddles batches the other way;
    assert the chosen split produces both, so the equality above cannot
    silently degenerate to the ordered self-join regime."""
    _write_split(spark, sf_dir, dirs["source"])
    StreamingLinkageIngest(
        spark, dirs["source"], dirs["out"], dirs["ckpt"], max_files_per_trigger=1
    ).run_available_now()
    # recover each record's batch from the records sink partitions
    rec = (
        spark.read.parquet(dirs["out"] + "/records")
        .select("c_custkey", "ingest_batch")
        .collect()
    )
    batch_of = {r.c_custkey: r.ingest_batch for r in rec}
    crossing = [
        (batch_of[r.key_a], batch_of[r.key_b])
        for r in customer_fuzzy_matches(spark, sf_dir).collect()
        if batch_of[r.key_a] != batch_of[r.key_b]
    ]
    assert any(a < b for a, b in crossing), "need a pair whose larger key arrives later"
    assert any(a > b for a, b in crossing), "need a pair whose smaller key arrives later"


def test_rebatched_replay_is_refused_before_either_sink_mutates(
    spark, sf_dir, dirs
):
    """A lost-checkpoint replay with COARSER batching would double-enter
    records into the seen view and duplicate cross-batch pairs; the
    family ledger must refuse it with both sinks untouched."""
    _write_split(spark, sf_dir, dirs["source"])
    StreamingLinkageIngest(
        spark, dirs["source"], dirs["out"], dirs["ckpt"], max_files_per_trigger=1
    ).run_available_now()
    want = _pairs(linkage_pairs_from_sink(spark, dirs["out"]))

    shutil.rmtree(dirs["ckpt"])
    coarse = StreamingLinkageIngest(spark, dirs["source"], dirs["out"], dirs["ckpt"])
    with pytest.raises(Exception, match="double-count|re-batch"):
        coarse.run_available_now()
    assert _pairs(linkage_pairs_from_sink(spark, dirs["out"])) == want


def test_redelivered_records_do_not_reemit_pairs(spark, sf_dir, dirs):
    """At-least-once sources re-deliver: a later file carrying copies of
    already-ingested records (and a within-file duplicate) must be
    dropped first-wins — the pair sink still equals the batch frame on
    the key-unique corpus and the records sink stays one row per key
    (the components universe depends on it)."""
    cust = load_table(spark, sf_dir, "customer")
    _write_split(spark, sf_dir, dirs["source"], n_files=2)
    # file 3: re-deliveries only — some rows from each residue class,
    # one of them twice in the same file
    dup = cust.filter(F.col("c_custkey") < 20)
    dup.unionByName(dup.limit(3)).coalesce(1).write.mode("append").parquet(
        dirs["source"]
    )
    StreamingLinkageIngest(
        spark, dirs["source"], dirs["out"], dirs["ckpt"], max_files_per_trigger=1
    ).run_available_now()

    assert _pairs(linkage_pairs_from_sink(spark, dirs["out"])) == _pairs(
        customer_fuzzy_matches(spark, sf_dir)
    )
    rec = spark.read.parquet(dirs["out"] + "/records").select("c_custkey").collect()
    keys = [r.c_custkey for r in rec]
    assert len(keys) == len(set(keys)) == cust.count()
    assert _pairs(linkage_components_from_sink(spark, dirs["out"])) == _pairs(
        customer_match_components(spark, sf_dir)
    )


def test_seen_state_survives_records_compaction(spark, sf_dir, dirs):
    """The incremental join's seen side reads through the compaction
    manifest: after compact_sink folds the records table, a new arrival
    that fuzzy-matches an EARLY record must still emit its pair (a plain
    directory read would silently lose the folded seen state while the
    serving reads stayed manifest-aware, masking the recall loss)."""
    from concordium_transaction_logger_spark.streaming.pipeline import (
        compact_sink,
    )

    _write_split(spark, sf_dir, dirs["source"])
    StreamingLinkageIngest(
        spark, dirs["source"], dirs["out"], dirs["ckpt"], max_files_per_trigger=1
    ).run_available_now()
    n_before = len(_pairs(linkage_pairs_from_sink(spark, dirs["out"])))
    compact_sink(spark, dirs["out"], "records")

    # craft a new record one edit away from an existing one, same nation
    base = load_table(spark, sf_dir, "customer")
    r = base.orderBy("c_custkey").first()
    twin = base.filter(F.col("c_custkey") == r.c_custkey).select(
        (F.lit(base.agg(F.max("c_custkey")).first()[0] + 1)).alias("c_custkey"),
        F.concat(
            F.expr("substring(c_name, 1, length(c_name) - 1)"), F.lit("Z")
        ).alias("c_name"),
        "c_nationkey",
        *[c for c in base.columns if c not in ("c_custkey", "c_name", "c_nationkey")],
    )
    twin.coalesce(1).write.mode("append").parquet(dirs["source"])
    StreamingLinkageIngest(
        spark, dirs["source"], dirs["out"], dirs["ckpt"], max_files_per_trigger=1
    ).run_available_now()

    got = _pairs(linkage_pairs_from_sink(spark, dirs["out"]))
    assert len(got) > n_before, "folded seen state must still pair new arrivals"
    new_key = base.agg(F.max("c_custkey")).first()[0] + 1
    assert any(p[1] == new_key and p[0] == r.c_custkey for p in got)


def test_conflicting_redelivery_across_batches_is_refused(spark, sf_dir, dirs):
    """A re-delivery whose payload DIFFERS from the ingested record is
    an update — inexpressible in an append-only pair history — and must
    be refused loudly, not resolved by whichever copy happened to batch
    first (refuse-instead-of-guessing)."""
    cust = load_table(spark, sf_dir, "customer")
    cust.coalesce(1).write.mode("append").parquet(dirs["source"])
    cust.limit(1).withColumn(
        "c_name", F.concat(F.col("c_name"), F.lit("X"))
    ).coalesce(1).write.mode("append").parquet(dirs["source"])
    with pytest.raises(Exception, match="append-only pair history"):
        StreamingLinkageIngest(
            spark, dirs["source"], dirs["out"], dirs["ckpt"], max_files_per_trigger=1
        ).run_available_now()


def test_conflicting_payloads_within_one_batch_are_refused(spark, sf_dir, dirs):
    """Two different payloads for one key inside a single micro-batch
    have no arrival order at all — any pick would be batching-dependent;
    refused before anything is written."""
    cust = load_table(spark, sf_dir, "customer")
    one = cust.limit(1)
    one.unionByName(
        one.withColumn("c_name", F.concat(F.col("c_name"), F.lit("X")))
    ).coalesce(1).write.mode("append").parquet(dirs["source"])
    with pytest.raises(Exception, match="conflicting payloads"):
        StreamingLinkageIngest(
            spark, dirs["source"], dirs["out"], dirs["ckpt"]
        ).run_available_now()
    import os

    assert not os.path.isdir(dirs["out"] + "/records"), "refusal must precede writes"


def test_manifest_naming_missing_version_dir_raises(spark, sf_dir, dirs):
    """An inconsistent compacted records sink (manifest present, version
    directory gone) must raise on the next batch, not read as 'no state
    yet' and silently re-admit every ingested record."""
    from concordium_transaction_logger_spark.streaming.pipeline import (
        compact_sink,
    )

    _write_split(spark, sf_dir, dirs["source"])
    StreamingLinkageIngest(
        spark, dirs["source"], dirs["out"], dirs["ckpt"], max_files_per_trigger=1
    ).run_available_now()
    vdir = compact_sink(spark, dirs["out"], "records")
    shutil.rmtree(vdir)
    load_table(spark, sf_dir, "customer").limit(0).coalesce(1).write.mode(
        "append"
    ).parquet(dirs["source"])
    # force a genuinely new file so a batch actually runs
    load_table(spark, sf_dir, "customer").limit(1).select(
        (F.col("c_custkey") + 10**6).alias("c_custkey"),
        *[c for c in load_table(spark, sf_dir, "customer").columns if c != "c_custkey"],
    ).coalesce(1).write.mode("append").parquet(dirs["source"])
    with pytest.raises(Exception, match="PATH_NOT_FOUND|does not exist"):
        StreamingLinkageIngest(
            spark, dirs["source"], dirs["out"], dirs["ckpt"], max_files_per_trigger=1
        ).run_available_now()


def test_lost_ledger_on_nested_sink_is_refused_pre_ledger(spark, sf_dir, dirs):
    """The pre-ledger 'unverifiable history' refusal must see NESTED
    batch-keyed layouts (records/ + pairs/ one level under the sink
    root): with the _batches ledger lost but partitions surviving, a
    fresh-checkpoint replay must be refused, not treated as a virgin
    sink."""
    _write_split(spark, sf_dir, dirs["source"])
    StreamingLinkageIngest(
        spark, dirs["source"], dirs["out"], dirs["ckpt"], max_files_per_trigger=1
    ).run_available_now()
    shutil.rmtree(dirs["out"] + "/_batches")
    shutil.rmtree(dirs["ckpt"])
    with pytest.raises(Exception, match="predates the re-batching guard"):
        StreamingLinkageIngest(
            spark, dirs["source"], dirs["out"], dirs["ckpt"], max_files_per_trigger=1
        ).run_available_now()


def test_recall_guard_fires_at_construction(spark, dirs):
    """The batch query's recall guard (max_distance must fit the block's
    fuzz window) applies before any state exists, not on the Nth batch."""
    with pytest.raises(ValueError, match="BLOCK_SUFFIX"):
        StreamingLinkageIngest(
            spark,
            dirs["source"],
            dirs["out"],
            dirs["ckpt"],
            max_distance=99,
        )


def test_seen_side_reads_are_partition_pruned(spark, sf_dir, dirs):
    """The r7-verdict 100 TB gap, closed: both per-batch seen-side reads
    must PRUNE AT THE DIRECTORY LEVEL to the hash buckets the batch's
    own keys touch — the bucket predicates land in the scan's
    PartitionFilters (with nothing left in DataFilters), and the rows
    returned equal an independent full-scan filter, so pruning is
    exactness-preserving, not best-effort."""
    from pyspark.sql import functions as F2

    _write_split(spark, sf_dir, dirs["source"])
    ingest = StreamingLinkageIngest(
        spark, dirs["source"], dirs["out"], dirs["ckpt"], max_files_per_trigger=1
    )
    ingest.run_available_now()

    full_blocks = spark.read.parquet(dirs["out"] + "/blocks")
    some_bb = full_blocks.select("bb").distinct().head(2)
    assert len(some_bb) == 2, "need >1 bucket for pruning to mean anything"
    bbs = [some_bb[0][0]]
    pruned = ingest._seen_blocks(before_batch=3, bbs=bbs)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    scan = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert scan and "bb" in scan[0], "bb predicate must prune partitions"
    assert "DataFilters: []" in scan[0], (
        "the bucket predicate must not degrade to a post-scan data filter"
    )
    want = (
        full_blocks.filter(F2.col("bb").isin(bbs))
        .drop("ingest_batch", "bb")
        .collect()
    )
    assert sorted(map(tuple, pruned.collect())) == sorted(map(tuple, want))

    full_records = spark.read.parquet(dirs["out"] + "/records")
    kbs = [full_records.select("kb").distinct().head(1)[0][0]]
    pruned_k = ingest._seen_keys(before_batch=3, kbs=kbs)
    plan_k = pruned_k._jdf.queryExecution().executedPlan().toString()
    scan_k = [l for l in plan_k.splitlines() if "PartitionFilters" in l]
    assert scan_k and "kb" in scan_k[0]
    assert "DataFilters: []" in scan_k[0]
    want_k = (
        full_records.filter(F2.col("kb").isin(kbs))
        .select("c_custkey", "name", "c_nationkey")
        .collect()
    )
    assert sorted(map(tuple, pruned_k.collect())) == sorted(map(tuple, want_k))

    # empty bucket set (a batch of pure re-deliveries): no scan at all
    assert ingest._seen_blocks(before_batch=3, bbs=[]).count() == 0
    assert ingest._seen_keys(before_batch=3, kbs=[]).count() == 0


def test_evidence_and_verdict_served_from_sink_equal_batch(spark, sf_dir, dirs):
    """The scoring/decision layers served from the pair sink: once the
    stream has consumed the corpus, evidence and verdict over the
    served pairs + the current customer attributes must equal the
    batch customer_match_evidence / customer_match_verdict frames
    row-for-row — both sides run the ONE match_evidence_over /
    verdict_over kernels, so this pins that the sink's pair set (not
    just its keys) feeds the scorer losslessly, and that every band is
    exercised end-to-end through the served path at driver scale's
    little sibling."""
    from concordium_transaction_logger_spark.operators.linkage import (
        customer_match_evidence,
        customer_match_verdict,
    )
    from concordium_transaction_logger_spark.streaming.pipeline import (
        linkage_evidence_from_sink,
        linkage_verdict_from_sink,
    )

    _write_split(spark, sf_dir, dirs["source"])
    StreamingLinkageIngest(
        spark, dirs["source"], dirs["out"], dirs["ckpt"], max_files_per_trigger=1
    ).run_available_now()
    cust = load_table(spark, sf_dir, "customer")

    got_ev = _pairs(linkage_evidence_from_sink(spark, dirs["out"], cust))
    assert got_ev == _pairs(customer_match_evidence(spark, sf_dir))
    assert got_ev, "corpus must yield evidence rows"

    got_vd = _pairs(linkage_verdict_from_sink(spark, dirs["out"], cust))
    assert got_vd == _pairs(customer_match_verdict(spark, sf_dir))
    assert len({r[-1] for r in got_vd}) > 1, "bands must be exercised"


def test_legacy_sink_without_layout_sidecar_is_refused(spark, sf_dir, dirs):
    """A sink written BEFORE the layout pin existed holds data but no
    _layout.json (r8 ADVICE): its rows predate the bucket columns, so a
    writer that silently pinned a fresh layout over it would read the
    legacy seen rows with bucket = NULL, prune every one of them out of
    both probes, and lose prior state without a sound — records
    re-admitted, conflicts undetected, cross-batch pairs never emitted.
    Simulated by deleting the sidecar from a healthy sink: the next
    writer must refuse before mutating anything, naming the remedy."""
    import os

    _write_split(spark, sf_dir, dirs["source"])
    StreamingLinkageIngest(
        spark, dirs["source"], dirs["out"], dirs["ckpt"], max_files_per_trigger=1
    ).run_available_now()
    want = _pairs(linkage_pairs_from_sink(spark, dirs["out"]))
    os.remove(dirs["out"] + "/_layout.json")

    # lost-checkpoint replay over the now-sidecar-less sink: the
    # batching ledger would wave the identical replay through, so the
    # layout pin is the gate that must catch it
    shutil.rmtree(dirs["ckpt"])
    with pytest.raises(Exception, match="predates the layout pin"):
        StreamingLinkageIngest(
            spark, dirs["source"], dirs["out"], dirs["ckpt"], max_files_per_trigger=1
        ).run_available_now()
    assert _pairs(linkage_pairs_from_sink(spark, dirs["out"])) == want


def test_keyless_layout_sidecar_is_refused(spark, sf_dir, dirs):
    """A ``_layout.json`` that pins only ``n_buckets`` (no block-key
    provider) does not say which key built the blocks, so it is a layout
    mismatch like any other: the next writer is refused before it
    mutates the sink, never assumed to be the prefix provider."""
    import json
    import os

    _write_split(spark, sf_dir, dirs["source"])
    StreamingLinkageIngest(
        spark, dirs["source"], dirs["out"], dirs["ckpt"], max_files_per_trigger=1
    ).run_available_now()
    want = _pairs(linkage_pairs_from_sink(spark, dirs["out"]))
    with open(os.path.join(dirs["out"], "_layout.json"), "w") as fh:
        json.dump({"n_buckets": 64}, fh)

    load_table(spark, sf_dir, "customer").limit(1).select(
        (F.col("c_custkey") + 10**6).alias("c_custkey"),
        *[c for c in load_table(spark, sf_dir, "customer").columns if c != "c_custkey"],
    ).coalesce(1).write.mode("append").parquet(dirs["source"])
    with pytest.raises(Exception, match="was written with layout"):
        StreamingLinkageIngest(
            spark, dirs["source"], dirs["out"], dirs["ckpt"], max_files_per_trigger=1
        ).run_available_now()
    assert _pairs(linkage_pairs_from_sink(spark, dirs["out"])) == want


def test_mismatched_bucket_count_is_refused_before_writing(spark, sf_dir, dirs):
    """n_buckets is pinned at first write: a writer constructed with a
    different count would prune seen-state reads against the wrong
    layout and silently MISS rows (re-admitting records, dropping
    cross-batch pairs — fail-open); it must be refused with the sink
    untouched."""
    _write_split(spark, sf_dir, dirs["source"])
    StreamingLinkageIngest(
        spark, dirs["source"], dirs["out"], dirs["ckpt"], max_files_per_trigger=1
    ).run_available_now()
    want = _pairs(linkage_pairs_from_sink(spark, dirs["out"]))

    load_table(spark, sf_dir, "customer").limit(1).select(
        (F.col("c_custkey") + 10**6).alias("c_custkey"),
        *[c for c in load_table(spark, sf_dir, "customer").columns if c != "c_custkey"],
    ).coalesce(1).write.mode("append").parquet(dirs["source"])
    with pytest.raises(Exception, match="n_buckets"):
        StreamingLinkageIngest(
            spark,
            dirs["source"],
            dirs["out"],
            dirs["ckpt"],
            max_files_per_trigger=1,
            n_buckets=8,
        ).run_available_now()
    assert _pairs(linkage_pairs_from_sink(spark, dirs["out"])) == want


def test_seen_state_survives_blocks_compaction(spark, sf_dir, dirs):
    """The verify join's seen side now reads the blocks/ index; after
    compact_sink folds it (bucket directories become plain columns),
    a new arrival matching an EARLY record must still emit its pair —
    the manifest-aware read plus the bb DATA filter over the folded
    span must stay exactness-preserving."""
    from concordium_transaction_logger_spark.streaming.pipeline import (
        compact_sink,
    )

    _write_split(spark, sf_dir, dirs["source"])
    StreamingLinkageIngest(
        spark, dirs["source"], dirs["out"], dirs["ckpt"], max_files_per_trigger=1
    ).run_available_now()
    n_before = len(_pairs(linkage_pairs_from_sink(spark, dirs["out"])))
    compact_sink(spark, dirs["out"], "blocks")
    compact_sink(spark, dirs["out"], "records")

    base = load_table(spark, sf_dir, "customer")
    r = base.orderBy("c_custkey").first()
    twin = base.filter(F.col("c_custkey") == r.c_custkey).select(
        (F.lit(base.agg(F.max("c_custkey")).first()[0] + 1)).alias("c_custkey"),
        F.concat(
            F.expr("substring(c_name, 1, length(c_name) - 1)"), F.lit("Z")
        ).alias("c_name"),
        "c_nationkey",
        *[c for c in base.columns if c not in ("c_custkey", "c_name", "c_nationkey")],
    )
    twin.coalesce(1).write.mode("append").parquet(dirs["source"])
    StreamingLinkageIngest(
        spark, dirs["source"], dirs["out"], dirs["ckpt"], max_files_per_trigger=1
    ).run_available_now()

    got = _pairs(linkage_pairs_from_sink(spark, dirs["out"]))
    assert len(got) > n_before, "folded seen state must still pair new arrivals"
    new_key = base.agg(F.max("c_custkey")).first()[0] + 1
    assert any(p[1] == new_key and p[0] == r.c_custkey for p in got)


def test_compacted_linkage_sink_probes_stay_pruned_and_exact(
    spark, sf_dir, dirs
):
    """The compaction LIFECYCLE claim SCALE.md makes for this sink (r8
    verdict stretch): compact_sink folds the bucket directories into
    plain data columns, and the seen-side probes must then (a) stay
    EXACT — a new arrival pairing with an early, folded record still
    emits its pair — and (b) stay PRUNED, with parquet row-group
    min/max stats taking over from directory pruning: the kb/bb bucket
    predicates turn into pushed DATA filters, and a bucket-clustered
    zorder_by fold confines any single bucket to a bounded subset of
    the compacted files. Without the re-clustering the fold would be
    arrival-ordered and a bucket probe would touch ~every file — the
    same motivation as the events-table z-order test."""
    import os

    import pyarrow.parquet as pq

    from concordium_transaction_logger_spark.streaming.pipeline import (
        compact_sink,
    )

    _write_split(spark, sf_dir, dirs["source"])
    ingest = StreamingLinkageIngest(
        spark, dirs["source"], dirs["out"], dirs["ckpt"], max_files_per_trigger=1
    )
    ingest.run_available_now()
    n_before = len(_pairs(linkage_pairs_from_sink(spark, dirs["out"])))

    n_files = 8
    rdir = compact_sink(
        spark,
        dirs["out"],
        "records",
        target_files=n_files,
        zorder_by=("kb", "c_custkey"),
    )
    bdir = compact_sink(
        spark,
        dirs["out"],
        "blocks",
        target_files=n_files,
        zorder_by=("bb", "c_custkey"),
    )

    # (b) pruning: the bucket predicate reaches the compacted scan as a
    # pushed parquet filter ... (probe the LEAST-POPULATED bucket: at
    # this corpus size the prefix provider yields only two distinct
    # block keys — TPC-H names differ in their last digits — so the
    # majority bb value legitimately spans most files; the pruning
    # claim is that stats confine a bucket to the files that hold it,
    # which the rare bucket demonstrates without depending on the
    # corpus's value skew)
    def rare(vdir, col):
        rows = spark.read.parquet(vdir).groupBy(col).count().collect()
        return min(rows, key=lambda r: r["count"])[col]

    probe_kb = rare(rdir, "kb")
    plan = (
        ingest._seen_keys(before_batch=10, kbs=[probe_kb])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    pushed = [
        l for l in plan.splitlines() if "PushedFilters" in l and "kb" in l
    ]
    assert pushed, "kb probe must push into the compacted parquet scan"

    # ... and the fold's footer stats actually confine a bucket to a
    # bounded subset of the files (the row-group-stats-take-over claim)
    def hits(vdir, col, val):
        ranges = []
        for f in os.listdir(vdir):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(vdir, f)).metadata
            idx = md.schema.names.index(col)
            lo = min(
                md.row_group(g).column(idx).statistics.min
                for g in range(md.num_row_groups)
            )
            hi = max(
                md.row_group(g).column(idx).statistics.max
                for g in range(md.num_row_groups)
            )
            ranges.append((lo, hi))
        return [r for r in ranges if r[0] <= val <= r[1]], ranges

    probe_bb = rare(bdir, "bb")
    for vdir, col, val in ((rdir, "kb", probe_kb), (bdir, "bb", probe_bb)):
        hit, ranges = hits(vdir, col, val)
        assert len(ranges) >= n_files // 2, "fold must produce the file budget"
        assert len(hit) <= len(ranges) // 2, (
            f"bucket-clustered fold should confine {col}={val} to at most "
            f"half the files, hit {len(hit)}/{len(ranges)}"
        )

    # (a) exactness across the re-clustered fold: a twin of an early
    # record must still find its folded partner
    base = load_table(spark, sf_dir, "customer")
    r = base.orderBy("c_custkey").first()
    new_key = base.agg(F.max("c_custkey")).first()[0] + 1
    twin = base.filter(F.col("c_custkey") == r.c_custkey).select(
        F.lit(new_key).alias("c_custkey"),
        F.concat(
            F.expr("substring(c_name, 1, length(c_name) - 1)"), F.lit("Z")
        ).alias("c_name"),
        "c_nationkey",
        *[c for c in base.columns if c not in ("c_custkey", "c_name", "c_nationkey")],
    )
    twin.coalesce(1).write.mode("append").parquet(dirs["source"])
    StreamingLinkageIngest(
        spark, dirs["source"], dirs["out"], dirs["ckpt"], max_files_per_trigger=1
    ).run_available_now()
    got = _pairs(linkage_pairs_from_sink(spark, dirs["out"]))
    assert len(got) > n_before
    assert any(p[0] == r.c_custkey and p[1] == new_key for p in got)


def test_minhash_provider_streams_equal_to_batch(spark, sf_dir, dirs):
    """Provider pluggability through the STREAMING twin: with
    key='minhash_band' the sink must serve exactly the batch
    customer_fuzzy_matches_minhash frame for a split arrival (band
    providers emit several block rows per record, so this exercises the
    multi-band admission/verify path and the exactly-once fold of
    band-duplicated pairs), including cross-batch pairs found in a band
    the within-batch self-join never saw.

    The stream implements the UNCAPPED provider (the corpus-level band
    cap is not incrementally computable — a band crossing the cap as
    records arrive would need retroactive re-keying of already-written
    block state), so the batch reference is band_cap=None; the capped
    DEFAULT coincides at this corpus size (no band exceeds
    MINHASH_BAND_CAP — asserted, so this test fails loudly if the test
    corpus ever outgrows that)."""
    from concordium_transaction_logger_spark.operators.linkage import (
        customer_fuzzy_matches_minhash,
    )

    _write_split(spark, sf_dir, dirs["source"])
    StreamingLinkageIngest(
        spark,
        dirs["source"],
        dirs["out"],
        dirs["ckpt"],
        max_files_per_trigger=1,
        key="minhash_band",
    ).run_available_now()
    want = _pairs(customer_fuzzy_matches_minhash(spark, sf_dir, band_cap=None))
    assert want, "test corpus must yield minhash candidate pairs"
    assert want == _pairs(customer_fuzzy_matches_minhash(spark, sf_dir)), (
        "the cap binds at this corpus size — the stream/batch equality "
        "below only covers the uncapped provider; revisit the reference"
    )
    got = _pairs(linkage_pairs_from_sink(spark, dirs["out"]))
    assert got == want
    # records stay one row per key even though blocks multiply
    rec = spark.read.parquet(dirs["out"] + "/records").select("c_custkey").collect()
    keys = [r.c_custkey for r in rec]
    assert len(keys) == len(set(keys))
    blocks = spark.read.parquet(dirs["out"] + "/blocks").count()
    assert blocks > len(keys), "band provider must emit >1 block row per record"

    # a nothing-new rerun stays a no-op
    StreamingLinkageIngest(
        spark,
        dirs["source"],
        dirs["out"],
        dirs["ckpt"],
        max_files_per_trigger=1,
        key="minhash_band",
    ).run_available_now()
    assert _pairs(linkage_pairs_from_sink(spark, dirs["out"])) == want


def test_mismatched_key_provider_is_refused_before_writing(spark, sf_dir, dirs):
    """The layout pin covers the PROVIDER too: a writer with a different
    block key would verify new records against blocks built under the
    old key — silently missing pairs — and must be refused with the
    sink untouched."""
    _write_split(spark, sf_dir, dirs["source"])
    StreamingLinkageIngest(
        spark, dirs["source"], dirs["out"], dirs["ckpt"], max_files_per_trigger=1
    ).run_available_now()
    want = _pairs(linkage_pairs_from_sink(spark, dirs["out"]))

    load_table(spark, sf_dir, "customer").limit(1).select(
        (F.col("c_custkey") + 10**6).alias("c_custkey"),
        *[c for c in load_table(spark, sf_dir, "customer").columns if c != "c_custkey"],
    ).coalesce(1).write.mode("append").parquet(dirs["source"])
    with pytest.raises(Exception, match="block-key provider|layout"):
        StreamingLinkageIngest(
            spark,
            dirs["source"],
            dirs["out"],
            dirs["ckpt"],
            max_files_per_trigger=1,
            key="minhash_band",
        ).run_available_now()
    assert _pairs(linkage_pairs_from_sink(spark, dirs["out"])) == want


def test_unknown_provider_refused_at_construction(spark, dirs):
    with pytest.raises(ValueError, match="block-key provider"):
        StreamingLinkageIngest(
            spark, dirs["source"], dirs["out"], dirs["ckpt"], key="soundex"
        )


def test_serving_twins_survive_sink_compaction(spark, sf_dir, dirs):
    """The compaction lifecycle extended to the merge queue's CONSUMERS:
    after compact_sink folds the pairs and records views, every
    sink-served ER stage — evidence, verdict, components, golden record,
    field odds, estimated verdict — must still equal its batch frame
    row-for-row. The serving reads ride the same manifest-aware
    _sink_view as the admission probes, so a fold (which rewrites
    the table into a fresh version directory and swaps the manifest)
    must be invisible to everything downstream of the sink — this pins
    that no serving path accidentally reads the raw directory layout
    the fold just dropped."""
    from concordium_transaction_logger_spark.operators.linkage import (
        customer_golden_record,
        customer_match_evidence,
        customer_match_field_odds,
    )
    from concordium_transaction_logger_spark.streaming.pipeline import (
        compact_sink,
        linkage_components_from_sink,
        linkage_evidence_from_sink,
        linkage_field_odds_from_sink,
        linkage_golden_from_sink,
    )

    _write_split(spark, sf_dir, dirs["source"])
    StreamingLinkageIngest(
        spark, dirs["source"], dirs["out"], dirs["ckpt"], max_files_per_trigger=1
    ).run_available_now()
    compact_sink(spark, dirs["out"], "pairs", target_files=2)
    compact_sink(spark, dirs["out"], "records", target_files=2)
    cust = load_table(spark, sf_dir, "customer")

    assert _pairs(linkage_evidence_from_sink(spark, dirs["out"], cust)) == (
        _pairs(customer_match_evidence(spark, sf_dir))
    )
    assert _pairs(linkage_components_from_sink(spark, dirs["out"])) == (
        _pairs(customer_match_components(spark, sf_dir))
    )
    assert _pairs(linkage_golden_from_sink(spark, dirs["out"], cust)) == (
        _pairs(customer_golden_record(spark, sf_dir))
    )
    assert _pairs(linkage_field_odds_from_sink(spark, dirs["out"], cust)) == (
        _pairs(customer_match_field_odds(spark, sf_dir))
    )


def test_golden_record_served_from_sink_equals_batch(spark, sf_dir, dirs):
    """The MERGE served from the sink (the last batch ER stage to get a
    streaming twin): once the stream has consumed the corpus, golden-
    record survivorship over the served entity assignment + current
    customer attributes must equal the batch customer_golden_record
    row-for-row — both sides run the ONE _entity_frame /
    golden_record_over kernels, so merged balances, member counts and
    survivor names cannot drift between the merge queue's served view
    and the batch job."""
    from concordium_transaction_logger_spark.operators.linkage import (
        customer_golden_record,
    )
    from concordium_transaction_logger_spark.streaming.pipeline import (
        linkage_golden_from_sink,
    )

    _write_split(spark, sf_dir, dirs["source"])
    StreamingLinkageIngest(
        spark, dirs["source"], dirs["out"], dirs["ckpt"], max_files_per_trigger=1
    ).run_available_now()
    cust = load_table(spark, sf_dir, "customer")

    got = _pairs(linkage_golden_from_sink(spark, dirs["out"], cust))
    assert got == _pairs(customer_golden_record(spark, sf_dir))
    assert any(r[1] > 1 for r in got), "corpus must yield a real merge"


def test_field_odds_and_estimated_verdict_served_from_sink_equal_batch(
    spark, sf_dir, dirs
):
    """The estimator loop served from the sink (the r9 verdict's last
    'capability seam'): once the stream has consumed the corpus, the
    m/u field-odds estimate over the served evidence + records universe
    must equal the batch customer_match_field_odds row-for-row, and the
    estimated-weights verdict must equal customer_match_verdict_estimated
    — both sides run the ONE field_odds_over / estimated_weights_over /
    estimated_verdict_over kernels, so with this pair of twins EVERY
    batch ER stage has a sink-served sibling that cannot drift."""
    from concordium_transaction_logger_spark.operators.linkage import (
        customer_match_field_odds,
        customer_match_verdict_estimated,
    )
    from concordium_transaction_logger_spark.streaming.pipeline import (
        linkage_field_odds_from_sink,
        linkage_verdict_estimated_from_sink,
    )

    _write_split(spark, sf_dir, dirs["source"])
    StreamingLinkageIngest(
        spark, dirs["source"], dirs["out"], dirs["ckpt"], max_files_per_trigger=1
    ).run_available_now()
    cust = load_table(spark, sf_dir, "customer")

    got_odds = _pairs(linkage_field_odds_from_sink(spark, dirs["out"], cust))
    assert got_odds == _pairs(customer_match_field_odds(spark, sf_dir))
    assert len(got_odds) == 3, "one served row per estimated field"

    got_est = _pairs(linkage_verdict_estimated_from_sink(spark, dirs["out"], cust))
    assert got_est == _pairs(customer_match_verdict_estimated(spark, sf_dir))
    assert got_est, "corpus must yield estimated verdicts"


def test_serving_with_partial_customer_frame_is_refused(spark, sf_dir, dirs):
    """The fail-closed coverage gate (r9 ADVICE): serving evidence,
    verdicts or golden records against a customer frame that is missing
    a served record must RAISE at execution, not silently drop the pair
    from the merge queue (evidence/verdict) or emit a wrong merged
    balance (golden record). The stale-snapshot caller is simulated by
    withholding one custkey that the sink has seen and paired."""
    from concordium_transaction_logger_spark.operators.linkage import (
        customer_fuzzy_matches,
    )
    from concordium_transaction_logger_spark.streaming.pipeline import (
        linkage_evidence_from_sink,
        linkage_field_odds_from_sink,
        linkage_golden_from_sink,
        linkage_verdict_estimated_from_sink,
        linkage_verdict_from_sink,
    )

    _write_split(spark, sf_dir, dirs["source"])
    StreamingLinkageIngest(
        spark, dirs["source"], dirs["out"], dirs["ckpt"], max_files_per_trigger=1
    ).run_available_now()
    cust = load_table(spark, sf_dir, "customer")
    a_paired_key = customer_fuzzy_matches(spark, sf_dir).collect()[0].key_a
    partial = cust.filter(F.col("c_custkey") != a_paired_key)

    for serve in (
        linkage_evidence_from_sink,
        linkage_verdict_from_sink,
        linkage_golden_from_sink,
        linkage_field_odds_from_sink,
        linkage_verdict_estimated_from_sink,
    ):
        with pytest.raises(Exception, match="fail-closed"):
            serve(spark, dirs["out"], partial).collect()

    # the full frame still serves: the gate costs nothing when coverage
    # holds (and the evidence twin's row count is unchanged)
    assert linkage_evidence_from_sink(spark, dirs["out"], cust).count() == (
        customer_fuzzy_matches(spark, sf_dir).count()
    )
