"""Streaming ingest tests: stream/batch equivalence, incremental arrival,
exactly-once restart (SURVEY §5.3-§5.4)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from concordium_transaction_logger_spark.ingest import derive
from concordium_transaction_logger_spark.sources.tables import load_table
from concordium_transaction_logger_spark.streaming.pipeline import (
    StreamingIngest,
    bindings_from_sink,
    read_sink,
    supply_from_sink,
)


@pytest.fixture()
def dirs(tmp_path):
    return {
        "source": str(tmp_path / "source"),
        "out": str(tmp_path / "out"),
        "ckpt": str(tmp_path / "ckpt"),
    }


def _stage_events(spark, sf_dir, source_dir, upto: int):
    """Write events[event_id < upto] as one new parquet file (simulated
    finalized-feed arrival)."""
    events = load_table(spark, sf_dir, "events")
    (
        events.filter(F.col("event_id") < upto)
        .coalesce(1)
        .write.mode("append")
        .parquet(source_dir)
    )


def _sorted_rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_stream_matches_batch(spark, sf_dir, dirs):
    events = load_table(spark, sf_dir, "events")
    n_users = events.agg(F.max("user_id")).first()[0] + 1

    _stage_events(spark, sf_dir, dirs["source"], 10**9)
    ingest = StreamingIngest(spark, dirs["source"], dirs["out"], dirs["ckpt"], n_users)
    ingest.run_available_now()

    feed = derive.block_feed(spark, sf_dir)
    batch_summaries = derive.summaries(feed)
    stream_summaries = read_sink(spark, dirs["out"], "summaries")
    cols = ["id", "block", "ts_ms", "height", "summary", "sender"]
    assert _sorted_rows(stream_summaries, cols) == _sorted_rows(batch_summaries, cols)

    assert _sorted_rows(
        supply_from_sink(spark, dirs["out"]), ["idx", "subidx", "token_id", "total_supply"]
    ) == _sorted_rows(
        derive.cis2_tokens(feed), ["idx", "subidx", "token_id", "total_supply"]
    )

    bcols = ["address", "public_key", "credential_index", "key_index", "is_simple_account"]
    assert _sorted_rows(bindings_from_sink(spark, dirs["out"]), bcols) == _sorted_rows(
        derive.key_bindings(feed), bcols
    )


def test_incremental_arrival_no_dupes(spark, sf_dir, dirs):
    events = load_table(spark, sf_dir, "events")
    n_users = events.agg(F.max("user_id")).first()[0] + 1
    total = events.count()

    # First file arrives, stream consumes it.
    _stage_events(spark, sf_dir, dirs["source"], 300)
    ingest = StreamingIngest(spark, dirs["source"], dirs["out"], dirs["ckpt"], n_users)
    ingest.run_available_now()
    assert read_sink(spark, dirs["out"], "summaries").count() == 300

    # Second file arrives; restart from checkpoint — only new data consumed.
    events.filter(F.col("event_id") >= 300).coalesce(1).write.mode("append").parquet(
        dirs["source"]
    )
    StreamingIngest(
        spark, dirs["source"], dirs["out"], dirs["ckpt"], n_users
    ).run_available_now()

    got = read_sink(spark, dirs["out"], "summaries")
    assert got.count() == total
    # each source row indexed exactly once:
    assert got.select("id").distinct().count() == total


def test_strict_ingest_rejects_unknown_event_type(spark, sf_dir, dirs):
    """Forward-compat hard-fail (main.rs:332-341): an event type the
    derivation rules don't know must abort the ingest, not silently write
    a partial interpretation. The read path stays lenient (P7) — the
    strict/lenient asymmetry is the reference's contract."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    events = load_table(spark, sf_dir, "events")
    n_users = events.agg(F.max("user_id")).first()[0] + 1
    poisoned = events.limit(50).withColumn(
        "event_type",
        F.when(F.col("event_id") % 7 == 0, F.lit("refund")).otherwise(
            F.col("event_type")
        ),
    )
    poisoned.coalesce(1).write.mode("append").parquet(dirs["source"])
    ingest = StreamingIngest(spark, dirs["source"], dirs["out"], dirs["ckpt"], n_users)
    with pytest.raises((StreamingQueryException, ValueError)) as err:
        ingest.run_available_now()
    assert "refund" in str(err.value)


def test_stream_static_enrichment_matches_batch(spark, sf_dir, dirs):
    """The J2 canonical-address resolution as a stream-static broadcast
    join: streaming the feed in two files must resolve every aliased
    address to the same canonical form the batch resolver produces, with
    zero misses (the dimension covers the whole user universe)."""
    from concordium_transaction_logger_spark.functions.addresses import (
        canonical_resolution,
    )
    from concordium_transaction_logger_spark.streaming.pipeline import (
        StreamingEnrichment,
    )

    events = load_table(spark, sf_dir, "events")
    n_users = events.agg(F.max("user_id")).first()[0] + 1
    # The static dimension: every account's canonical md5-derived address.
    feed = derive.block_feed(spark, sf_dir)
    acct = F.col("account").cast("string")
    accounts = (
        derive.ati(feed)
        .select(
            F.concat(
                F.unhex(F.md5(acct)), F.unhex(F.md5(F.concat(acct, F.lit("x"))))
            ).alias("canonical_address")
        )
        .distinct()
    )

    _stage_events(spark, sf_dir, dirs["source"], 300)
    events.filter(F.col("event_id") >= 300).coalesce(1).write.mode("append").parquet(
        dirs["source"]
    )
    enrich = StreamingEnrichment(
        spark, dirs["source"], dirs["out"], dirs["ckpt"], accounts, n_users
    )
    enrich.run_available_now()

    got = spark.read.parquet(dirs["out"])
    assert got.filter(F.col("is_miss")).count() == 0
    batch = canonical_resolution(spark, sf_dir)
    assert _sorted_rows(
        got.select("id", "canonical_hex"), ["id", "canonical_hex"]
    ) == _sorted_rows(batch, ["id", "canonical_hex"])


def test_stream_stream_join_matches_batch(spark, sf_dir, dirs):
    """The watermarked stream-stream interval join must produce exactly
    the pairs the equivalent batch inner join produces — purchases
    attributed to same-user clicks within the preceding 5 minutes."""
    from concordium_transaction_logger_spark.streaming.pipeline import (
        StreamStreamAttribution,
    )

    events = load_table(spark, sf_dir, "events")
    _stage_events(spark, sf_dir, dirs["source"], 10**9)
    StreamStreamAttribution(
        spark, dirs["source"], dirs["out"], dirs["ckpt"], window_ms=300_000
    ).run_available_now()
    got = spark.read.parquet(dirs["out"])

    ev = events.select(
        "event_id", "user_id", "event_type", F.expr("ts DIV 1000000").alias("ts_ms")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event_id"),
        F.col("user_id").alias("user_id"),
        F.col("ts_ms").alias("p_ms"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_event_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts_ms").alias("c_ms"),
    )
    batch = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ms") <= F.col("p_ms"))
        & (F.col("c_ms") >= F.col("p_ms") - 300_000),
    ).select(
        "p_event_id", "c_event_id", "user_id", (F.col("p_ms") - F.col("c_ms")).alias("gap_ms")
    )
    cols = ["p_event_id", "c_event_id", "user_id", "gap_ms"]
    assert _sorted_rows(got, cols) == _sorted_rows(batch, cols)
    assert got.count() > 0


def test_restart_is_idempotent(spark, sf_dir, dirs):
    """Re-running with an intact checkpoint must not duplicate anything
    (ST2: resume from offset, main.rs:577-588)."""
    events = load_table(spark, sf_dir, "events")
    n_users = events.agg(F.max("user_id")).first()[0] + 1
    _stage_events(spark, sf_dir, dirs["source"], 10**9)

    ingest = StreamingIngest(spark, dirs["source"], dirs["out"], dirs["ckpt"], n_users)
    ingest.run_available_now()
    first = read_sink(spark, dirs["out"], "summaries").count()

    ingest.run_available_now()  # nothing new
    assert read_sink(spark, dirs["out"], "summaries").count() == first

    # Lost-checkpoint replay: batches rerun, but dynamic partition
    # overwrite keeps the sink exactly-once.
    shutil.rmtree(dirs["ckpt"])
    StreamingIngest(
        spark, dirs["source"], dirs["out"], dirs["ckpt"], n_users
    ).run_available_now()
    assert read_sink(spark, dirs["out"], "summaries").count() == first


def test_compact_sink_preserves_rows(spark, sf_dir, dirs):
    import glob
    import os

    from concordium_transaction_logger_spark.streaming.pipeline import compact_sink

    events = load_table(spark, sf_dir, "events")
    n_users = events.agg(F.max("user_id")).first()[0] + 1
    # several micro-batches => several file sets (disjoint slices)
    for lo, hi in ((0, 300), (300, 600), (600, 10**9)):
        events.filter(
            (F.col("event_id") >= lo) & (F.col("event_id") < hi)
        ).coalesce(1).write.mode("append").parquet(dirs["source"])
    StreamingIngest(
        spark, dirs["source"], dirs["out"], dirs["ckpt"], n_users, max_files_per_trigger=1
    ).run_available_now()

    from concordium_transaction_logger_spark.streaming.pipeline import read_sink

    path = os.path.join(dirs["out"], "summaries")
    before_rows = sorted(r.id for r in spark.read.parquet(path).select("id").collect())
    before_files = len(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    assert before_files > 2, "multiple batches should leave multiple file sets"

    live = compact_sink(spark, dirs["out"], "summaries", target_files=1)
    after_rows = sorted(
        r.id for r in read_sink(spark, dirs["out"], "summaries").select("id").collect()
    )
    after_files = len(glob.glob(os.path.join(live, "**", "*.parquet"), recursive=True))
    assert after_rows == before_rows
    assert after_files == 1


def test_streaming_dedup_drops_cross_batch_redelivery(spark, sf_dir, dirs):
    """An at-least-once source re-delivers a whole segment; the
    watermark-bounded dedup state must drop every replayed id even when
    the duplicate arrives in a LATER micro-batch."""
    from concordium_transaction_logger_spark.streaming.pipeline import StreamingDedup

    events = load_table(spark, sf_dir, "events")
    # batch 1: ids < 400; batch 2: ids 200..600 (200-399 re-delivered)
    for lo, hi in ((0, 400), (200, 600)):
        (
            events.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))
            .coalesce(1)
            .write.mode("append")
            .parquet(dirs["source"])
        )
    StreamingDedup(
        spark,
        dirs["source"],
        dirs["out"],
        dirs["ckpt"],
        within="90 days",  # > corpus event-time span => dedup is exact
        max_files_per_trigger=1,  # force the duplicates into a later batch
    ).run_available_now()

    out = spark.read.parquet(dirs["out"])
    ids = [r.event_id for r in out.select("event_id").collect()]
    assert len(ids) == len(set(ids)), "duplicate ids survived dedup"
    expect = {
        r.event_id
        for r in events.filter(F.col("event_id") < 600).select("event_id").collect()
    }
    assert set(ids) == expect
    # the replayed segment really did span micro-batches
    assert out.select("ingest_batch").distinct().count() > 1


def test_strict_ingest_rejects_null_event_type(spark, sf_dir, dirs):
    """NULL is just as unknown as a novel variant: ``~isin`` alone is
    NULL for NULL and would let a NULL-typed event slide through the
    abort gate (main.rs:332-341 knows no NULL variant either)."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    events = load_table(spark, sf_dir, "events")
    n_users = events.agg(F.max("user_id")).first()[0] + 1
    poisoned = events.limit(50).withColumn(
        "event_type",
        F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("string")).otherwise(
            F.col("event_type")
        ),
    )
    poisoned.coalesce(1).write.mode("append").parquet(dirs["source"])
    ingest = StreamingIngest(spark, dirs["source"], dirs["out"], dirs["ckpt"], n_users)
    with pytest.raises((StreamingQueryException, ValueError)):
        ingest.run_available_now()


def test_stream_stream_join_multi_batch_matches_batch(spark, sf_dir, dirs):
    """The attribution join under REAL micro-batching: the feed arrives
    as four time-contiguous files consumed one per trigger, with the
    LAST click of each segment deliberately deferred to the next file —
    file order is not event-time order. The watermark (window + slack on
    both sides, slack = the staged disorder) must keep those clicks
    joinable; a 0-second watermark silently drops them as late input.
    Result must equal the batch inner join exactly."""
    from concordium_transaction_logger_spark.streaming.pipeline import (
        StreamStreamAttribution,
    )

    events = load_table(spark, sf_dir, "events")
    n = events.count()
    seg = n // 4 + 1
    segments = []
    for i in range(4):
        segments.append(
            events.filter(
                (F.col("event_id") >= i * seg) & (F.col("event_id") < (i + 1) * seg)
            )
        )
    os.makedirs(dirs["source"], exist_ok=True)
    n_deferred, max_disorder_ms = 0, 0
    for i, part in enumerate(segments):
        end_ms = part.agg(F.max(F.expr("ts DIV 1000000"))).first()[0]
        last_click_ms = (
            part.filter(F.col("event_type") == "click")
            .agg(F.max(F.expr("ts DIV 1000000")))
            .first()[0]
        )
        late_clicks = part.filter(
            (F.col("event_type") == "click")
            & (F.expr("ts DIV 1000000") == last_click_ms)
        )
        if i + 1 < len(segments) and last_click_ms is not None:
            n_deferred += late_clicks.count()
            max_disorder_ms = max(max_disorder_ms, end_ms - last_click_ms)
            segments[i + 1] = segments[i + 1].unionByName(late_clicks)
            part_out = part.join(
                late_clicks.select("event_id"), "event_id", "left_anti"
            )
        else:
            part_out = part
        part_out.coalesce(1).write.mode("append").parquet(
            os.path.join(dirs["source"], f"seg{i}.parquet")
        )
    assert n_deferred > 0, "staging must actually defer clicks across batches"

    StreamStreamAttribution(
        spark,
        dirs["source"] + "/*",
        dirs["out"],
        dirs["ckpt"],
        window_ms=300_000,
        max_files_per_trigger=1,
        slack_ms=max_disorder_ms + 1_000,
    ).run_available_now()
    got = spark.read.parquet(dirs["out"])

    ev = events.select(
        "event_id", "user_id", "event_type", F.expr("ts DIV 1000000").alias("ts_ms")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event_id"),
        F.col("user_id").alias("user_id"),
        F.col("ts_ms").alias("p_ms"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_event_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts_ms").alias("c_ms"),
    )
    batch = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ms") <= F.col("p_ms"))
        & (F.col("c_ms") >= F.col("p_ms") - 300_000),
    ).select(
        "p_event_id", "c_event_id", "user_id", (F.col("p_ms") - F.col("c_ms")).alias("gap_ms")
    )
    cols = ["p_event_id", "c_event_id", "user_id", "gap_ms"]
    assert _sorted_rows(got, cols) == _sorted_rows(batch, cols)
    assert got.count() > 0


def test_streaming_ingest_normalizes_timestamp_vintage(spark, sf_dir, dirs, tmp_path):
    """A timestamp-vintage corpus (``ts`` as TIMESTAMP, not INT64 nanos)
    fed straight to the STREAMING source must produce the same sink rows
    as the nanos-vintage feed — the ts normalization lives in the shared
    reader, not only in batch load_table."""
    events = load_table(spark, sf_dir, "events")
    n_users = events.agg(F.max("user_id")).first()[0] + 1
    vintage = events.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    vintage.coalesce(1).write.mode("append").parquet(dirs["source"])

    ingest = StreamingIngest(spark, dirs["source"], dirs["out"], dirs["ckpt"], n_users)
    ingest.run_available_now()

    feed = derive.block_feed(spark, sf_dir)
    batch_summaries = derive.summaries(feed)
    stream_summaries = read_sink(spark, dirs["out"], "summaries")
    cols = ["id", "block", "ts_ms", "height", "summary", "sender"]
    assert _sorted_rows(stream_summaries, cols) == _sorted_rows(batch_summaries, cols)


@pytest.mark.slow
def test_sf01_all_five_sinks_match_batch_with_crash_replay(spark, dirs):
    """sf0.1 end-to-end: the feed arrives as three time-contiguous files
    consumed as separate micro-batches; ALL FIVE sink tables must equal
    the batch derivation row-for-row, and a lost-checkpoint full replay
    (the crash-recovery worst case) must leave every sink unchanged
    (ST2: idempotent batch-keyed partition overwrite)."""
    sf_dir = "/root/testdata/sf0.1"
    events = load_table(spark, sf_dir, "events")
    n_users = events.agg(F.max("user_id")).first()[0] + 1
    n = events.agg(F.max("event_id")).first()[0] + 1
    for i in range(3):
        (
            events.filter(
                (F.col("event_id") >= i * n // 3)
                & (F.col("event_id") < (i + 1) * n // 3)
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(dirs["source"])
        )
    StreamingIngest(
        spark, dirs["source"], dirs["out"], dirs["ckpt"], n_users,
        max_files_per_trigger=1,
    ).run_available_now()

    feed = derive.block_feed(spark, sf_dir)
    batch = {
        "summaries": (derive.summaries(feed), ["id", "block", "ts_ms", "height", "summary", "sender"]),
        "ati": (derive.ati(feed), ["id", "account", "summary"]),
        "cti": (derive.cti(feed), ["id", "idx", "subidx", "summary"]),
        "cis2_events": (derive.cis2_events(feed), ["idx", "subidx", "token_id", "amount", "summary"]),
        "bindings_all": (derive.key_bindings_all(feed), ["address", "public_key", "credential_index", "key_index", "is_simple_account", "event_id"]),
    }

    def check_all():
        for name, (want, cols) in batch.items():
            got = read_sink(spark, dirs["out"], name)
            assert _sorted_rows(got, cols) == _sorted_rows(want, cols), name

    check_all()
    # crash recovery worst case: checkpoint lost, everything replays —
    # dynamic partition overwrite keeps each sink exactly-once.
    shutil.rmtree(dirs["ckpt"])
    StreamingIngest(
        spark, dirs["source"], dirs["out"], dirs["ckpt"], n_users,
        max_files_per_trigger=1,
    ).run_available_now()
    check_all()


def test_streaming_corpus_ingest_dedups_across_batches(spark, sf_dir, dirs):
    """The streaming exact-dedup corpus ingest: batch 1 delivers the base
    corpus; batch 2 delivers re-crawls of old documents (same text, new
    doc_ids — must be dropped), genuinely new documents (admitted), and
    an intra-batch duplicate pair (min-id member admitted). A second run
    and a lost-checkpoint replay must change nothing."""
    from concordium_transaction_logger_spark.streaming.pipeline import (
        StreamingCorpusIngest,
        corpus_snapshot,
    )

    docs = load_table(spark, sf_dir, "documents")
    base_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    top = max(base_ids)
    recrawls = (
        docs.orderBy("doc_id")
        .limit(10)
        .select(
            (F.col("doc_id") + top + 1).alias("doc_id"),
            "text", "lang", "source", "n_chars",
        )
    )
    novel = docs.orderBy("doc_id").limit(3).select(
        (F.col("doc_id") + top + 100).alias("doc_id"),
        F.concat(F.lit("novel "), F.col("doc_id").cast("string"), F.lit(" "), F.col("text")).alias("text"),
        "lang", "source", "n_chars",
    )
    twin_text = "an intra batch duplicate twin text"
    twins = spark.createDataFrame(
        [(top + 200, twin_text, "en", "web", len(twin_text)),
         (top + 201, twin_text, "en", "web", len(twin_text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(1).write.mode("append").parquet(dirs["source"])
    batch2 = recrawls.unionByName(novel).unionByName(twins)
    batch2.coalesce(1).write.mode("append").parquet(dirs["source"])

    ingest = StreamingCorpusIngest(
        spark, dirs["source"], dirs["out"], dirs["ckpt"], max_files_per_trigger=1
    )
    ingest.run_available_now()

    want = base_ids | {r["doc_id"] for r in novel.collect()} | {top + 200}
    got = {r["doc_id"] for r in corpus_snapshot(spark, dirs["out"]).collect()}
    assert got == want  # re-crawls dropped, novel admitted, twin min-id kept
    # dropped duplicates are LOGGED, not silently discarded — cross-batch
    # re-crawls and the intra-batch twin loser all carry exact_dup rows
    rejects = {
        (r["doc_id"], r["reason"])
        for r in spark.read.parquet(dirs["out"] + "_rejects").collect()
    }
    dropped = {r["doc_id"] for r in recrawls.collect()} | {top + 201}
    assert {(d, "exact_dup") for d in dropped} <= rejects

    # idempotence: nothing new + lost-checkpoint replay
    ingest.run_available_now()
    assert {r["doc_id"] for r in corpus_snapshot(spark, dirs["out"]).collect()} == want
    shutil.rmtree(dirs["ckpt"])
    StreamingCorpusIngest(
        spark, dirs["source"], dirs["out"], dirs["ckpt"], max_files_per_trigger=1
    ).run_available_now()
    assert {r["doc_id"] for r in corpus_snapshot(spark, dirs["out"]).collect()} == want


def test_wide_supply_from_sink_matches_batch_wide(spark, sf_dir, dirs):
    """The sink-table wide rollup equals the batch wide path string-for-
    string (and therefore the narrow path value-for-value in range)."""
    from concordium_transaction_logger_spark.streaming.pipeline import (
        wide_supply_from_sink,
    )

    events = load_table(spark, sf_dir, "events")
    n_users = events.agg(F.max("user_id")).first()[0] + 1
    _stage_events(spark, sf_dir, dirs["source"], 10**9)
    StreamingIngest(
        spark, dirs["source"], dirs["out"], dirs["ckpt"], n_users
    ).run_available_now()

    cols = ["idx", "subidx", "token_id", "total_supply"]
    got = _sorted_rows(wide_supply_from_sink(spark, dirs["out"]), cols)
    want = _sorted_rows(
        derive.cis2_tokens_wide(derive.block_feed(spark, sf_dir)), cols
    )
    assert got == want and got


def test_streaming_curation_ingest_gates_before_dedup(spark, sf_dir, dirs):
    """quality_gate=True: rejected documents (by the SAME rules as the
    batch doc_quality_gate) never enter the corpus or the dedup state,
    and land in the rejects sink with their first-failing-rule reason."""
    from concordium_transaction_logger_spark.operators import textstats
    from concordium_transaction_logger_spark.streaming.pipeline import (
        StreamingCorpusIngest,
        corpus_snapshot,
    )

    docs = load_table(spark, sf_dir, "documents")
    top = docs.agg(F.max("doc_id")).first()[0]
    poisoned = spark.createDataFrame(
        [
            (top + 1, "tiny", "en", "web", 4),  # too_short
            (top + 2, "1234567890 " * 30, "en", "web", 330),  # digit_heavy or low_alpha
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.unionByName(poisoned).coalesce(1).write.mode("append").parquet(
        dirs["source"]
    )
    StreamingCorpusIngest(
        spark, dirs["source"], dirs["out"], dirs["ckpt"], quality_gate=True
    ).run_available_now()

    got_ids = {r["doc_id"] for r in corpus_snapshot(spark, dirs["out"]).collect()}
    assert top + 1 not in got_ids and top + 2 not in got_ids
    rejects = {
        r["doc_id"]: r["reason"]
        for r in spark.read.parquet(dirs["out"] + "_rejects").collect()
    }
    assert rejects[top + 1] == "too_short"
    assert top + 2 in rejects
    # batch-gate agreement: every admitted doc passed the batch gate too
    batch_ok = {
        r["doc_id"]
        for r in textstats.quality_gate(spark, sf_dir).collect()
        if r["accept"]
    }
    assert got_ids <= batch_ok


def test_streaming_pii_redaction_matches_batch_and_survives_reconcile(
    spark, sf_dir, dirs
):
    """pii_redact=True: admitted rows carry clean_text/n_pii produced by
    the SAME shared expressions as the batch doc_pii_redact/doc_pii_stats
    (textstats.pii_redact_expr/_pii_total); raw text stays in the sink so
    dedup fingerprints and the reconciler are unperturbed; and a
    reconcile() rewrite re-derives the projection so the sink schema and
    values survive it."""
    from concordium_transaction_logger_spark.operators import textstats
    from concordium_transaction_logger_spark.streaming.pipeline import (
        StreamingCorpusIngest,
        corpus_snapshot,
    )

    docs = load_table(spark, sf_dir, "documents")
    top = docs.agg(F.max("doc_id")).first()[0]
    pii_docs = spark.createDataFrame(
        [
            (
                top + 1,
                "write to alice@example.com or call 555-123-4567 today "
                "because this perfectly ordinary sentence keeps the "
                "quality gate happy with plenty of alphabetic words",
                "en",
                "web",
                150,
            ),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.filter(F.col("doc_id") < 200).coalesce(1).write.mode("append").parquet(
        dirs["source"]
    )
    pii_docs.coalesce(1).write.mode("append").parquet(dirs["source"])
    ingest = StreamingCorpusIngest(
        spark,
        dirs["source"],
        dirs["out"],
        dirs["ckpt"],
        max_files_per_trigger=1,
        quality_gate=True,
        near_dup=True,
        pii_redact=True,
    )
    ingest.run_available_now()

    def check_sink():
        rows = {r["doc_id"]: r for r in corpus_snapshot(spark, dirs["out"]).collect()}
        assert rows, "documents must have been admitted"
        synth = rows[top + 1]
        assert "<EMAIL>" in synth["clean_text"] and "<PHONE>" in synth["clean_text"]
        assert "alice@example.com" not in synth["clean_text"]
        assert synth["n_pii"] == 2
        assert "alice@example.com" in synth["text"], "raw text must stay"
        # every admitted real doc matches the batch redaction/counts
        batch_clean = {
            r["doc_id"]: r["clean_text"]
            for r in textstats.pii_redact(spark, sf_dir).collect()
        }
        batch_n = {
            r["doc_id"]: r["n_pii"] for r in textstats.pii_stats(spark, sf_dir).collect()
        }
        for did, r in rows.items():
            if did <= top:
                assert r["clean_text"] == batch_clean[did]
                assert r["n_pii"] == batch_n[did]

    check_sink()
    ingest.reconcile()
    check_sink()


def test_streaming_ingest_survives_an_all_rejected_first_batch(spark, sf_dir, dirs):
    """A micro-batch whose every document fails the quality gate leaves
    the corpus/bucket/span state sinks as file-less directories (an empty
    partitioned write emits no parquet files). Later batches must read
    those as empty state, not die with UNABLE_TO_INFER_SCHEMA — a crasher
    that also survives restarts, since the empty directory persists."""
    from concordium_transaction_logger_spark.streaming.pipeline import (
        StreamingCorpusIngest,
        corpus_snapshot,
    )

    docs = load_table(spark, sf_dir, "documents")
    top = docs.agg(F.max("doc_id")).first()[0]
    junk = spark.createDataFrame(
        [(top + 1 + i, "tiny", "en", "web", 4) for i in range(3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    # file 1: all rejected by the gate -> empty corpus + empty state sinks
    junk.coalesce(1).write.mode("append").parquet(dirs["source"])
    # file 2: real documents, processed as a LATER batch
    docs.filter(F.col("doc_id") < 100).coalesce(1).write.mode("append").parquet(
        dirs["source"]
    )
    StreamingCorpusIngest(
        spark,
        dirs["source"],
        dirs["out"],
        dirs["ckpt"],
        max_files_per_trigger=1,
        quality_gate=True,
        near_dup=True,
        span_dedup=True,
    ).run_available_now()
    got = {r["doc_id"] for r in corpus_snapshot(spark, dirs["out"]).collect()}
    assert got, "second batch must have been admitted"
    assert all(d <= top for d in got)


def test_compact_sink_manifest_swap_never_hides_the_table(
    spark, sf_dir, dirs, monkeypatch
):
    """The round-5 manifest-pointer protocol: a reader resolving at ANY
    instant sees either the old version or the new one, never a missing
    table. Concretely: (a) a crash exactly at the pointer swap leaves the
    old version live and unharmed; (b) after a successful swap, a reader
    that resolved the OLD pointer before compaction still completes its
    scan (the previous version is retained); (c) the next compaction GCs
    superseded versions; rows are preserved exactly throughout."""
    import os as _os

    from concordium_transaction_logger_spark.streaming import pipeline as pl

    events = load_table(spark, sf_dir, "events")
    n_users = events.agg(F.max("user_id")).first()[0] + 1
    for lo, hi in ((0, 500), (500, 10**9)):
        events.filter(
            (F.col("event_id") >= lo) & (F.col("event_id") < hi)
        ).coalesce(1).write.mode("append").parquet(dirs["source"])
    StreamingIngest(
        spark, dirs["source"], dirs["out"], dirs["ckpt"], n_users, max_files_per_trigger=1
    ).run_available_now()

    path = os.path.join(dirs["out"], "summaries")
    want = sorted(r.id for r in spark.read.parquet(path).select("id").collect())

    # a reader that resolves the PRE-compaction pointer
    old_df = pl.read_sink(spark, dirs["out"], "summaries").select("id")

    # (a) crash exactly at the atomic pointer swap
    real_rename = _os.rename

    def dying_rename(src, dst):
        if dst.endswith(".MANIFEST"):
            raise RuntimeError("simulated crash at pointer swap")
        return real_rename(src, dst)

    monkeypatch.setattr(pl.os, "rename", dying_rename)
    with pytest.raises(RuntimeError, match="pointer swap"):
        pl.compact_sink(spark, dirs["out"], "summaries", target_files=1)
    # the table never went missing: no manifest, plain dir intact
    assert not _os.path.isfile(path + ".MANIFEST")
    got = sorted(
        r.id for r in pl.read_sink(spark, dirs["out"], "summaries").select("id").collect()
    )
    assert got == want

    # (b) successful compaction: new pointer live, old reader unharmed
    monkeypatch.setattr(pl.os, "rename", real_rename)
    live = pl.compact_sink(spark, dirs["out"], "summaries", target_files=1)
    assert _os.path.isdir(live) and _os.path.isfile(path + ".MANIFEST")
    assert sorted(
        r.id for r in pl.read_sink(spark, dirs["out"], "summaries").select("id").collect()
    ) == want
    assert sorted(r.id for r in old_df.collect()) == want, (
        "in-flight reader on the old pointer must finish its scan"
    )
    assert _os.path.isdir(path), "previous version retained for in-flight readers"

    # (c) next compaction GCs the superseded plain dir and crash orphans
    live2 = pl.compact_sink(spark, dirs["out"], "summaries", target_files=1)
    assert live2 != live
    assert not _os.path.isdir(path), "superseded plain dir GC'd"
    assert _os.path.isdir(live), "immediately-previous version retained"
    assert sorted(
        r.id for r in pl.read_sink(spark, dirs["out"], "summaries").select("id").collect()
    ) == want


def test_compact_sink_keeps_post_compaction_appends(spark, sf_dir, dirs):
    """A stream resumed AFTER a compaction keeps appending batch-keyed
    partitions to the plain directory — those rows must stay visible to
    ``read_sink`` (manifest hwm + live union), be folded into the next
    version, and never be GC'd before folding (the round-5 review found
    the first manifest protocol silently hid and then deleted them)."""
    import os as _os

    from concordium_transaction_logger_spark.streaming import pipeline as pl

    events = load_table(spark, sf_dir, "events")
    n_users = events.agg(F.max("user_id")).first()[0] + 1
    events.filter(F.col("event_id") < 400).coalesce(1).write.mode("append").parquet(
        dirs["source"]
    )
    StreamingIngest(
        spark, dirs["source"], dirs["out"], dirs["ckpt"], n_users
    ).run_available_now()
    first = {r.id for r in read_sink(spark, dirs["out"], "summaries").select("id").collect()}

    pl.compact_sink(spark, dirs["out"], "summaries", target_files=1)

    # the stream resumes on the same checkpoint and appends new batches
    events.filter(F.col("event_id") >= 400).coalesce(1).write.mode("append").parquet(
        dirs["source"]
    )
    StreamingIngest(
        spark, dirs["source"], dirs["out"], dirs["ckpt"], n_users
    ).run_available_now()

    want = {
        r.id for r in derive.summaries(derive.block_feed(spark, sf_dir)).select("id").collect()
    }
    got = {r.id for r in read_sink(spark, dirs["out"], "summaries").select("id").collect()}
    assert got == want, "post-compaction appends must stay visible"
    assert got > first

    # the next compactions fold the appends in and eventually GC the
    # folded plain partitions — rows preserved exactly throughout
    for _ in range(2):
        pl.compact_sink(spark, dirs["out"], "summaries", target_files=1)
        got = {
            r.id for r in read_sink(spark, dirs["out"], "summaries").select("id").collect()
        }
        assert got == want
    path = _os.path.join(dirs["out"], "summaries")
    assert not _os.path.isdir(path) or not any(
        d.startswith("ingest_batch=") for d in _os.listdir(path)
    ), "fully-folded plain partitions GC'd"

    # a crashed/concurrent writer's _temporary staging DIRECTORY in the
    # plain dir must not crash the cleanup (files-only marker sweep) —
    # and must survive it
    _os.makedirs(path, exist_ok=True)
    _os.makedirs(_os.path.join(path, "_temporary"), exist_ok=True)
    pl.compact_sink(spark, dirs["out"], "summaries", target_files=1)
    assert _os.path.isdir(_os.path.join(path, "_temporary")), (
        "a writer's staging dir is never deleted by compaction"
    )
    got = {r.id for r in read_sink(spark, dirs["out"], "summaries").select("id").collect()}
    assert got == want


def _write_event_batches(spark, sf_dir, out, batches):
    """Land ``events`` split by ``event_id % 3`` as the given batch ids
    of a batch-keyed ``<out>/events`` sink, through the sink writer."""
    from concordium_transaction_logger_spark.streaming.pipeline import (
        _write_batch_partition,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    for b in batches:
        _write_batch_partition(
            ev.filter(F.col("event_id") % 3 == b), b, os.path.join(out, "events")
        )


def test_read_sink_schema_is_stable_across_compaction(spark, sf_dir, tmp_path):
    """``ingest_batch`` reads as long before and after a compaction:
    partition discovery types the plain directory's key int, the
    compacted version stores it as a long data column, and a consumer's
    schema must not depend on which of the two it happened to read."""
    from pyspark.sql.types import LongType

    from concordium_transaction_logger_spark.streaming.pipeline import compact_sink

    out = str(tmp_path / "sink")
    _write_event_batches(spark, sf_dir, out, [0, 1])
    before = read_sink(spark, out, "events").schema
    assert before["ingest_batch"].dataType == LongType()
    compact_sink(spark, out, "events")
    assert read_sink(spark, out, "events").schema == before
    _write_event_batches(spark, sf_dir, out, [2])
    assert read_sink(spark, out, "events").schema == before


def test_single_field_manifest_is_refused(spark, sf_dir, tmp_path):
    """A manifest without the batch high-water mark (version name only)
    cannot separate folded rows from live partitions, so neither the
    reader nor the compactor may guess: both refuse, naming the reset
    remedy, and leave the manifest and version directory untouched."""
    from concordium_transaction_logger_spark.streaming.pipeline import compact_sink

    out = str(tmp_path / "sink")
    _write_event_batches(spark, sf_dir, out, [0, 1])
    vdir = compact_sink(spark, out, "events")
    manifest = os.path.join(out, "events.MANIFEST")
    with open(manifest, "w") as f:
        f.write(os.path.basename(vdir)[len("events.") :])
    for call in (read_sink, compact_sink):
        with pytest.raises(ValueError, match="reset the sink and checkpoint"):
            call(spark, out, "events")
    with open(manifest) as f:
        assert f.read().split() == [os.path.basename(vdir)[len("events.") :]]
    assert os.path.isdir(vdir)


def test_partition_overwrite_mode_is_spelled_only_in_the_writer():
    """Every dynamic partition overwrite in the package goes through
    ``_write_batch_partition``; the only other spelling of the option is
    ``reconcile()``'s static overwrite. A new sink that copies the write
    instead of calling the writer fails here."""
    import ast
    import pathlib

    import concordium_transaction_logger_spark as pkg

    sites = []
    for f in sorted(pathlib.Path(pkg.__file__).parent.rglob("*.py")):
        tree = ast.parse(f.read_text())
        # innermost enclosing function per node (ast.walk is breadth-first,
        # so an inner def overwrites its outer one)
        owner = {}
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for node in ast.walk(fn):
                    owner[node] = fn.name
        for call in ast.walk(tree):
            if isinstance(call, ast.Call) and any(
                isinstance(a, ast.Constant)
                and isinstance(a.value, str)
                and "partitionOverwriteMode" in a.value
                for a in call.args
            ):
                sites.append((f.name, owner.get(call, "<module>")))
    assert sorted(sites) == [
        ("pipeline.py", "_write_batch_partition"),
        ("pipeline.py", "reconcile"),
    ], sites


def test_tail_follow_works_across_compactions(spark, sf_dir, dirs):
    """ST9 tail-read on a compacted sink: after compactions have folded
    (and GC'd) every plain partition, a follower must still attach —
    schema comes from the manifest version — and see rows the resumed
    stream appends next."""
    from concordium_transaction_logger_spark.streaming.pipeline import (
        compact_sink,
        tail_follow,
    )

    events = load_table(spark, sf_dir, "events")
    n_users = events.agg(F.max("user_id")).first()[0] + 1
    events.filter(F.col("event_id") < 600).coalesce(1).write.mode("append").parquet(
        dirs["source"]
    )
    StreamingIngest(
        spark, dirs["source"], dirs["out"], dirs["ckpt"], n_users
    ).run_available_now()
    high = max(
        r.id for r in read_sink(spark, dirs["out"], "summaries").select("id").collect()
    )
    # two compactions: the second GCs every folded plain partition
    compact_sink(spark, dirs["out"], "summaries", target_files=1)
    compact_sink(spark, dirs["out"], "summaries", target_files=1)

    stream = tail_follow(spark, dirs["out"], from_id=high)

    # stream resumes: new summaries append to the (recreated) plain dir
    events.filter(F.col("event_id") >= 600).coalesce(1).write.mode("append").parquet(
        dirs["source"]
    )
    StreamingIngest(
        spark, dirs["source"], dirs["out"], dirs["ckpt"], n_users
    ).run_available_now()

    q = (
        stream.writeStream.format("memory")
        .queryName("tail_compacted")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT id FROM tail_compacted").collect()
    assert rows and all(r.id > high for r in rows)
    assert len(rows) == events.filter(F.col("event_id") >= 600).count()


def test_streaming_near_dup_admission_matches_batch_survivors(spark, sf_dir, dirs):
    """near_dup=True: after a full multi-batch id-ordered replay, the
    admitted corpus equals the batch ``dedup_survivors`` keeper set — a
    near-duplicate arriving batches after its keeper is rejected by the
    band-bucket state, not just exact re-crawls. Rejections are logged
    (no silent drops), and a lost-checkpoint replay changes nothing."""
    from concordium_transaction_logger_spark.operators import dedup
    from concordium_transaction_logger_spark.streaming.pipeline import (
        StreamingCorpusIngest,
        corpus_snapshot,
    )

    docs = load_table(spark, sf_dir, "documents")
    # three doc_id-ordered slices -> separate micro-batches, so near-dup
    # pairs straddle batch boundaries
    for lo, hi in ((0, 150), (150, 350), (350, 10**9)):
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).coalesce(
            1
        ).write.mode("append").parquet(dirs["source"])
    StreamingCorpusIngest(
        spark,
        dirs["source"],
        dirs["out"],
        dirs["ckpt"],
        max_files_per_trigger=1,
        near_dup=True,
    ).run_available_now()

    got = {r["doc_id"] for r in corpus_snapshot(spark, dirs["out"]).collect()}
    want = {r["doc_id"] for r in dedup.dedup_survivors(spark, sf_dir).collect()}
    assert got == want
    # every loser is in the reject log, attributed to the dedup layer
    # that caught it: exact twins as exact_dup (the more specific reason
    # takes precedence), the rest as near_dup
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    rej_rows = spark.read.parquet(dirs["out"] + "_rejects").collect()
    rejected = {r["doc_id"] for r in rej_rows}
    assert rejected and rejected == all_ids - want
    assert {r["reason"] for r in rej_rows} <= {"exact_dup", "near_dup"}
    assert any(r["reason"] == "near_dup" for r in rej_rows)
    # at least one rejection crossed a batch boundary (keeper in an
    # earlier slice), else the cross-batch state did no work
    assert any(d >= 150 for d in rejected)

    # lost-checkpoint replay is idempotent
    shutil.rmtree(dirs["ckpt"])
    StreamingCorpusIngest(
        spark,
        dirs["source"],
        dirs["out"],
        dirs["ckpt"],
        max_files_per_trigger=1,
        near_dup=True,
    ).run_available_now()
    assert {r["doc_id"] for r in corpus_snapshot(spark, dirs["out"]).collect()} == want


def test_rate_source_ingest_matches_batch_derivation(spark, dirs):
    """The unbounded-source twin: a live rate stream ingested through the
    inherited per-batch derivation must land sinks row-identical to the
    batch derivation over the same value range reconstructed with
    spark.range — the proof that only the readStream line separates file
    replay from a genuinely unbounded source. The ingested id set is a
    contiguous prefix (rate values are sequential and batches commit in
    order), so the batch twin is range(0, n_seen)."""
    from concordium_transaction_logger_spark.streaming.pipeline import (
        SINKS,
        RateSourceIngest,
    )

    ing = RateSourceIngest(
        spark, dirs["out"], dirs["ckpt"], n_users=97, rows_per_second=4000
    )
    got_rows = ing.run_until(min_rows=2000, timeout_s=120)
    assert got_rows >= 2000

    sunk = spark.read.parquet(os.path.join(dirs["out"], "summaries"))
    ids = sorted(r.id for r in sunk.select("id").collect())
    n = len(ids)
    assert ids == list(range(n)), "ingested ids must be a contiguous prefix"

    events = RateSourceIngest.events_for_values(spark.range(0, n).select(F.col("id").alias("value")), 97)
    feed = derive.feed_from_events(events, n_users=97)
    want = {
        "summaries": derive.summaries(feed),
        "ati": derive.ati(feed),
        "cti": derive.cti(feed),
        "cis2_events": derive.cis2_events(feed),
        "bindings_all": derive.key_bindings_all(feed),
    }
    for name in SINKS:
        got_df = spark.read.parquet(os.path.join(dirs["out"], name)).drop("ingest_batch")
        cols = sorted(got_df.columns)
        got = sorted(tuple(r) for r in got_df.select(*cols).collect())
        exp = sorted(tuple(r) for r in want[name].select(*cols).collect())
        assert got == exp, f"sink {name} diverged from batch derivation"


def test_streaming_curation_with_near_dup_composes(spark, sf_dir, dirs):
    """quality_gate + near_dup together: gate-rejected docs never enter
    the bucket state (a rejected doc must not block a later clean doc),
    near-dup rejects and gate rejects share the reject log with distinct
    reasons, and the admitted set equals batch survivors over the GATED
    corpus."""
    from concordium_transaction_logger_spark.operators import dedup, textstats
    from concordium_transaction_logger_spark.streaming.pipeline import (
        StreamingCorpusIngest,
        corpus_snapshot,
    )

    docs = load_table(spark, sf_dir, "documents")
    top = docs.agg(F.max("doc_id")).first()[0]
    # a gate-failing doc whose text would otherwise near-dup a later doc
    poisoned = spark.createDataFrame(
        [(top + 1, "tiny", "en", "web", 4)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    staged = docs.unionByName(poisoned)
    for lo, hi in ((0, 250), (250, 10**9)):
        staged.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).coalesce(
            1
        ).write.mode("append").parquet(dirs["source"])
    StreamingCorpusIngest(
        spark,
        dirs["source"],
        dirs["out"],
        dirs["ckpt"],
        max_files_per_trigger=1,
        quality_gate=True,
        near_dup=True,
    ).run_available_now()

    got = {r["doc_id"] for r in corpus_snapshot(spark, dirs["out"]).collect()}
    rejects = {
        r["doc_id"]: r["reason"]
        for r in spark.read.parquet(dirs["out"] + "_rejects").collect()
    }
    assert rejects[top + 1] == "too_short"  # gate reason, not near_dup
    # gate-rejected docs never entered the bucket state
    buckets = spark.read.parquet(dirs["out"] + "_buckets")
    assert buckets.filter(F.col("doc_id") == top + 1).count() == 0
    # admitted set = batch survivors among gate-passing docs (the corpus
    # itself is all gate-passing, so this equals plain survivors)
    batch_ok = {
        r["doc_id"] for r in textstats.quality_gate(spark, sf_dir).collect() if r["accept"]
    }
    want = {
        r["doc_id"] for r in dedup.dedup_survivors(spark, sf_dir).collect()
    } & batch_ok
    assert got == want
    assert {d for d, why in rejects.items() if why == "near_dup"} == (
        batch_ok - want
    )


def test_rate_source_restart_resumes_exactly_once(spark, dirs):
    """Stop the live stream, restart from the same checkpoint: ingestion
    resumes at the next unseen value — ids stay contiguous and unique
    across the restart (ST2 on an unbounded source)."""
    from concordium_transaction_logger_spark.streaming.pipeline import (
        RateSourceIngest,
    )

    ing = RateSourceIngest(
        spark, dirs["out"], dirs["ckpt"], n_users=97, rows_per_second=4000
    )
    ing.run_until(min_rows=1500, timeout_s=120)
    first = spark.read.parquet(os.path.join(dirs["out"], "summaries")).count()

    ing2 = RateSourceIngest(
        spark, dirs["out"], dirs["ckpt"], n_users=97, rows_per_second=4000
    )
    ing2.run_until(min_rows=1500, timeout_s=120)
    sunk = spark.read.parquet(os.path.join(dirs["out"], "summaries"))
    ids = sorted(r.id for r in sunk.select("id").collect())
    assert len(ids) > first, "restart must ingest new rows"
    assert ids == list(range(len(ids))), "no gaps, no duplicates across restart"


def test_streaming_span_admission_matches_batch_verdict(spark, sf_dir, dirs):
    """span_dedup=True: after a full multi-batch id-ordered replay, the
    admitted corpus equals the batch ``span_admission`` 'admit' set —
    "earlier document" is batch-boundary-free because the seen-window
    state carries the min doc_id per window hash across batches. A doc
    mostly assembled from spans first seen batches earlier is rejected
    with the span_dup reason; a lost-checkpoint replay changes nothing."""
    from concordium_transaction_logger_spark.operators import dedup
    from concordium_transaction_logger_spark.streaming.pipeline import (
        StreamingCorpusIngest,
        corpus_snapshot,
    )

    docs = load_table(spark, sf_dir, "documents")
    for lo, hi in ((0, 150), (150, 350), (350, 10**9)):
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).coalesce(
            1
        ).write.mode("append").parquet(dirs["source"])
    StreamingCorpusIngest(
        spark,
        dirs["source"],
        dirs["out"],
        dirs["ckpt"],
        max_files_per_trigger=1,
        span_dedup=True,
    ).run_available_now()

    verdicts = dedup.span_admission(spark, sf_dir).collect()
    want = {r["doc_id"] for r in verdicts if r["verdict"] == "admit"}
    got = {r["doc_id"] for r in corpus_snapshot(spark, dirs["out"]).collect()}
    assert got == want
    rejected = {
        r["doc_id"]
        for r in spark.read.parquet(dirs["out"] + "_rejects")
        .filter(F.col("reason") == "span_dup")
        .collect()
    }
    assert rejected == {r["doc_id"] for r in verdicts if r["verdict"] == "reject"}
    # cross-batch rejections must exist, else the span state did no work
    assert any(d >= 150 for d in rejected)

    # lost-checkpoint replay is idempotent
    shutil.rmtree(dirs["ckpt"])
    StreamingCorpusIngest(
        spark,
        dirs["source"],
        dirs["out"],
        dirs["ckpt"],
        max_files_per_trigger=1,
        span_dedup=True,
    ).run_available_now()
    assert {r["doc_id"] for r in corpus_snapshot(spark, dirs["out"]).collect()} == want


def test_streaming_span_admission_out_of_order_is_permissive_only(spark, sf_dir, dirs):
    """Out-of-id-order delivery can only MISS rejections (a smaller-id
    twin that has not arrived yet cannot charge the current doc), never
    over-reject: streaming admitted ⊇ batch admitted, streaming rejects
    ⊆ batch rejects. This is the documented safety direction of the
    one-pass contract — content the batch keeps is never dropped."""
    from concordium_transaction_logger_spark.operators import dedup
    from concordium_transaction_logger_spark.streaming.pipeline import (
        StreamingCorpusIngest,
        corpus_snapshot,
    )

    docs = load_table(spark, sf_dir, "documents")
    # reversed slice order: high ids arrive first
    for lo, hi in ((350, 10**9), (150, 350), (0, 150)):
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).coalesce(
            1
        ).write.mode("append").parquet(dirs["source"])
    StreamingCorpusIngest(
        spark,
        dirs["source"],
        dirs["out"],
        dirs["ckpt"],
        max_files_per_trigger=1,
        span_dedup=True,
    ).run_available_now()

    batch_admit = {
        r["doc_id"]
        for r in dedup.span_admission(spark, sf_dir).collect()
        if r["verdict"] == "admit"
    }
    got = {r["doc_id"] for r in corpus_snapshot(spark, dirs["out"]).collect()}
    assert got >= batch_admit
    import os as _os

    rej_dir = dirs["out"] + "_rejects"
    rejected = (
        {
            r["doc_id"]
            for r in spark.read.parquet(rej_dir)
            .filter(F.col("reason") == "span_dup")
            .collect()
        }
        if _os.path.isdir(rej_dir)
        else set()
    )
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert rejected <= (all_ids - batch_admit)


def test_reconcile_converges_disordered_near_dup_to_batch_survivors(
    spark, sf_dir, dirs
):
    """THE reconciler contract (round-5): deliver the corpus in REVERSED
    id order with maxFilesPerTrigger=1, plus an exact twin of a small-id
    keeper injected into the FIRST (highest) slice — so the greedy
    one-pass admission both over-admits near-dups (the late keeper can't
    retro-reject its earlier-arrived mates) AND wrongly rejects the true
    exact keeper when it finally arrives (its fingerprint is already
    seen). ``reconcile()`` must re-run the batch verdict over the seen
    corpus — retracting the wrong admits and resurrecting the true keeper
    from the reject quarantine — until the admitted set EQUALS batch
    ``dedup_survivors``. A second reconcile is a fixpoint (no actions)."""
    from concordium_transaction_logger_spark.operators import dedup
    from concordium_transaction_logger_spark.streaming.pipeline import (
        StreamingCorpusIngest,
        corpus_snapshot,
    )

    docs = load_table(spark, sf_dir, "documents")
    want = {r["doc_id"] for r in dedup.dedup_survivors(spark, sf_dir).collect()}
    top = docs.agg(F.max("doc_id")).first()[0]
    keeper = min(d for d in want if d < 150)
    twin = docs.filter(F.col("doc_id") == keeper).select(
        F.lit(top + 1).cast("long").alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )
    # the twin shares the keeper's buckets, so components (and the
    # survivor set) are unchanged by the injection — keeper stays min
    slices = [
        docs.filter(F.col("doc_id") >= 350).unionByName(twin),
        docs.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 350)),
        docs.filter(F.col("doc_id") < 150),
    ]
    for sl in slices:
        sl.coalesce(1).write.mode("append").parquet(dirs["source"])
    ingest = StreamingCorpusIngest(
        spark,
        dirs["source"],
        dirs["out"],
        dirs["ckpt"],
        max_files_per_trigger=1,
        near_dup=True,
    )
    ingest.run_available_now()

    got_stream = {r["doc_id"] for r in corpus_snapshot(spark, dirs["out"]).collect()}
    assert got_stream != want, "disorder must actually fool the greedy pass"
    assert top + 1 in got_stream and keeper not in got_stream

    actions = ingest.reconcile().collect()
    retracted = {r["doc_id"] for r in actions if r["action"] == "retract"}
    resurrected = {r["doc_id"] for r in actions if r["action"] == "late_admit"}
    assert retracted and resurrected
    assert retracted == got_stream - want
    assert resurrected == want - got_stream
    assert keeper in resurrected and top + 1 in retracted

    got = {r["doc_id"] for r in corpus_snapshot(spark, dirs["out"]).collect()}
    assert got == want
    # the reject log covers exactly the losers, dedup-attributed
    rej_rows = spark.read.parquet(dirs["out"] + "_rejects").collect()
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()} | {top + 1}
    assert {r["doc_id"] for r in rej_rows} == all_ids - want
    assert {r["reason"] for r in rej_rows} <= {"exact_dup", "near_dup"}
    # resurrected docs carry their full original row (quarantine, not ids)
    texts = {r["doc_id"]: r["text"] for r in corpus_snapshot(spark, dirs["out"]).collect()}
    orig = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert all(texts[d] == orig[d] for d in resurrected)

    assert ingest.reconcile().count() == 0, "reconcile must be a fixpoint"
    assert {r["doc_id"] for r in corpus_snapshot(spark, dirs["out"]).collect()} == want


def test_reconcile_star_kernel_matches_hashmin_and_max_iter_is_exposed(
    spark, sf_dir, dirs
):
    """reconcile() has one component kernel — star contraction over
    per-bucket star edges — and on a two-slice reversed replay it
    converges the sink to the batch (hash-min) survivor set, then is a
    fixpoint."""
    from concordium_transaction_logger_spark.operators import dedup
    from concordium_transaction_logger_spark.streaming.pipeline import (
        StreamingCorpusIngest,
        corpus_snapshot,
    )

    docs = load_table(spark, sf_dir, "documents")
    want = {r["doc_id"] for r in dedup.dedup_survivors(spark, sf_dir).collect()}
    slices = [
        docs.filter(F.col("doc_id") >= 250),
        docs.filter(F.col("doc_id") < 250),
    ]
    for sl in slices:
        sl.coalesce(1).write.mode("append").parquet(dirs["source"])
    ingest = StreamingCorpusIngest(
        spark,
        dirs["source"],
        dirs["out"],
        dirs["ckpt"],
        max_files_per_trigger=1,
        near_dup=True,
    )
    ingest.run_available_now()

    ingest.reconcile()
    got = {r["doc_id"] for r in corpus_snapshot(spark, dirs["out"]).collect()}
    assert got == want
    assert ingest.reconcile().count() == 0


def test_reconcile_converges_disordered_span_admission_to_batch_verdict(
    spark, sf_dir, dirs
):
    """Span-layer reconciliation: reversed-order delivery admits docs
    whose covering spans belong to smaller-id docs that arrive later;
    ``reconcile()`` re-runs ``span_admission_frame`` (plus the exact
    keeper rule) over the seen corpus and converges the sink to the batch
    ``span_admission`` admit set."""
    from concordium_transaction_logger_spark.operators import dedup
    from concordium_transaction_logger_spark.streaming.pipeline import (
        StreamingCorpusIngest,
        corpus_snapshot,
    )

    docs = load_table(spark, sf_dir, "documents")
    for lo, hi in ((350, 10**9), (150, 350), (0, 150)):
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).coalesce(
            1
        ).write.mode("append").parquet(dirs["source"])
    ingest = StreamingCorpusIngest(
        spark,
        dirs["source"],
        dirs["out"],
        dirs["ckpt"],
        max_files_per_trigger=1,
        span_dedup=True,
    )
    ingest.run_available_now()

    want = {
        r["doc_id"]
        for r in dedup.span_admission(spark, sf_dir).collect()
        if r["verdict"] == "admit"
    }
    got_stream = {r["doc_id"] for r in corpus_snapshot(spark, dirs["out"]).collect()}
    assert got_stream != want, "disorder must actually fool the greedy pass"

    actions = ingest.reconcile()
    assert actions.count() > 0
    got = {r["doc_id"] for r in corpus_snapshot(spark, dirs["out"]).collect()}
    assert got == want
    assert ingest.reconcile().count() == 0, "reconcile must be a fixpoint"


def test_reconcile_is_stable_under_at_least_once_redelivery(spark, sf_dir, dirs):
    """An at-least-once source redelivers the SAME rows (same doc_id,
    same text) in a later batch: the stream admits the first copy and
    quarantines the redeliveries as exact_dup. ``reconcile()`` must NOT
    resurrect them — its corpus view is one row per doc_id, so the
    admitted snapshot stays duplicate-free and reconcile is a no-op
    (the round-5 review found the first reconciler re-admitted every
    quarantined copy, undoing the stream's correct dedup)."""
    from concordium_transaction_logger_spark.streaming.pipeline import (
        StreamingCorpusIngest,
        corpus_snapshot,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    redelivered = docs.filter(F.col("doc_id") < 40)
    for sl in (docs, redelivered):
        sl.coalesce(1).write.mode("append").parquet(dirs["source"])
    ingest = StreamingCorpusIngest(
        spark, dirs["source"], dirs["out"], dirs["ckpt"], max_files_per_trigger=1
    )
    ingest.run_available_now()

    before = sorted(
        r["doc_id"] for r in corpus_snapshot(spark, dirs["out"]).collect()
    )
    assert len(before) == len(set(before)), "stream admission is duplicate-free"

    assert ingest.reconcile().count() == 0, "redelivery alone needs no actions"
    after = sorted(r["doc_id"] for r in corpus_snapshot(spark, dirs["out"]).collect())
    assert after == before, "reconcile must not re-admit redelivered copies"
    assert ingest.reconcile().count() == 0, "fixpoint"


def _bucket_chain_texts(n_docs: int = 30) -> list[str]:
    """A deterministic corpus whose MinHash band-bucket graph is an exact
    PATH of ``n_docs`` nodes (diameter n_docs-1) — the worst shape for
    hash-min label propagation, constructed against the engine's own
    signature definition (dedup._minhash_aggs: mh_j = MIN(md5(sh||'#j')),
    bands = md5(mh0..3) / md5(mh4..7), SHINGLE=3):

    doc_i = block_i ++ filler_i ++ block_{i+1} (half-overlap chaining).
    Each 3-word block triple is searched so its 4 own-band hashes lead
    with nibble 0 and its other-band hashes do NOT — so the shared
    triple is the argmin of its band group in BOTH docs containing it,
    making exactly one band collide per adjacent pair; the private
    filler word is searched until no filler-crossing shingle beats the
    block minima. Variants are base-26 encoded so the quality gate's
    digit rule can't reject the docs. Pure md5 arithmetic — fully
    deterministic, no seeds, ~10 s."""
    import hashlib

    def md5(s: str) -> str:
        return hashlib.md5(s.encode()).hexdigest()

    def enc(v: int) -> str:  # digits would push digit_permille near the gate
        out = ""
        while True:
            out += chr(97 + v % 26)
            v //= 26
            if not v:
                return out

    def sig(text: str) -> list[str]:
        t = text.split()
        sh = {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}
        return [min(md5(s + f"#{j}") for s in sh) for j in range(8)]

    n_blocks = n_docs + 1
    blocks = []
    for i in range(n_blocks):
        own = range(0, 4) if i % 2 == 0 else range(4, 8)
        other = range(4, 8) if i % 2 == 0 else range(0, 4)
        for v in range(3_000_000):
            words = [f"blk{enc(i)}{enc(v)}w{enc(k)}segmentword" for k in range(3)]
            tri = " ".join(words)
            if all(md5(tri + f"#{j}")[0] == "0" for j in own) and all(
                md5(tri + f"#{j}")[0] != "0" for j in other
            ):
                blocks.append((words, [md5(tri + f"#{j}") for j in range(8)]))
                break
        else:  # pragma: no cover - deterministic search always lands
            raise AssertionError(f"no block {i}")
    texts = []
    for i in range(n_docs):
        bw_l, bh_l = blocks[i]
        bw_r, bh_r = blocks[i + 1]
        gl = range(0, 4) if i % 2 == 0 else range(4, 8)
        gr = range(0, 4) if (i + 1) % 2 == 0 else range(4, 8)
        for v in range(200_000):
            t = " ".join(bw_l + [f"filler{enc(i)}{enc(v)}privateword"] + bw_r)
            m = sig(t)
            if all(m[j] == bh_l[j] for j in gl) and all(
                m[j] == bh_r[j] for j in gr
            ):
                texts.append(t)
                break
        else:  # pragma: no cover
            raise AssertionError(f"no filler {i}")
    return texts


def test_reconcile_star_converges_where_hashmin_budget_cannot(
    spark, sf_dir, dirs
):
    """A diameter-29 bucket path needs 29 hash-min propagation rounds,
    more than hash-min's default budget of 20; reconcile()'s star
    contraction (O(log² n) rounds on any shape) converges it to the
    batch survivor set — the component min — with no knob to set."""
    from concordium_transaction_logger_spark.operators.dedup import (
        doc_band_buckets,
    )
    from concordium_transaction_logger_spark.streaming.pipeline import (
        StreamingCorpusIngest,
        corpus_snapshot,
    )

    texts = _bucket_chain_texts(30)
    rows = [
        (100 + i, t, "en", "chain", len(t)) for i, t in enumerate(texts)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    # the construction really is a diameter-29 path in the engine's OWN
    # bucket space: every doc shares a bucket with exactly its neighbors
    bks = doc_band_buckets(docs).collect()
    by_doc: dict[int, set] = {}
    for r in bks:
        by_doc.setdefault(r.doc_id, set()).add(r.bucket)
    ids = sorted(by_doc)
    for a in ids:
        for b in ids:
            if a < b:
                assert bool(by_doc[a] & by_doc[b]) == (b == a + 1), (a, b)

    docs.coalesce(1).write.mode("append").parquet(dirs["source"])
    ingest = StreamingCorpusIngest(
        spark, dirs["source"], dirs["out"], dirs["ckpt"], near_dup=True
    )
    ingest.run_available_now()
    # greedy bucket admission already keeps only the chain head
    assert {
        r.doc_id for r in corpus_snapshot(spark, dirs["out"]).collect()
    } == {100}

    assert ingest.reconcile().count() == 0
    assert {
        r.doc_id for r in corpus_snapshot(spark, dirs["out"]).collect()
    } == {100}
    # and the quarantine holds the other 29, all near_dup-attributed
    rej = spark.read.parquet(dirs["out"] + "_rejects").collect()
    assert {r.doc_id for r in rej} == set(range(101, 130))
    assert {r.reason for r in rej} == {"near_dup"}


def test_corpus_side_sinks_are_bucket_partitioned_and_pinned(
    spark, sf_dir, dirs
):
    """The near-dup bucket sink and the span min-doc sink keep each
    batch's seen state as ONE parquet file sorted by its hash-bucket key
    (a data column, not a directory level), so a probe's key predicate
    reaches the parquet scan as a pushed filter and the sorted file's
    row-group statistics prune it. The bucket count and the clustering
    are pinned per side sink, and a mismatched writer — which would
    prune against the wrong layout and silently re-admit duplicates — is
    refused with the sinks untouched."""
    import glob
    import re

    import pyarrow.parquet as pq

    from concordium_transaction_logger_spark.streaming.pipeline import (
        StreamingCorpusIngest,
        _sink_view,
        corpus_snapshot,
    )

    docs = load_table(spark, sf_dir, "documents").limit(120)
    for i in range(2):
        (
            docs.filter(F.col("doc_id") % 2 == i)
            .coalesce(1)
            .write.mode("append")
            .parquet(dirs["source"])
        )
    StreamingCorpusIngest(
        spark,
        dirs["source"],
        dirs["out"],
        dirs["ckpt"],
        max_files_per_trigger=1,
        near_dup=True,
        span_dedup=True,
    ).run_available_now()
    n_admitted = corpus_snapshot(spark, dirs["out"]).count()
    for suffix, key in (("_buckets", "bkb"), ("_spans", "hb")):
        batch_dirs = sorted(glob.glob(dirs["out"] + suffix + "/ingest_batch=*"))
        assert len(batch_dirs) == 2
        for d in batch_dirs:
            entries = [e for e in os.listdir(d) if not e.startswith((".", "_"))]
            assert len(entries) == 1 and entries[0].endswith(".parquet")
            keys = pq.read_table(os.path.join(d, entries[0]), columns=[key])
            keys = keys.column(key).to_pylist()
            assert keys and keys == sorted(keys)

    # the bucket predicate of a state read reaches the scan as a pushed
    # filter on the data column (what row-group pruning acts on)
    sample = spark.read.parquet(dirs["out"] + "_buckets")
    one_bkb = sample.select("bkb").head(1)[0][0]
    pruned = _sink_view(
        spark, dirs["out"] + "_buckets", sample.schema
    ).filter(F.col("bkb") == one_bkb)
    scan = [
        l
        for l in pruned._jdf.queryExecution().executedPlan().toString().splitlines()
        if "PushedFilters" in l
    ]
    assert scan and re.search(r"PushedFilters: \[[^\]]*\bbkb\b", scan[0])

    docs.limit(1).select(
        (F.col("doc_id") + 10**9).alias("doc_id"),
        *[c for c in docs.columns if c != "doc_id"],
    ).coalesce(1).write.mode("append").parquet(dirs["source"])
    with pytest.raises(Exception, match="layout"):
        StreamingCorpusIngest(
            spark,
            dirs["source"],
            dirs["out"],
            dirs["ckpt"],
            max_files_per_trigger=1,
            near_dup=True,
            span_dedup=True,
            n_buckets=8,
        ).run_available_now()
    assert corpus_snapshot(spark, dirs["out"]).count() == n_admitted


def test_bucket_directory_side_sink_is_refused(spark, sf_dir, dirs):
    """A ``_buckets`` side sink in the bucket-directory layout (the
    ``{"n_buckets": 64}`` sidecar over ``ingest_batch=K/bkb=B/`` files)
    has no reader: the ingest refuses it before any write, naming the
    reset remedy, and leaves every sink as it was."""
    import json

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from concordium_transaction_logger_spark.streaming.pipeline import (
        StreamingCorpusIngest,
    )

    load_table(spark, sf_dir, "documents").limit(40).coalesce(1).write.parquet(
        dirs["source"]
    )
    bdir = dirs["out"] + "_buckets"
    spark.createDataFrame([(1, "0:1")], "doc_id long, bucket string").coalesce(
        1
    ).write.parquet(bdir + "/ingest_batch=0/bkb=3")
    with open(bdir + "/_layout.json", "w") as f:
        json.dump({"n_buckets": 64}, f)
    sinks = [dirs["out"] + s for s in ("", "_rejects", "_buckets", "_spans")]
    before = [_tree_state(p) for p in sinks]
    with pytest.raises(
        (StreamingQueryException, ValueError), match="reset the sink and checkpoint"
    ):
        StreamingCorpusIngest(
            spark,
            dirs["source"],
            dirs["out"],
            dirs["ckpt"],
            quality_gate=True,
            near_dup=True,
            span_dedup=True,
        ).run_available_now()
    assert [_tree_state(p) for p in sinks] == before


def test_gate_rejected_batch_writes_no_side_state(spark, sf_dir, dirs, monkeypatch):
    """A micro-batch whose documents all fail the quality gate has no
    seen state: it writes no near-dup or span side file and observes an
    empty key list for both, so its probes read nothing. The main and
    ``_rejects`` sinks still equal the batch verdict: ``reconcile()``
    finds nothing to change."""
    import pyspark.sql

    from concordium_transaction_logger_spark.streaming.pipeline import (
        StreamingCorpusIngest,
        corpus_snapshot,
    )

    observed = []

    class Recorded(pyspark.sql.Observation):
        @property
        def get(self):
            got = super().get
            observed.append(sorted(got["keys"]))
            return got

    monkeypatch.setattr(pyspark.sql, "Observation", Recorded)
    docs = load_table(spark, sf_dir, "documents")
    top = docs.agg(F.max("doc_id")).first()[0]
    junk = spark.createDataFrame(
        [(top + i, "tiny", "en", "web", 4) for i in (1, 2, 3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    for part in (
        docs.filter(F.col("doc_id") < 250),
        junk,
        docs.filter(F.col("doc_id") >= 250),
    ):
        part.coalesce(1).write.mode("append").parquet(dirs["source"])
    ingest = StreamingCorpusIngest(
        spark,
        dirs["source"],
        dirs["out"],
        dirs["ckpt"],
        max_files_per_trigger=1,
        quality_gate=True,
        near_dup=True,
        span_dedup=True,
    )
    ingest.run_available_now()

    # per batch: the _buckets key list, then the _spans one
    assert len(observed) == 6
    assert observed[2:4] == [[], []]
    assert all(observed[:2]) and all(observed[4:])
    for suffix in ("_buckets", "_spans"):
        listing = os.listdir(dirs["out"] + suffix)
        assert sorted(e for e in listing if e.startswith("ingest_batch=")) == [
            "ingest_batch=0",
            "ingest_batch=2",
        ]

    def sinks():
        rejects = spark.read.parquet(dirs["out"] + "_rejects")
        return (
            sorted(r["doc_id"] for r in corpus_snapshot(spark, dirs["out"]).collect()),
            sorted(tuple(r) for r in rejects.select("doc_id", "reason").collect()),
        )

    admitted, rejected = sinks()
    assert {(top + i, "too_short") for i in (1, 2, 3)} <= set(rejected)
    assert admitted and not {top + 1, top + 2, top + 3} & set(admitted)
    assert ingest.reconcile().count() == 0
    assert sinks() == (admitted, rejected)


def test_one_verdict_for_the_micro_batch_and_reconcile(spark, sf_dir, dirs):
    """The micro-batch and ``reconcile()`` decide through one reason
    function. An id-ordered replay with every layer on: each reject row
    carries the reason of its FIRST failing layer (gate → exact_dup →
    near_dup → span_dup, each layer judged by its batch twin), the
    admitted rows fail none, and ``reconcile()`` finds nothing to change
    — the reject log's (doc_id, reason) pairs are the same after it."""
    from concordium_transaction_logger_spark.operators import dedup, textstats
    from concordium_transaction_logger_spark.streaming.pipeline import (
        StreamingCorpusIngest,
        corpus_snapshot,
    )

    docs = load_table(spark, sf_dir, "documents")
    top = docs.agg(F.max("doc_id")).first()[0]
    # gate-failing exact twins: the gate reason must win over exact_dup
    junk = spark.createDataFrame(
        [(top + 1, "tiny", "en", "web", 4), (top + 2, "tiny", "en", "web", 4)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    staged = docs.unionByName(junk)
    for lo, hi in ((0, 150), (150, 350), (350, 10**9)):
        staged.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).coalesce(
            1
        ).write.mode("append").parquet(dirs["source"])
    ingest = StreamingCorpusIngest(
        spark,
        dirs["source"],
        dirs["out"],
        dirs["ckpt"],
        max_files_per_trigger=1,
        quality_gate=True,
        near_dup=True,
        span_dedup=True,
    )
    ingest.run_available_now()

    # each layer's verdict from its batch twin over the gate-passing rows
    gate = {
        r["doc_id"]: r["reason"]
        for r in staged.select("doc_id", textstats.gate_reason("text").alias("reason"))
        .collect()
    }
    assert gate[top + 1] == gate[top + 2] == "too_short"
    passing = staged.filter(textstats.gate_reason("text") == "ok")
    fps = textstats.fingerprints(spark, sf_dir).join(passing.select("doc_id"), "doc_id")
    keepers = fps.groupBy("fp").agg(F.min("doc_id").alias("k"))
    exact = {
        r["doc_id"]
        for r in fps.join(keepers, "fp").filter(F.col("doc_id") != F.col("k")).collect()
    }
    near = {
        r["doc_id"]
        for r in dedup.components_over_buckets(
            dedup.doc_band_buckets(passing), passing.select("doc_id")
        )
        .filter(F.col("doc_id") != F.col("component_id"))
        .collect()
    }
    span = {
        r["doc_id"]
        for r in dedup.span_admission_frame(passing).collect()
        if r["verdict"] == "reject"
    }
    want = {}
    for d, why in gate.items():
        layers = [why if why != "ok" else None]
        layers += [
            name
            for name, failed in (("exact_dup", exact), ("near_dup", near), ("span_dup", span))
            if d in failed
        ]
        first = next((x for x in layers if x), None)
        if first:
            want[d] = first
    # the corpus exercises the ranking: some docs fail several layers
    assert sum(1 for d in want if (d in exact) + (d in near) + (d in span) > 1)

    def reject_log():
        return sorted(
            (r["doc_id"], r["reason"])
            for r in spark.read.parquet(dirs["out"] + "_rejects").collect()
        )

    before = reject_log()
    assert before == sorted(want.items())
    admitted = {r["doc_id"] for r in corpus_snapshot(spark, dirs["out"]).collect()}
    assert admitted == set(gate) - set(want)

    assert ingest.reconcile().count() == 0
    assert reject_log() == before
    assert {r["doc_id"] for r in corpus_snapshot(spark, dirs["out"]).collect()} == admitted


def _tree_state(root):
    """Every file under ``root`` with its size and mtime."""
    out = []
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out.append((os.path.relpath(os.path.join(d, f), root), st.st_size, st.st_mtime_ns))
    return sorted(out)


def test_reconcile_refuses_a_compacted_sink(spark, sf_dir, dirs):
    """``reconcile()`` rewrites the plain sink directories only, so on a
    compacted sink the reader would keep serving the manifest's folded
    rows and the next batch's seen-fingerprint probe would disagree with
    the reconciled verdict. A compacted ``_rejects`` or main sink is
    refused before any write, naming the remedy, and both sinks are left
    untouched."""
    from concordium_transaction_logger_spark.streaming.pipeline import (
        StreamingCorpusIngest,
        compact_sink,
    )

    docs = load_table(spark, sf_dir, "documents")
    for sl in (docs.filter(F.col("doc_id") >= 250), docs.filter(F.col("doc_id") < 250)):
        sl.coalesce(1).write.mode("append").parquet(dirs["source"])
    ingest = StreamingCorpusIngest(
        spark,
        dirs["source"],
        dirs["out"],
        dirs["ckpt"],
        max_files_per_trigger=1,
        near_dup=True,
    )
    ingest.run_available_now()
    root = os.path.dirname(dirs["out"])
    for name in ("out_rejects", "out"):
        compact_sink(spark, root, name)
        before = _tree_state(root)
        with pytest.raises(ValueError, match="reconcile before compacting"):
            ingest.reconcile()
        assert _tree_state(root) == before


def test_corpus_snapshot_serves_a_twice_compacted_sink(spark, sf_dir, dirs):
    """``corpus_snapshot`` reads through the one sink reader: with a
    compaction after batch 2 and another after batch 3, it serves every
    admitted document — the version directory's folded rows included,
    not only what the second compaction left in the plain directory."""
    from concordium_transaction_logger_spark.operators import textstats
    from concordium_transaction_logger_spark.streaming.pipeline import (
        StreamingCorpusIngest,
        compact_sink,
        corpus_snapshot,
    )

    docs = load_table(spark, sf_dir, "documents")
    want = {
        r["k"]
        for r in textstats.fingerprints(spark, sf_dir)
        .groupBy("fp")
        .agg(F.min("doc_id").alias("k"))
        .collect()
    }
    root = os.path.dirname(dirs["out"])
    for slices in (((0, 150), (150, 350)), ((350, 10**9),)):
        for lo, hi in slices:
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).coalesce(
                1
            ).write.mode("append").parquet(dirs["source"])
        StreamingCorpusIngest(
            spark, dirs["source"], dirs["out"], dirs["ckpt"], max_files_per_trigger=1
        ).run_available_now()
        compact_sink(spark, root, "out")
    got = [r["doc_id"] for r in corpus_snapshot(spark, dirs["out"]).collect()]
    assert sorted(got) == sorted(want)


def test_per_batch_pins_are_released(spark, sf_dir, tmp_path):
    """Per-batch pins are batch-scoped: micro-batches of the linkage
    stream and of the full curation stream (gate + near-dup + span) each
    leave no new entry in the context's persistent-RDD registry. A
    ``localCheckpoint`` inside a batch is a pin nothing releases."""
    from concordium_transaction_logger_spark.streaming.pipeline import (
        StreamingCorpusIngest,
        StreamingLinkageIngest,
    )

    n_batches = 3
    cust = load_table(spark, sf_dir, "customer")
    docs = load_table(spark, sf_dir, "documents")
    for i in range(n_batches):
        for df, key, src in ((cust, "c_custkey", "cust"), (docs, "doc_id", "docs")):
            df.filter(F.col(key) % n_batches == i).coalesce(1).write.mode(
                "append"
            ).parquet(str(tmp_path / src))
    streams = {
        "linkage": StreamingLinkageIngest(
            spark,
            str(tmp_path / "cust"),
            str(tmp_path / "links"),
            str(tmp_path / "ckpt_linkage"),
            max_files_per_trigger=1,
        ),
        "curation": StreamingCorpusIngest(
            spark,
            str(tmp_path / "docs"),
            str(tmp_path / "corpus"),
            str(tmp_path / "ckpt_curation"),
            max_files_per_trigger=1,
            quality_gate=True,
            near_dup=True,
            span_dedup=True,
        ),
    }
    def pinned():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    for name, stream in streams.items():
        # compared as id sets: the context cleaner may release pins of
        # earlier work meanwhile, so the size alone could mask a new pin
        start = pinned()
        stream.run_available_now()
        commits = os.listdir(str(tmp_path / f"ckpt_{name}" / "commits"))
        assert len([c for c in commits if c.isdigit()]) == n_batches
        assert pinned() <= start, name


def test_failed_curation_batch_releases_its_pins(spark, sf_dir, tmp_path):
    """A curation micro-batch that fails after pinning releases its pins:
    the near-dup side sink carries a single-field manifest, so its seen
    read refuses after the batch pinned and probed its bucket frame."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from concordium_transaction_logger_spark.streaming.pipeline import (
        StreamingCorpusIngest,
    )

    docs = load_table(spark, sf_dir, "documents")
    docs.coalesce(1).write.parquet(str(tmp_path / "docs"))
    (tmp_path / "corpus_buckets.MANIFEST").write_text("v0")
    stream = StreamingCorpusIngest(
        spark,
        str(tmp_path / "docs"),
        str(tmp_path / "corpus"),
        str(tmp_path / "ckpt"),
        quality_gate=True,
        near_dup=True,
        span_dedup=True,
    )
    start = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    with pytest.raises(
        (StreamingQueryException, ValueError), match="reset the sink and checkpoint"
    ):
        stream.run_available_now()
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keys()) <= start


def test_no_local_checkpoint_in_per_batch_methods():
    """Per-batch pins are released by the batch: no ``localCheckpoint``
    call inside any ``_process_batch`` or ``_write_batch`` of the
    streaming layer."""
    import ast
    import pathlib

    from concordium_transaction_logger_spark.streaming import pipeline

    tree = ast.parse(pathlib.Path(pipeline.__file__).read_text())
    methods = [
        fn
        for fn in ast.walk(tree)
        if isinstance(fn, ast.FunctionDef)
        and fn.name in ("_process_batch", "_write_batch")
    ]
    assert len(methods) > 10
    sites = [
        (fn.name, node.lineno)
        for fn in methods
        for node in ast.walk(fn)
        if isinstance(node, ast.Attribute) and node.attr == "localCheckpoint"
    ]
    assert sites == []
