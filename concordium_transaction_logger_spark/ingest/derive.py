"""Deterministic interpretation of the driver's ``events`` table as the
reference's finalized-block feed, and derivation of the five sink tables.

Reference model (SURVEY.md §1): one finalized block yields N transaction
outcomes + special events; the indexer explodes them into an append-only
fact table ``summaries`` plus index tables ``ati`` (account) / ``cti``
(contract), a running CIS2 token-supply ledger, and a latest-wins
public-key-binding snapshot (wallet-proxy-indexer/src/main.rs:545-574,
resources/m0001-initial.sql).

The generic event stream maps onto that model with a *fixed, documented,
SQL-expressible* rule set so every derived table can be verified row-for-row
against a DuckDB oracle (``ingest.oracle`` holds the mirror SQL — keep the
two in lockstep):

- 8 events = 1 block: ``height = event_id DIV 8``, ``tx_index = event_id % 8``
  (E1, main.rs:796-804 — order-preserving block explode).
- ``block`` hash = md5(height)  (32-byte block hash stand-in, hex).
- ``ts_ms`` = event timestamp in epoch ms (timestamp INT8, m0001-initial.sql:5).
- event_type 'error' plays the role of a *special transaction outcome*
  (Right branch of the tagged union, main.rs:99-109): its ``sender`` is NULL.
- affected accounts (E2, main.rs:823-853): the actor ``user_id`` always;
  for 'purchase'/'error' also a counterparty
  ``(user_id + 1 + k % 14) % n_users`` (provably != user_id, so the
  affected list is duplicate-free by construction; alias-dedup over binary
  addresses is exercised separately in ``functions.addresses``).
- affected contracts (E3, main.rs:332-352): 'click'/'view' touch contract
  ``(k % 10, k % 3)``.
- CIS2 token ledger (E5/A1/A2, main.rs:417-457): 'purchase' mints and
  'error' burns ``round(value*100)`` atoms of token ``k % 5`` on contract
  ``(k % 10, k % 3)`` — a signed integer-cents amount so the running-supply
  aggregation is exact in any engine.
- key bindings (E6/M1, main.rs:506-540): 'signup' replaces the account's
  binding snapshot; latest signup wins.

Ids reproduce the reference's contract — strictly increasing in
``(height, tx_index)`` order, gaps allowed (README.md:99-101) — via the
deterministic derivation ``summary_id = event_id``, ``ati.id =
event_id*4 + pos``. No ``monotonically_increasing_id()``: ids must be
stable across partitionings (SURVEY §7 hard part 2).

Every function returns a *lazy* DataFrame; Catalyst fuses the whole
derivation into the consuming query (single parquet scan, pushdown intact).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table

#: Events per synthetic block (E1 explode granularity).
TXS_PER_BLOCK = 8

#: Event kinds (the Left/Right tagged union, main.rs:99-109).
SPECIAL_TYPES = ("error",)
MINT_TYPE = "purchase"
BURN_TYPE = "error"
CONTRACT_TYPES = ("click", "view")
BINDING_TYPE = "signup"


def feed_from_events(events: DataFrame, n_users: int | None = None) -> DataFrame:
    """Enrich a raw ``events`` DataFrame into the block feed.

    ``n_users`` (for the counterparty formula) is a scalar aggregate joined
    back by broadcast when not supplied — one lazy plan, no driver collect.
    The streaming path passes it explicitly (aggregating the stream itself
    is impossible mid-plan): the analog of the reference seeding its
    account cache from a node snapshot before consuming blocks
    (main.rs:766-784).
    """
    evt = events.select(
        "event_id",
        F.expr("ts DIV 1000000").alias("ts_ms"),
        "user_id",
        "event_type",
        "value",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )
    if n_users is not None:
        return evt.withColumn("n_users", F.lit(n_users).cast("long"))
    agg = evt.agg((F.max("user_id") + F.lit(1)).alias("n_users"))
    return evt.crossJoin(F.broadcast(agg))


def n_users_for(spark: SparkSession, sf_dir: str) -> int:
    """Session-cached user-universe size — the analog of the reference
    seeding its canonical-address cache once per node connection
    (main.rs:766-784) instead of re-fetching per block/query."""
    from ..cache import get_or_build

    def build() -> int:
        events = load_table(spark, sf_dir, "events")
        return int(events.agg(F.max("user_id")).first()[0]) + 1

    return get_or_build("n_users", spark, sf_dir, build)


#: Per-(session, sf_dir) materialized enriched feed. The reference's read
#: queries never touch the chain — they hit the already-landed Postgres
#: tables (postgres.rs:102-181); the batch analog is materializing the
#: enriched feed (timestamp normalize + JSON ``k`` parse) once per
#: (session, corpus) so every downstream query starts from columnar
#: in-memory rows instead of re-scanning and re-parsing the events parquet.
#: At full scale this role is played by the *sink tables the streaming path
#: writes* (streaming/pipeline.py), partitioned/bucketed on disk — never a
#: RAM cache of the raw feed.


def block_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch block feed over the driver's ``events`` table, materialized
    per session (see module docstring above and ``cache.py``). The cached
    user-universe scalar keeps the first materialization a single-scan
    plan."""
    from ..cache import get_or_build

    return get_or_build(
        "block_feed",
        spark,
        sf_dir,
        lambda: feed_from_events(
            load_table(spark, sf_dir, "events"), n_users=n_users_for(spark, sf_dir)
        ),
    )


def _height() -> Column:
    return F.expr(f"event_id DIV {TXS_PER_BLOCK}")


def summaries(feed: DataFrame) -> DataFrame:
    """The append-only fact table (m0001-initial.sql:2-9).

    ``summary`` is the JSONB tagged union: ``tag`` discriminates
    block items from special outcomes (main.rs:99-109). Carries the
    ``sender`` / ``event_type`` / ``k`` / ``value`` attributes the read
    queries need so downstream operators never re-parse JSON.
    """
    is_special = F.col("event_type").isin(*SPECIAL_TYPES)
    return feed.select(
        F.col("event_id").alias("id"),
        F.md5(_height().cast("string")).alias("block"),
        F.col("ts_ms"),
        _height().alias("height"),
        F.concat(
            F.lit('{"tag":"'),
            F.when(is_special, F.lit("special")).otherwise(F.lit("block_item")),
            F.lit('","type":"'),
            F.col("event_type"),
            F.lit('","k":'),
            F.col("k").cast("string"),
            F.lit("}"),
        ).alias("summary"),
        F.when(is_special, F.lit(None).cast("long"))
        .otherwise(F.col("user_id"))
        .alias("sender"),
        "event_type",
        "k",
        "value",
        "user_id",
    )


def counterparty() -> Column:
    """Second affected account for value-moving events; != user_id because
    ``1 + k % 14`` is in [1, 14] and n_users >= 15."""
    return (F.col("user_id") + 1 + F.col("k") % 14) % F.col("n_users")


def ati(feed: DataFrame) -> DataFrame:
    """Account-transaction index (m0001-initial.sql:12-20): one row per
    (affected account, summary) — the E2 explode of the per-transaction
    affected-accounts list (main.rs:823-853), as a single-scan
    array-explode rather than a union of branch scans."""
    actor = F.struct(F.lit(0).alias("pos"), F.col("user_id").alias("account"))
    cp = F.struct(F.lit(1).alias("pos"), counterparty().alias("account"))
    affected = F.when(
        F.col("event_type").isin(MINT_TYPE, BURN_TYPE), F.array(actor, cp)
    ).otherwise(F.array(actor))
    return feed.select("event_id", F.explode(affected).alias("a")).select(
        (F.col("event_id") * 4 + F.col("a.pos")).alias("id"),
        F.col("a.account").alias("account"),
        F.col("event_id").alias("summary"),
    )


def cti(feed: DataFrame) -> DataFrame:
    """Contract-transaction index (m0001-initial.sql:23-31); E3 explode."""
    return feed.filter(F.col("event_type").isin(*CONTRACT_TYPES)).select(
        F.col("event_id").alias("id"),
        (F.col("k") % 10).alias("idx"),
        (F.col("k") % 3).alias("subidx"),
        F.col("event_id").alias("summary"),
    )


def cis2_events(feed: DataFrame) -> DataFrame:
    """Signed CIS2 token movements (E5): mint positive, burn negative,
    integer atoms (cents) so the running sum is exact (main.rs:417-457)."""
    sign = F.when(F.col("event_type") == MINT_TYPE, F.lit(1)).otherwise(F.lit(-1))
    return feed.filter(F.col("event_type").isin(MINT_TYPE, BURN_TYPE)).select(
        (F.col("k") % 10).alias("idx"),
        (F.col("k") % 3).alias("subidx"),
        (F.col("k") % 5).cast("string").alias("token_id"),
        (F.round(F.col("value") * 100, 0).cast("long") * sign).alias("amount"),
        F.col("event_id").alias("summary"),
    )


def _supply_rollup(mv) :
    """The shared ON-CONFLICT-arithmetic aggregation (A1/A2): signed sum
    per (idx, subidx, token_id) at DECIMAL(38,0) headroom, emitted BIGINT.
    ONE definition for the plain and section-guarded supplies, so a
    fidelity change can never land in only one of them."""
    return mv.groupBy("idx", "subidx", "token_id").agg(
        F.sum(F.col("amount").cast("decimal(38,0)"))
        .cast("long")
        .alias("total_supply")
    )


def cis2_tokens(feed: DataFrame) -> DataFrame:
    """Running total supply per token — the A1/A2 upsert expressed as a
    plain aggregation (the Spark-idiomatic replacement for
    ``ON CONFLICT DO UPDATE total_supply = total_supply + delta``,
    main.rs:222-251). The internal sum runs at DECIMAL(38,0) for overflow
    headroom; the emitted total is BIGINT — amounts are integer cents far
    below 2^63 in this corpus, and BIGINT hashes identically across
    engines (DECIMAL representation does not). The NUMERIC(80,0)-fidelity
    variant is :func:`cis2_tokens_wide` below (SURVEY §7 hard part 1);
    the streaming twin with the same fidelity is
    ``streaming.pipeline.StatefulSupply``."""
    return _supply_rollup(cis2_events(feed))


#: Wide-sum geometry: 5 limbs x 18 digits = 90-digit capacity, beyond the
#: reference's NUMERIC(80,0) (m0001-initial.sql:39). 18-digit limbs fit a
#: DECIMAL(38,0) accumulator with 10^20 rows of headroom per group.
WIDE_LIMBS = 5
WIDE_LIMB_DIGITS = 18


def wide_sum(df: DataFrame, group_cols: list[str], amount_col: str) -> DataFrame:
    """Arbitrary-precision signed integer SUM over a decimal-string column
    — the batch NUMERIC(80,0) path (m0001-initial.sql:39, main.rs:222-251:
    the reference stores CIS2 total_supply as NUMERIC(80,0) because token
    amounts are u256-scale).

    Spark has no decimal wider than 38 digits, so the sum runs as limb
    arithmetic: each amount splits scan-side into ``WIDE_LIMBS`` signed
    18-digit limbs (pure string/arithmetic expressions, whole-stage
    codegen); each limb column sums independently as DECIMAL(38,0) with
    full partial aggregation — ONE shuffle of |groups| rows carrying
    ``WIDE_LIMBS`` decimals, identical shape to a plain sum at 100 TB.
    The only Python is the final carry/render over the already-aggregated
    |groups|-row result (an Arrow-batched ``mapInPandas`` doing exact int
    arithmetic) — O(|tokens|), never O(|events|).

    Emits ``total_supply`` as its canonical decimal STRING (no leading
    zeros, ``-`` sign, ``0`` for zero) — strings hash identically across
    engines at any width."""
    import pandas as pd

    width = WIDE_LIMBS * WIDE_LIMB_DIGITS
    s = F.col(amount_col).cast("string")
    sign = F.when(F.substring(s, 1, 1) == "-", F.lit(-1)).otherwise(F.lit(1))
    mag = F.when(sign < 0, F.substring(s, 2, 1_000_000)).otherwise(s)
    # loud capacity guard: lpad would silently TRUNCATE an amount wider
    # than the limb capacity — refuse instead (raise per offending row).
    mag = F.when(
        F.length(mag) > width,
        F.raise_error(
            F.concat(
                F.lit(f"wide_sum: amount exceeds {width}-digit capacity: "), s
            )
        ).cast("string"),
    ).otherwise(mag)
    digits = F.lpad(mag, width, "0")
    limbs = [
        (
            F.substring(digits, 1 + i * WIDE_LIMB_DIGITS, WIDE_LIMB_DIGITS).cast(
                "decimal(38,0)"
            )
            * sign
        ).alias(f"limb{i}")
        for i in range(WIDE_LIMBS)
    ]
    summed = (
        df.select(*group_cols, *limbs)
        .groupBy(*group_cols)
        .agg(*[F.sum(f"limb{i}").alias(f"limb{i}") for i in range(WIDE_LIMBS)])
    )
    out_fields = ", ".join(
        f"{c} {t}"
        for c, t in zip(
            group_cols + ["total_supply"],
            [dict(summed.dtypes)[c] for c in group_cols] + ["string"],
        )
    )

    def finalize(batches):
        base = 10**WIDE_LIMB_DIGITS
        for pdf in batches:
            for i in range(WIDE_LIMBS):
                if pdf[f"limb{i}"].isna().any():
                    # keep the loud-guard contract: a NULL limb (all-NULL
                    # amounts in a group, or a per-limb DECIMAL(38,0) sum
                    # overflowing the documented 10^20-row headroom) must
                    # name itself, not die as an opaque int(None) TypeError
                    raise ValueError(
                        f"wide_sum: NULL limb{i} in group sum — all-NULL "
                        "amounts or limb-sum overflow past DECIMAL(38,0)"
                    )
            totals = [
                str(
                    sum(
                        int(pdf[f"limb{i}"].iloc[r]) * base ** (WIDE_LIMBS - 1 - i)
                        for i in range(WIDE_LIMBS)
                    )
                )
                for r in range(len(pdf))
            ]
            yield pd.DataFrame(
                {**{c: pdf[c] for c in group_cols}, "total_supply": totals}
            )

    return summed.mapInPandas(finalize, out_fields)


def cis2_tokens_wide(feed: DataFrame) -> DataFrame:
    """The NUMERIC(80,0)-fidelity running supply (m0001-initial.sql:39):
    same grouping as :func:`cis2_tokens`, but the total survives any token
    whose cumulative supply exceeds DECIMAL(38,0)/int64 — see
    :func:`wide_sum` for the limb plan. On the test corpus (cent-scale
    amounts) it agrees with the narrow path value-for-value; the >38-digit
    regime is exercised against an exact Python-int oracle in
    ``tests/test_query_semantics.py``."""
    return wide_sum(cis2_events(feed), ["idx", "subidx", "token_id"], "amount")


def cis2_tokens_guarded(feed: DataFrame) -> DataFrame:
    """Running supply with the reference's *section-atomic* parse guard
    (E5, main.rs:617-626): a log section containing any unparseable event
    is skipped wholesale, never event-by-event. Section ≙ block here;
    ``k % 97 == 0`` marks an unparseable log. Expressed as a per-section
    ``bool_and`` guard joined back before aggregation — the ``forall``
    shape, not a per-row drop (SURVEY §7 hard part 4)."""
    movers = feed.filter(F.col("event_type").isin(MINT_TYPE, BURN_TYPE))
    section_ok = movers.groupBy(_height().alias("height")).agg(
        F.bool_and(F.col("k") % 97 != 0).alias("ok")
    )
    mv = cis2_events(feed).withColumn("height", F.expr(f"summary DIV {TXS_PER_BLOCK}"))
    return _supply_rollup(
        mv.join(F.broadcast(section_ok.filter(F.col("ok"))), "height")
    )


def key_bindings_all(feed: DataFrame) -> DataFrame:
    """Every binding snapshot ever written (one per signup event);
    E6 flatten (main.rs:730-758)."""
    return feed.filter(F.col("event_type") == BINDING_TYPE).select(
        F.col("user_id").alias("address"),
        F.md5(
            F.concat_ws(
                ":",
                F.col("user_id").cast("string"),
                F.col("k").cast("string"),
                F.col("event_id").cast("string"),
            )
        ).alias("public_key"),
        (F.col("k") % 3).alias("credential_index"),
        (F.col("k") % 2).alias("key_index"),
        (F.col("k") % 2 == 0).alias("is_simple_account"),
        F.col("event_id"),
    )


def key_bindings(feed: DataFrame) -> DataFrame:
    """Latest-wins binding snapshot per account — the M1 delete+insert
    replace (main.rs:506-540) as a window dedup. ``row_number`` over
    (address ORDER BY event_id DESC) = the reference's "last write wins"."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("address").orderBy(F.col("event_id").desc())
    return (
        key_bindings_all(feed)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "event_id")
    )

