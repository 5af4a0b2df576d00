"""Seeded generator for the benchmark's input corpus.

Writes the ten tables the engine reads (``sources.tables.TABLES``) as one
parquet file each, with the schemas and value distributions of the
project's synthetic test corpus (TESTDATA.md, FIXTURES.md): a TPC-H-ish
star schema, the ``events`` block feed, ``documents`` with a few percent
of near-duplicates, and unit-norm ``embeddings``. The same ``(seed, sf)``
always gives byte-identical tables.

Row counts follow the corpus's scale rules: lineitem 6M x sf, events
1M x sf over 15k x sf users, at least 500 documents and embeddings.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "purchase", "error", "signup")
WORDS = (
    "a the join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window spark part "
    "group big sort query fast"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
SEGMENTS = ("MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD")
ADJECTIVES = ("small", "large", "red", "blue", "hot", "old", "new", "green")
NOUNS = ("ring", "widget", "bolt", "gear", "plate", "rod", "pipe", "valve")
P_TYPES = ("ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

_US_PER_DAY = 86_400_000_000
_ARRIVAL_EPOCH = 1_700_000_000  # mtime of the first staged file


def _epoch_us(y: int, m: int, d: int) -> int:
    return int(dt.datetime(y, m, d, tzinfo=dt.timezone.utc).timestamp() * 1_000_000)


def _days(rng: np.random.Generator, n: int, lo: tuple, hi: tuple) -> pa.Array:
    """Midnight timestamps drawn uniformly between two dates."""
    a, b = _epoch_us(*lo) // _US_PER_DAY, _epoch_us(*hi) // _US_PER_DAY
    return pa.array(rng.integers(a, b + 1, n) * _US_PER_DAY, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _pick(rng: np.random.Generator, values: tuple, n: int, p=None) -> list:
    return [values[i] for i in rng.choice(len(values), n, p=p)]


def counts(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "users": max(20, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def events_table(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    start = _epoch_us(2024, 1, 1)
    ts = np.sort(rng.integers(start, start + 30 * _US_PER_DAY, n))
    k = rng.integers(0, 100, n)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n).astype(np.int64)),
            "event_type": pa.array(_pick(rng, EVENT_TYPES, n)),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([json.dumps({"k": int(v)}) for v in k]),
        }
    )


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Random-word documents; about 5% copy an earlier document with a
    one-word edit (near-duplicates) and 0.5% copy one verbatim."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and r < 0.055:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.integers(0, len(WORDS), int(rng.integers(10, 100)))
            texts.append(" ".join(WORDS[w] for w in words))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": pa.array(ids),
            "text": pa.array(texts),
            "lang": pa.array(_pick(rng, LANGS, n, LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def embeddings_table(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def star_tables(rng: np.random.Generator, c: dict[str, int]) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part = c["customer"], c["supplier"], c["part"]
    n_ord, n_li = c["orders"], c["lineitem"]
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)
    part_idx = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    return {
        "region": pa.table(
            {
                "r_regionkey": i32(range(5)),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": i32(range(25)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": i32([i % 5 for i in range(25)]),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": i64(range(n_cust)),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": i32(rng.integers(0, 25, n_cust)),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": i64(range(n_supp)),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": i32(rng.integers(0, 25, n_supp)),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": i64(range(n_part)),
                "p_name": [
                    f"{ADJECTIVES[a]} {NOUNS[b]}"
                    for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": _pick(rng, P_TYPES, n_part),
                "p_size": i32(rng.integers(1, 51, n_part)),
                "p_retailprice": retail,
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": i64(range(n_ord)),
                "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
                "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
                "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
                "o_orderdate": _days(rng, n_ord, (1995, 1, 1), (2001, 8, 1)),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": i64(rng.integers(0, n_ord, n_li)),
                "l_partkey": i64(part_idx),
                "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
                "l_linenumber": i32(rng.integers(1, 8, n_li)),
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * retail[part_idx], 2),
                "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
                "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
                "l_returnflag": _pick(rng, ("R", "A", "N"), n_li),
                "l_linestatus": _pick(rng, ("O", "F"), n_li),
                "l_shipdate": _days(rng, n_li, (1995, 1, 2), (2001, 11, 4)),
            }
        ),
    }


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    c = counts(sf)
    # One child stream per table: a table's contents never depend on how
    # many draws another table made.
    streams = np.random.SeedSequence(seed).spawn(4)
    tables = star_tables(np.random.default_rng(streams[0]), c)
    tables["events"] = events_table(
        np.random.default_rng(streams[1]), c["events"], c["users"]
    )
    tables["documents"] = documents_table(
        np.random.default_rng(streams[2]), c["documents"]
    )
    tables["embeddings"] = embeddings_table(
        np.random.default_rng(streams[3]), c["embeddings"]
    )
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def split_files(table: pa.Table, out_dir: str, n_files: int, align: int = 1) -> list[str]:
    """Split a table (already in arrival order) into ``n_files`` contiguous
    parquet files; each cut falls on a multiple of ``align`` rows (8 for
    events: one block is 8 events). A file source replays files in
    modification-time order, so the files get mtimes one second apart in
    arrival order (files written within one clock tick would otherwise
    replay in arbitrary order)."""
    os.makedirs(out_dir, exist_ok=True)
    n = table.num_rows
    cuts = [min(n, (n * i // n_files) // align * align) for i in range(n_files + 1)]
    cuts[-1] = n
    paths = []
    for i in range(n_files):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(cuts[i], cuts[i + 1] - cuts[i]), path)
        os.utime(path, (_ARRIVAL_EPOCH + i, _ARRIVAL_EPOCH + i))
        paths.append(path)
    return paths
