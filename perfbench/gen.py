"""Seeded input generators and the pure-Python folds that say what the
program must answer for them.

Everything here is a function of a ``random.Random`` built from the
run's seed, so one seed always yields the same inputs.  The program only
ever sees the files written here."""

from __future__ import annotations

import datetime as dt
import itertools
import json
import math
import os
import string

import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

#: Arrow form of ``schemas.STOCK_TRANSACTION_SCHEMA``.
TXN_SCHEMA = pa.schema(
    [
        pa.field("symbol", pa.string(), nullable=False),
        pa.field("buy", pa.bool_(), nullable=False),
        pa.field("amount", pa.float64(), nullable=False),
        pa.field("number_shares", pa.int32(), nullable=False),
        pa.field("event_time", pa.timestamp("us", tz="UTC")),
    ]
)


def symbols(rng, n: int) -> list[str]:
    """``n`` distinct upper-case ticker symbols, sorted."""
    out: set[str] = set()
    while len(out) < n:
        k = rng.randint(3, 5)
        out.add("".join(rng.choice(string.ascii_uppercase) for _ in range(k)))
    return sorted(out)


class Zipf:
    """Zipf(s) popularity over ``items``: a seeded shuffle assigns the
    ranks, so the most popular symbol is not always the first one."""

    def __init__(self, rng, items, s: float = 1.1):
        self.items = list(items)
        rng.shuffle(self.items)
        self.cum = list(
            itertools.accumulate(1.0 / r**s for r in range(1, len(self.items) + 1))
        )

    def draw(self, rng) -> str:
        return rng.choices(self.items, cum_weights=self.cum)[0]

    def distinct(self, rng, k: int) -> list[str]:
        out: list[str] = []
        while len(out) < k:
            s = self.draw(rng)
            if s not in out:
                out.append(s)
        return out


def transactions(rng, pick, n: int, start: dt.datetime, span_s: float) -> list[tuple]:
    """``n`` rows of (symbol, buy, amount, number_shares, event_time);
    ``pick(rng)`` chooses each row's symbol."""
    return [
        (
            pick(rng),
            rng.random() < 0.5,
            round(rng.uniform(1.0, 1000.0), 2),
            rng.randint(1, 100),
            start + dt.timedelta(seconds=rng.uniform(0.0, span_s)),
        )
        for _ in range(n)
    ]


def write_transactions(path: str, rows) -> int:
    """Write rows as one parquet file, published by rename so a
    streaming reader never sees it half written.  Returns its size."""
    cols = list(zip(*rows)) if rows else [[] for _ in TXN_SCHEMA]
    table = pa.Table.from_arrays([pa.array(c, f.type) for c, f in zip(cols, TXN_SCHEMA)], schema=TXN_SCHEMA)
    head, name = os.path.split(path)
    tmp = os.path.join(head, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, path)
    return os.path.getsize(path)


def fold(rows, acc: dict | None = None) -> dict:
    """The reference aggregate, by hand: symbol → [buys, sells, shares]."""
    acc = {} if acc is None else acc
    for sym, buy, amount, shares, _t in rows:
        a = acc.setdefault(sym, [0.0, 0.0, 0])
        a[0 if buy else 1] += amount
        a[2] += shares
    return acc


def window_fold(rows, hours: int = 1) -> dict:
    """Tumbling-window aggregate: (window start, symbol) → [buys, sells, shares]."""
    acc: dict = {}
    width = hours * 3600
    for sym, buy, amount, shares, t in rows:
        secs = int((t - EPOCH).total_seconds() // width) * width
        a = acc.setdefault((EPOCH + dt.timedelta(seconds=secs), sym), [0.0, 0.0, 0])
        a[0 if buy else 1] += amount
        a[2] += shares
    return acc


def close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


def same_agg(row: dict, want) -> bool:
    """Does a served row {buys, sells, number_shares} equal a fold value?"""
    return (
        close(row["buys"], want[0])
        and close(row["sells"], want[1])
        and row["number_shares"] == want[2]
    )


# ---------------------------------------------------------------------------
# Batch tables: the TPC-H-shaped star schema plus the events stream, in
# the testdata layout the driver keys read (``{dir}/{table}.parquet``).
# ---------------------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_WORDS = (["blue", "cold", "hot", "large", "new", "old", "red", "small"],
               ["anvil", "gear", "rod", "widget"])
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _table(path: str, cols: dict, types: dict) -> None:
    pq.write_table(
        pa.table({k: pa.array(v, types[k]) for k, v in cols.items()}), path
    )


#: rows of ``orders`` and ``events``: the sf0.001 shape
N_ORDERS = 1500
N_EVENTS = 1000


def write_batch_tables(rng, out_dir: str) -> None:
    """Write the ten driver tables at roughly sf0.001 shape.  The key
    families the batch workload runs read all but ``documents`` and
    ``embeddings``; those two are written small, so the oracle's
    DuckDB views over all ten tables bind."""
    os.makedirs(out_dir, exist_ok=True)
    p = lambda t: os.path.join(out_dir, f"{t}.parquet")  # noqa: E731
    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")
    day0 = dt.datetime(1995, 1, 1)
    orders, events = N_ORDERS, N_EVENTS
    n_cust, n_supp, n_part, n_users = orders // 10, 10, orders // 7, 15

    _table(p("region"), {"r_regionkey": list(range(5)), "r_name": _REGIONS},
           {"r_regionkey": i32, "r_name": s})
    _table(p("nation"), {"n_nationkey": list(range(25)),
                         "n_name": [f"NATION_{i}" for i in range(25)],
                         "n_regionkey": [i % 5 for i in range(25)]},
           {"n_nationkey": i32, "n_name": s, "n_regionkey": i32})
    _table(p("customer"), {
        "c_custkey": list(range(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": [rng.randrange(25) for _ in range(n_cust)],
        "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n_cust)],
        "c_mktsegment": [rng.choice(_SEGMENTS) for _ in range(n_cust)],
    }, {"c_custkey": i64, "c_name": s, "c_nationkey": i32, "c_acctbal": f64, "c_mktsegment": s})
    _table(p("supplier"), {
        "s_suppkey": list(range(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": [rng.randrange(25) for _ in range(n_supp)],
        "s_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n_supp)],
    }, {"s_suppkey": i64, "s_name": s, "s_nationkey": i32, "s_acctbal": f64})
    _table(p("part"), {
        "p_partkey": list(range(n_part)),
        "p_name": [f"{rng.choice(_PART_WORDS[0])} {rng.choice(_PART_WORDS[1])}" for _ in range(n_part)],
        "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(n_part)],
        "p_type": [rng.choice(_PART_TYPES) for _ in range(n_part)],
        "p_size": [rng.randint(1, 50) for _ in range(n_part)],
        "p_retailprice": [round(900.0 + i * 0.1, 2) for i in range(n_part)],
    }, {"p_partkey": i64, "p_name": s, "p_brand": s, "p_type": s, "p_size": i32, "p_retailprice": f64})

    o_cols = {k: [] for k in ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                              "o_orderdate", "o_orderpriority")}
    l_cols = {k: [] for k in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                              "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
                              "l_linestatus", "l_shipdate")}
    for ok in range(orders):
        odate = day0 + dt.timedelta(days=rng.randrange(2404))
        total = 0.0
        for ln in range(1, rng.randint(1, 7) + 1):
            qty = float(rng.randint(1, 50))
            price = round(qty * rng.uniform(900.0, 2100.0), 2)
            total += price
            for k, v in (("l_orderkey", ok), ("l_partkey", rng.randrange(n_part)),
                         ("l_suppkey", rng.randrange(n_supp)), ("l_linenumber", ln),
                         ("l_quantity", qty), ("l_extendedprice", price),
                         ("l_discount", rng.randint(0, 10) / 100.0),
                         ("l_tax", rng.randint(0, 8) / 100.0),
                         ("l_returnflag", rng.choice("ANR")), ("l_linestatus", rng.choice("FO")),
                         ("l_shipdate", odate + dt.timedelta(days=rng.randint(1, 121)))):
                l_cols[k].append(v)
        for k, v in (("o_orderkey", ok), ("o_custkey", rng.randrange(n_cust)),
                     ("o_orderstatus", rng.choice("FOP")), ("o_totalprice", round(total, 2)),
                     ("o_orderdate", odate), ("o_orderpriority", rng.choice(_PRIORITIES))):
            o_cols[k].append(v)
    _table(p("orders"), o_cols, {"o_orderkey": i64, "o_custkey": i64, "o_orderstatus": s,
                                 "o_totalprice": f64, "o_orderdate": ts, "o_orderpriority": s})
    _table(p("lineitem"), l_cols, {"l_orderkey": i64, "l_partkey": i64, "l_suppkey": i64,
                                   "l_linenumber": i32, "l_quantity": f64, "l_extendedprice": f64,
                                   "l_discount": f64, "l_tax": f64, "l_returnflag": s,
                                   "l_linestatus": s, "l_shipdate": ts})

    t0 = dt.datetime(2024, 1, 1)
    stamps = sorted(rng.uniform(0, 30 * 86400) for _ in range(events))
    _table(p("events"), {
        "event_id": list(range(events)),
        "ts": [t0 + dt.timedelta(seconds=x) for x in stamps],
        "user_id": [rng.randrange(n_users) for _ in range(events)],
        "event_type": [rng.choice(_EVENT_TYPES) for _ in range(events)],
        "value": [round(rng.expovariate(1 / 50.0) + 0.01, 2) for _ in range(events)],
        "props": [json.dumps({"k": rng.randrange(100)}) for _ in range(events)],
    }, {"event_id": i64, "ts": ts, "user_id": i64, "event_type": s, "value": f64, "props": s})

    words = ["alpha", "beta", "gamma", "delta", "omega", "data", "query", "stream"]
    texts = [" ".join(rng.choice(words) for _ in range(rng.randint(5, 20))) for _ in range(16)]
    _table(p("documents"), {
        "doc_id": list(range(16)), "text": texts, "lang": ["en"] * 16,
        "source": [rng.choice(["web", "code", "book"]) for _ in range(16)],
        "n_chars": [len(t) for t in texts],
    }, {"doc_id": i64, "text": s, "lang": s, "source": s, "n_chars": i64})
    _table(p("embeddings"), {
        "vec_id": list(range(16)),
        "embedding": [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(16)],
        "label": [rng.randrange(4) for _ in range(16)],
    }, {"vec_id": i64, "embedding": pa.list_(pa.float32()), "label": i32})
