"""Deterministic inputs for the benchmark.

Two kinds of input, both made here so a run needs nothing outside the
checkout:

* ``write_fixtures`` writes the ten fixture tables the registry's builders
  and DuckDB oracles read, one ``<table>.parquet`` each. They are the
  repository's seed-42 fixture sets rebuilt value for value: for every
  scale factor in ``SIZES`` each table equals the stored fixture file
  (``python3 perfbench/datagen.py --check <fixture-dir>`` compares them).
  Every run of every workload therefore reads the same stored data, as a
  dashboard reads the same ClickHouse tables all day.
* ``wire_batch`` makes one file of JSON messages for the ingest workload
  from the workload seed and the batch number, together with the typed
  rows the consumer must store for it (see ``wire_batch`` for the mix).

Only NumPy, pyarrow and the standard library are used, each single-threaded
or capped at the caller's thread budget.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42

# Row counts per table at each scale factor of the repository's fixture
# sets (``sf0.001``, ``sf0.01``, ``sf0.1``).
SIZES: dict[str, dict[str, int]] = {
    "sf0.001": {
        "customer": 150, "supplier": 10, "part": 200, "orders": 1500,
        "lineitem": 6000, "events": 1000, "documents": 500, "embeddings": 500,
    },
    "sf0.01": {
        "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500,
    },
    "sf0.1": {
        "customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
        "lineitem": 600000, "events": 100000, "documents": 5000,
        "embeddings": 2000,
    },
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = (
    "the a spark query table join group filter window data order customer "
    "part line fast slow big small hash sort merge scan agg stream batch "
    "vector key value row column"
).split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]  # drawn uniformly
EMBED_DIM = 64
EVENTS_START = np.datetime64("2024-01-01T00:00:00", "ns")
EVENTS_SPAN_S = 30 * 24 * 3600


def _days(rng: np.random.Generator, n: int, start: str, end: str) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = rng.integers(0, (hi - lo).astype(np.int64) + 1, n)
    return (lo + d.astype("timedelta64[D]")).astype("datetime64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def fixture_tables(size: str) -> dict[str, pa.Table]:
    """The ten fixture tables for one size, from ``FIXTURE_SEED``."""
    n = SIZES[size]
    rng = np.random.default_rng(FIXTURE_SEED)
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
    })

    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[k] for k in rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99),
    })
    npart = n["part"]
    adj, noun = rng.integers(0, 8, npart), rng.integers(0, 8, npart)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), i64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, npart)],
        "p_type": [PART_TYPES[k] for k in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": [("O", "F", "P")[k] for k in rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, no, 1000.0, 500000.0),
        "o_orderdate": pa.array(_days(rng, no, "1995-01-01", "2001-08-01")),
        "o_orderpriority": [PRIORITIES[k] for k in rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
        "l_discount": np.round(rng.uniform(0.0, 0.10, nl), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, nl), 2),
        "l_returnflag": [("R", "A", "N")[k] for k in rng.integers(0, 3, nl)],
        "l_linestatus": [("O", "F")[k] for k in rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(_days(rng, nl, "1995-01-02", "2001-11-04")),
    })

    ne = n["events"]
    # event times in nanoseconds, stored as microseconds (truncating)
    seconds = np.sort(rng.uniform(0, EVENTS_SPAN_S, ne))
    ts_ns = EVENTS_START + (seconds * 1e9).astype("timedelta64[ns]")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), i64),
        "ts": pa.array(ts_ns.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, max(1, ne * 15 // 1000), ne), i64),
        "event_type": [EVENT_TYPES[k] for k in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })

    nd = n["documents"]
    texts = [" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), rng.integers(10, 100)))
             for _ in range(nd)]
    # one document in twenty becomes a near-duplicate of another, in turn
    targets = rng.choice(nd, nd // 20, replace=False)
    for dst, src in zip(targets, rng.integers(0, nd, len(targets))):
        texts[dst] = texts[src] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), i64),
        "text": texts,
        "lang": [LANGS[k] for k in rng.integers(0, len(LANGS), nd)],
        "source": [f"src{k % 20}" for k in range(nd)],
        "n_chars": pa.array([len(s) for s in texts], i64),
    })

    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), i32),
    })
    return t


def write_fixtures(out_dir: str, size: str) -> dict[str, int]:
    """Write every fixture table to ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in fixture_tables(size).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


# --------------------------------------------------------------------------
# Ingest wire messages, one JSON object a line, in the dict shapes of the
# reference producer (app/for_rabbit/from_parser_to_rabbitmq.py).
#
# One file is one pass of the producer's main loop (:214-245) over a window
# of WIRE_HOURS hours: for each company in turn, its dimension row (:225-226),
# then its hourly candles (:229, CANDLE_INTERVAL_HOUR at :36), then its
# trades (:232), then its top-of-book snapshots, one per 15 minutes
# (collector :171-212, stepping at :181). The reference has the order-book
# call commented out (:240); it is switched on here because the consumer
# and analytics goal 4 read that feed. Two figures are assumed, not taken
# from the reference, which states neither: TRADES_PER_HOUR, and the shares
# of defective messages in DEFECT_SHARES (each kind is one of the
# consumer's reject paths, from_rabbitmq_to_clickhouse.py:122-175).

FEEDS = ("companies", "candles", "trades", "order_book")
WIRE_COMPANIES = {"bench": 50, "tiny": 5}
WIRE_HOURS = {"bench": 26, "tiny": 6}
TRADES_PER_HOUR = 10  # assumed
BOOK_PER_HOUR = 4  # one snapshot per 15 minutes
DEFECT_SHARES = {  # assumed
    "malformed": 0.02, "missing_field": 0.03, "bad_ts": 0.01, "unknown": 0.01}
WIRE_START = dt.datetime(2024, 3, 1)


def wire_msgs(size: str) -> int:
    """Messages in one ingest file of ``size``."""
    per_company = 1 + WIRE_HOURS[size] * (1 + TRADES_PER_HOUR + BOOK_PER_HOUR)
    return WIRE_COMPANIES[size] * per_company


def _company_block(rng: np.random.Generator, c: int, start: dt.datetime,
                   hours: int):
    """(table, message, stored row) for one company, in producer order."""
    cid, n = f"FIGI{c:02d}", f"{c:02d}"
    yield "companies", (
        {"company_id": cid, "name": f"Company {n}", "ticker": f"T{n}",
         "sector": f"SEC{c % 10}"},
        (cid, f"Company {n}", f"T{n}", f"SEC{c % 10}"))
    base = float(rng.uniform(10.0, 500.0))

    def stamp(seconds: int) -> tuple[dt.datetime, str]:
        ts = start + dt.timedelta(seconds=seconds)
        return ts, ts.strftime("%Y-%m-%d %H:%M:%S")

    for h in range(hours):
        ts, ts_s = stamp(h * 3600)
        o = round(base * float(rng.uniform(0.98, 1.02)), 4)
        c_ = round(base * float(rng.uniform(0.98, 1.02)), 4)
        hi, lo = round(max(o, c_) * 1.005, 4), round(min(o, c_) * 0.995, 4)
        vol = int(rng.integers(1, 100_000))
        yield "candles", (
            {"company_id": cid, "timestamp": ts_s, "open": o, "high": hi,
             "low": lo, "close": c_, "volume": vol},
            (cid, ts, o, hi, lo, c_, vol))
    step = 3600 // TRADES_PER_HOUR
    for h in range(hours):
        for j in range(TRADES_PER_HOUR):
            ts, ts_s = stamp(h * 3600 + j * step + int(rng.integers(0, step)))
            price = round(base * float(rng.uniform(0.98, 1.02)), 2)
            vol = int(rng.integers(1, 10_000))
            side = "buy" if rng.random() < 0.5 else "sell"
            yield "trades", (
                {"company_id": cid, "timestamp": ts_s, "price": price,
                 "volume": vol, "side": side},
                (cid, ts, price, vol, side))
    for q in range(hours * BOOK_PER_HOUR):
        ts, ts_s = stamp(q * 3600 // BOOK_PER_HOUR)
        bid = round(base * float(rng.uniform(0.98, 1.02)), 4)
        ask = round(bid * 1.001, 4)
        bvol, avol = (int(v) for v in rng.integers(1, 10_000, 2))
        yield "order_book", (
            {"company_id": cid, "timestamp": ts_s, "bid_price": bid,
             "bid_volume": bvol, "ask_price": ask, "ask_volume": avol},
            (cid, ts, bid, bvol, ask, avol))


def wire_batch(seed: int, batch: int, size: str):
    """(lines, expected) for ingest file number ``batch``.

    ``lines`` are the JSON messages in landing order; ``expected`` maps
    each table to the typed rows the consumer must store for this file
    (messages with a defect are counted in no table). File ``batch``
    covers hours ``batch * WIRE_HOURS`` onwards, so no two files repeat a
    fact row.
    """
    rng = np.random.default_rng([seed, batch])
    hours = WIRE_HOURS[size]
    start = WIRE_START + dt.timedelta(hours=batch * hours)
    defects = list(DEFECT_SHARES)
    cdf = np.cumsum(list(DEFECT_SHARES.values()))
    lines: list[str] = []
    expected: dict[str, list[tuple]] = {t: [] for t in FEEDS}
    for c in range(WIRE_COMPANIES[size]):
        for table, (msg, row) in _company_block(rng, c, start, hours):
            k = int(np.searchsorted(cdf, rng.random(), side="right"))
            kind = defects[k] if k < len(defects) else None
            if kind is None:
                expected[table].append(row)
            elif kind == "missing_field":
                del msg[list(msg)[int(rng.integers(0, len(msg)))]]
            elif kind == "bad_ts":
                if "timestamp" in msg:  # wrong pattern: try_to_timestamp -> null
                    msg["timestamp"] = msg["timestamp"].replace("-", "/")
                else:
                    msg["sector"] = None
            elif kind == "unknown":
                msg = {"company_id": msg["company_id"], "note": "heartbeat"}
            line = json.dumps(msg, separators=(",", ":"))
            if kind == "malformed":
                line = line[: len(line) // 2]
            lines.append(line)
    return lines, expected


def _check(fixture_dir: str) -> int:
    """Compare the generated tables with a stored fixture set."""
    sf = os.path.basename(os.path.normpath(fixture_dir))
    tables = fixture_tables(sf)
    bad = [name for name, table in tables.items()
           if not pq.read_table(os.path.join(fixture_dir, f"{name}.parquet"))
           .equals(table)]
    print(f"{sf}: {len(tables) - len(bad)} tables equal, differing: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--check", required=True, metavar="DIR",
                    help="a fixture directory named after its scale factor, "
                         "e.g. .../sf0.01")
    raise SystemExit(_check(ap.parse_args().check))
