"""Seeded inputs for the benchmark workloads.

Two kinds of input, both a pure function of ``--seed``:

- ETL records: nested API-style records (``codes{a,b}``, mixed-case
  ``region``, numeric ``amount``) fetched by index on the executors, plus
  a seeded share of planted lines whose ``amount`` is a string. The
  planted lines keep the column set intact, so they pass the landing
  column gate and only the per-row quarantine can catch them.
  ``expected_landing`` recomputes in plain Python what the pipeline
  must produce from the same seed.
- Registry tables: the ten TPC-H-ish tables the registry keys read
  (region … lineitem, events, documents, embeddings), with the column
  names and types of the project's test data, written as parquet.
"""

from __future__ import annotations

import datetime as dt
from collections import Counter
from pathlib import Path

REGIONS = ["London", "LONDON", "london", "Wales", "WALES", "Scotland",
           "scotland", "Northern Ireland", "NORTHERN IRELAND", "Midlands"]
_MASK = (1 << 64) - 1


def _mix(x: int) -> int:
    """splitmix64 finaliser: a fast, well-spread 64-bit hash."""
    x = (x + 0x9E3779B97F4A7C15) & _MASK
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _MASK
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _MASK
    return x ^ (x >> 31)


def make_fetch(seed: int, landing: int, bad_per_mille: int):
    """Return ``fetch(index) -> dict`` for one landing.

    Record ``i`` of landing ``landing`` is planted (``amount`` is a
    non-numeric string) when its hash falls under ``bad_per_mille``.
    The landing id rides in ``name`` so a quarantined raw line can be
    traced back to the record that produced it.
    """
    base = _mix(seed * 1_000_003 + landing)

    def fetch(i: int) -> dict:
        h = _mix(base ^ (i * 0xD6E8FEB86659FD93 & _MASK))
        bad = (h & 1023) * 1000 < bad_per_mille * 1024
        amount = f"n/a-{i}" if bad else ((h >> 10) & 0xFFFFF) / 100.0
        return {
            "name": f"rec-{landing}-{i}",
            "region": REGIONS[(h >> 32) % len(REGIONS)],
            "codes": {"a": f"A{(h >> 40) & 0xFFF}", "b": f"B{(h >> 52) & 0xFFF}"},
            "amount": amount,
        }

    return fetch


def expected_landing(seed: int, landing: int, n: int, bad_per_mille: int):
    """(planted names, lower(region) → good-row count) for one landing."""
    fetch = make_fetch(seed, landing, bad_per_mille)
    planted: set[str] = set()
    counts: Counter[str] = Counter()
    for i in range(n):
        rec = fetch(i)
        if isinstance(rec["amount"], str):
            planted.add(rec["name"])
        else:
            counts[rec["region"].lower()] += 1
    return planted, counts


# --------------------------------------------------------------------------
# registry tables

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
_WORDS = ("a the row key agg scan slow fast table value part hash merge batch "
          "spark line sort window data column join small query customer big "
          "filter order group stream vector dup").split()


def write_registry_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten registry tables at scale ``sf`` as parquet."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)

    def i32(a):
        return pa.array(np.asarray(a, dtype=np.int32))

    def i64(a):
        return pa.array(np.asarray(a, dtype=np.int64))

    def f64(a):
        return pa.array(np.asarray(a, dtype=np.float64))

    def pick(choices, n):
        return pa.array([choices[j] for j in rng.integers(0, len(choices), n)])

    def days(start: dt.date, end: dt.date, n: int):
        span = (end - start).days
        base = np.datetime64(start.isoformat(), "us")
        d = rng.integers(0, span + 1, n).astype("timedelta64[D]")
        return pa.array(base + d.astype("timedelta64[us]"), pa.timestamp("us"))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def put(name: str, cols: dict):
        pq.write_table(pa.table(cols), out / f"{name}.parquet")

    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1_000, int(1_000_000 * sf))

    put("region", {"r_regionkey": i32(range(5)),
                   "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                       "MIDDLE EAST"])})
    put("nation", {"n_nationkey": i32(range(25)),
                   "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
                   "n_regionkey": i32([k % 5 for k in range(25)])})
    put("customer", {
        "c_custkey": i64(range(n_cust)),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_cust)]),
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": f64(money(-999.99, 9999.99, n_cust)),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                              "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    put("supplier", {
        "s_suppkey": i64(range(n_supp)),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_supp)]),
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": f64(money(-999.99, 9999.99, n_supp)),
    })
    adjs = ["blue", "red", "hot", "small", "green", "steel", "big", "cold"]
    nouns = ["anvil", "widget", "bolt", "gear", "ring", "gizmo", "nut", "cog"]
    put("part", {
        "p_partkey": i64(range(n_part)),
        "p_name": pa.array([f"{adjs[a]} {nouns[b]}" for a, b in
                            rng.integers(0, 8, (n_part, 2))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pick(["ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE",
                        "PROMO"], n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": f64(money(900.0, 999.9, n_part)),
    })
    put("orders", {
        "o_orderkey": i64(range(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": f64(money(1000.0, 500_000.0, n_ord)),
        "o_orderdate": days(dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                 "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    put("lineitem", {
        "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
        "l_partkey": i64(rng.integers(0, n_part, n_line)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": f64(qty),
        "l_extendedprice": f64(np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2)),
        "l_discount": f64(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": f64(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": days(dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line),
    })
    step = rng.integers(1, 2 * 30 * 86_400_000_000 // n_ev, n_ev)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(step).astype(
        "timedelta64[us]")
    put("events", {
        "event_id": i64(range(n_ev)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": i64(rng.integers(0, max(15, n_ev // 66), n_ev)),
        "event_type": pick(["click", "signup", "error", "view", "purchase"], n_ev),
        "value": f64(money(0.01, 490.0, n_ev)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    n_doc = 500
    texts = [" ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS), rng.integers(8, 90)))
             for _ in range(n_doc)]
    langs = ["en"] * 4 + ["fr", "es", "zh", "de"]
    put("documents", {
        "doc_id": i64(range(n_doc)),
        "text": pa.array(texts),
        "lang": pick(langs, n_doc),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_doc)]),
        "n_chars": i64([len(t) for t in texts]),
    })
    labels = rng.integers(0, 10, n_doc)
    centres = rng.normal(0.0, 1.0, (10, 64))
    vecs = centres[labels] + rng.normal(0.0, 0.8, (n_doc, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": i64(range(n_doc)),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": i32(labels),
    })
