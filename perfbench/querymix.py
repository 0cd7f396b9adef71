"""Read-only registry keys in a closed loop, checked against their DuckDB twins.

The mix is fixed so that runs with different seeds time the same keys:

- the paper's transform keys;
- ``q_numeric_corr``, whose module gates its plan on input size
  (lineitem.parquet >= 512 KiB: a repartitioned moment pass). At
  ``TABLE_SF`` lineitem is about 1 MiB, so it takes that big path;
  ``gate_sides`` reports the side at set-up;
- a sample of the other keys, stratified by the subpackage that owns
  them (``plans``, ``operators``, ``streaming``): every ``STRIDE``-th key
  of each, in sorted order, from a fixed offset. Keys in a module with a
  size gate or a dual plan path (``graph_*``, the dedup and census keys)
  are left out of it.

The seed sets the generated table contents and the run order of every
pass. The untimed warm-up collects every key once, cold, and counts
each once more; the collected rows are compared with the key's
``oracle_sql()`` twin after the timed passes.
Each timed execution is materialised with ``.count()`` as ``bench.py``
does, and its count must match the warm-up's row count.
"""

from __future__ import annotations

import math
import random
import sys
import time
from datetime import date, datetime
from decimal import Decimal

import datagen

PAPER_KEYS = ["meta_align", "unpack_nested", "version_stamp", "q_calculated"]
GATE_KEYS = ["q_numeric_corr"]
DUAL_PATH_KEYS = {"dedup_cluster", "semdedup_canonical", "semdedup_prune_2l",
                  "dq_distinct_census", "q_numeric_corr"}  # and every graph_* key
SAMPLED_LAYERS = ["plans", "operators", "streaming"]
STRIDE, OFFSET = 80, 61
TABLE_SF = 0.01
# key -> (file whose size it gates on, size in bytes -> plan path), as in
# plans/numcorr.py
SIZE_GATES = {
    "q_numeric_corr": ("lineitem.parquet",
                       lambda n: "repartitioned" if n >= 512 << 10 else "single task"),
}


def select_keys(fns: dict) -> list[str]:
    rest = sorted(k for k in fns if k not in PAPER_KEYS
                  and k not in DUAL_PATH_KEYS and not k.startswith("graph_"))
    sample = []
    for layer in SAMPLED_LAYERS:
        keys = [k for k in rest if key_layer(fns[k]) == layer]
        sample += keys[OFFSET % len(keys)::STRIDE]
    return PAPER_KEYS + GATE_KEYS + sample


def key_layer(fn) -> str:
    """The package subpackage that owns a registry function."""
    parts = fn.__module__.split(".")
    return parts[1] if parts[0] == "etl_pipeline_example_spark" and len(parts) > 1 else "entry"


class QueryMix:
    def __init__(self, spark, tracer, data_dir: str, seed: int):
        import __spark_entry__ as entry

        self.spark, self.tracer = spark, tracer
        self.data_dir = data_dir
        self.fns = entry.queries()
        self.oracles = entry.oracle_sql()
        self.keys = select_keys(self.fns)
        datagen.write_registry_tables(data_dir, seed, TABLE_SF)
        self.rng = random.Random(seed)

    def gate_sides(self) -> list[str]:
        """Which side of its size gate each gated key takes on these tables."""
        import os

        out = []
        for key, (table, side) in SIZE_GATES.items():
            size = os.path.getsize(os.path.join(self.data_dir, table))
            out.append(f"{key}: {table} {size} B -> {side(size)}")
        return out

    def warmup(self) -> None:
        """The untimed passes: collect every key once, keeping rows or error;
        then count each once more."""
        self.first: dict[str, tuple[list[str], list[tuple]] | str] = {}
        for key in self.keys:
            t0 = time.perf_counter()
            try:
                df = self.fns[key](self.spark, self.data_dir)
                self.first[key] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception as exc:  # noqa: BLE001 — reported by check()
                self.first[key] = f"{type(exc).__name__}: {exc}"[:300]
            print(f"# warm-up {key} {time.perf_counter() - t0:.3f}", file=sys.stderr)
        # then one pass as the timed ones run it: the first count of a key
        # after the cold collect still took two to three times its later CPU
        for key in self.keys:
            try:
                self.fns[key](self.spark, self.data_dir).count()
            except Exception:  # noqa: BLE001 — the timed passes report it
                pass

    def execute(self, key: str, traced: bool) -> tuple[float, int]:
        """One timed execution: (latency_s, row count)."""
        tr, spark, fn = self.tracer, self.spark, self.fns[key]
        layer = key_layer(fn)
        tr.enabled = traced
        t0 = time.perf_counter()
        with tr.span(key, layer) as a:
            with tr.span(f"{key}:build", f"{layer}.build"):
                df = fn(spark, self.data_dir)
            with tr.span(f"{key}:exec", f"{layer}.exec"):
                if traced:
                    cdf = df.groupBy().count()
                    tr.plan(cdf)
                    n = a["rows"] = cdf.collect()[0][0]
                else:
                    n = df.count()
        dt = time.perf_counter() - t0
        tr.flush()
        tr.enabled = False
        return dt, n

    def expected_rows(self, key: str) -> int | None:
        first = self.first[key]
        return None if isinstance(first, str) else len(first[1])

    def check(self, key: str) -> str | None:
        """Compare the warm-up rows with the key's DuckDB twin; None when equal."""
        first = self.first[key]
        if isinstance(first, str):
            return first
        cols, got = first
        if key not in self.oracles:
            return None
        con = self._duck()
        tbl = con.sql(self.oracles[key]).arrow()
        want = list(zip(*(c.to_pylist() for c in tbl.columns))) if tbl.num_columns else []
        if sorted(cols) != sorted(tbl.schema.names):
            return f"columns {sorted(cols)} vs {sorted(tbl.schema.names)}"
        if len(got) != len(want):
            return f"rows {len(got)} vs {len(want)}"
        a, b = _canon(got, cols), _canon(want, tbl.schema.names)
        for i, (ra, rb) in enumerate(zip(a, b)):
            if not all(_close(x, y) for x, y in zip(ra, rb)):
                return f"row {i}: spark={ra} duckdb={rb}"
        return None

    def _duck(self):
        if not hasattr(self, "_con"):
            import duckdb

            self._con = duckdb.connect()
            for t in datagen.TABLES:
                self._con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                              f"'{self.data_dir}/{t}.parquet'")
        return self._con

    def close(self) -> None:
        if hasattr(self, "_con"):
            self._con.close()


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _sort_key(v):
    if v is None:
        return (0, "")
    if isinstance(v, float):
        return (1, f"{v:.6e}")
    return (1, str(v))


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple(_sort_key(x) for x in t))


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return abs(a - b) <= 1e-6 * max(1.0, abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b
