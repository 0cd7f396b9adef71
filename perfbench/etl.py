"""The reference ETL DAG, one landing at a time, with its correctness gates.

One landing runs ``extract >> test-extract >> quarantine >> run-curated
>> deploy-database >> read-catalog`` through the package's ``Pipeline``:

- ``extract_to_land`` lands seeded nested records as jsonl.gz;
- ``validate_landed`` checks the landing, ``promote_to_raw_distributed``
  moves it to raw-hist;
- ``read_jsonl_quarantine`` splits all of raw-hist, the bad side goes to
  a quarantine sink;
- ``version_stamp`` + ``write_curated`` rewrite a row-level table, and
  ``calculated_counts`` + ``write_curated`` add one snapshot partition;
- ``deploy_database`` (re)registers both tables, then the new snapshot
  is read back by name.

A landing's latency runs from extract start until that read returns.
The gates run after it, outside the timed region.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time
from collections import Counter

import datagen
from etl_pipeline_example_spark.functions.transforms import calculated_counts, version_stamp
from etl_pipeline_example_spark.metadata.spec import DatabaseSpec, TableSpec
from etl_pipeline_example_spark.pipeline import (
    Pipeline,
    ZoneStore,
    deploy_database,
    extract_to_land,
    promote_to_raw_distributed,
    validate_landed,
)
from etl_pipeline_example_spark.sinks.writers import write_curated, write_jsonl_gz
from etl_pipeline_example_spark.sources.quarantine import read_jsonl_quarantine

DATASET, TABLE, DB = "open_data", "records", "bench_db"
VERSION = "v1.0.0"
RAW_SPEC = TableSpec.from_dict({
    "name": TABLE, "data_format": "json",
    "columns": [
        {"name": "index", "type": "long"},
        {"name": "name", "type": "character"},
        {"name": "region", "type": "character"},
        {"name": "codes_a", "type": "character"},
        {"name": "codes_b", "type": "character"},
        {"name": "amount", "type": "double"},
    ],
})
ROWS_SPEC = TableSpec.from_dict({
    "name": "records", "data_format": "parquet", "location": "records",
    "columns": RAW_SPEC.to_dict()["columns"] + [
        {"name": "dea_version", "type": "character"}],
})
CALC_SPEC = TableSpec.from_dict({
    "name": "calculated", "data_format": "parquet", "location": "calculated",
    "columns": [
        {"name": "region", "type": "character"},
        {"name": "n", "type": "long"},
        {"name": "dea_version", "type": "character"},
        {"name": "dea_snapshot_date", "type": "date"},
    ],
    "partitions": ["dea_snapshot_date"],
})
DB_SPEC = DatabaseSpec(name=DB, tables=[ROWS_SPEC, CALC_SPEC])

LAYER = {
    "extract": "pipeline.extract",
    "validate": "pipeline.validate",
    "promote": "pipeline.zones",
    "quarantine": "sources.quarantine",
    "run-curated": "sinks.writers",
    "deploy-database": "pipeline.catalog",
    "read-catalog": "pipeline.catalog",
}


def _tree_size(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring Spark's marker files."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


class Episode:
    """Landings into one zone root, with the expected state tracked in Python."""

    def __init__(self, spark, tracer, root: str, seed: int, records: int,
                 bad_per_mille: int, plant_fault: bool = False):
        self.spark, self.tracer = spark, tracer
        self.zones = ZoneStore(root)
        self.seed, self.records, self.bad = seed, records, bad_per_mille
        self.plant_fault = plant_fault
        self.landings = 0
        self.planted: set[str] = set()
        self.good: Counter[str] = Counter()
        self.expected_snapshots: dict[str, dict[str, int]] = {}
        self.snapshot_rows: dict[str, list | None] = {}
        self.sink = f"{self.zones.root}/quarantine/{TABLE}"

    def land(self, landing_id: int) -> tuple[float, dict[str, str]]:
        """Run the DAG for one landing; return (latency_s, task id -> status)."""
        spark, tr, zones = self.spark, self.tracer, self.zones
        ts = 1_700_000_000 + landing_id
        snap = (dt.date(2026, 1, 1) + dt.timedelta(days=landing_id)).isoformat()
        fetch = datagen.make_fetch(self.seed, landing_id, self.bad)
        planted, good_counts = datagen.expected_landing(self.seed, landing_id,
                                                        self.records, self.bad)
        raw_hist = zones.raw_hist_path(DATASET, TABLE)
        curated = zones.curated_path(DB, "")

        def extract():
            with tr.span("extract", LAYER["extract"]) as attrs["extract"]:
                path = extract_to_land(spark, zones, DATASET, TABLE, fetch,
                                       self.records, ts)
                if tr.enabled:
                    attrs["extract"]["files"], attrs["extract"]["bytes"] = _tree_size(path)
            return path

        def test_extract():
            with tr.span("validate", LAYER["validate"]) as a:
                rep = validate_landed(spark, zones.land_path(DATASET, TABLE),
                                      RAW_SPEC, min_rows=1)
                a["partitions"] = rep.partitions_checked
            with tr.span("promote", LAYER["promote"]) as a:
                moved = promote_to_raw_distributed(spark, zones, DATASET, TABLE)
                if tr.enabled:
                    a["files"], a["bytes"] = _tree_size(moved[0])
            if self.plant_fault:
                _drop_one_line(moved[0])
            return moved

        def quarantine():
            with tr.span("quarantine", LAYER["quarantine"]) as attrs["quarantine"]:
                good, bad = read_jsonl_quarantine(spark, raw_hist, RAW_SPEC)
                tr.plan(bad)
                write_jsonl_gz(bad, self.sink)
            return good, bad

        def run_curated():
            good = results["quarantine"][0]
            with tr.span("run-curated", LAYER["run-curated"]) as attrs["run-curated"]:
                a = attrs["run-curated"]
                rows = version_stamp(good, VERSION)
                tr.plan(rows)
                write_curated(rows, ROWS_SPEC, f"{curated}/records")
                calc = version_stamp(calculated_counts(good, "region"), VERSION)
                tr.plan(calc)
                write_curated(calc, CALC_SPEC, f"{curated}/calculated",
                              partition_values={"dea_snapshot_date": snap})
                if tr.enabled:
                    a["files"], a["bytes"] = _tree_size(curated)

        def deploy():
            with tr.span("deploy-database", LAYER["deploy-database"]) as a:
                deploy_database(spark, DB_SPEC, curated)
                if tr.enabled:
                    a["partitions"] = sum(1 for d in os.listdir(f"{curated}/calculated")
                                          if d.startswith("dea_snapshot_date="))

        def read_catalog():
            with tr.span("read-catalog", LAYER["read-catalog"]):
                return (spark.table(f"{DB}.calculated")
                        .where(f"dea_snapshot_date = DATE'{snap}'")
                        .collect())

        results: dict = {}
        attrs: dict[str, dict] = {}
        pipe = Pipeline(f"etl-{landing_id}")

        def task(name, fn, after=None):
            def run():
                results[name] = fn()
                return results[name]
            pipe.task(name, run, after=after)

        task("extract", extract)
        task("test-extract", test_extract, ["extract"])
        task("quarantine", quarantine, ["test-extract"])
        task("run-curated", run_curated, ["quarantine"])
        task("deploy-database", deploy, ["run-curated"])
        task("read-catalog", read_catalog, ["deploy-database"])
        t0 = time.perf_counter()
        try:
            with tr.span("dag", "pipeline.dag") as a:
                pipe.run()
        finally:
            latency = time.perf_counter() - t0
            tasks = {k: v["status"] for k, v in pipe.last_state.items()}
            if tr.enabled:
                a["attempts"] = sum(v["attempts"] for v in pipe.last_state.values())
                self._count_outputs(results, attrs)
        self.planted |= planted
        self.good += good_counts
        self.expected_snapshots[snap] = dict(self.good)
        self.snapshot_rows[snap] = results.get("read-catalog")
        self.landings += 1
        return latency, tasks

    def _count_outputs(self, results: dict, attrs: dict[str, dict]) -> None:
        """Traced runs only: row counts of what this landing's tasks produced.

        Runs after the DAG, outside every span and the landing's latency;
        its time is charged to the tracer.
        """
        c0 = time.perf_counter()
        if "test-extract" in results:
            attrs["extract"]["rows"] = _count_lines(results["test-extract"][0])
        if "quarantine" in results:
            good, bad = results["quarantine"]
            n_bad = bad.count()
            attrs["quarantine"]["rows_bad"] = n_bad
            attrs["quarantine"]["rows_in"] = good.count() + n_bad
        if "run-curated" in attrs:
            attrs["run-curated"]["rows_out"] = self.spark.read.parquet(
                self.zones.curated_path(DB, "records")).count()
        self.tracer.cost_s += time.perf_counter() - c0

    def gates(self) -> list[tuple[str, str | None]]:
        """Check the invariants over every landing so far: [(gate, error or None)]."""
        from pyspark.sql import functions as F

        spark, zones = self.spark, self.zones
        out: list[tuple[str, str | None]] = []

        def check(name, ok, detail):
            out.append((name, None if ok else detail))

        landed = self.records * self.landings
        promoted = spark.read.text(zones.raw_hist_path(DATASET, TABLE)).count()
        # the quarantine sink as the last landing's DAG wrote it: all bad lines
        bad_names = Counter(r[0] for r in spark.read.text(self.sink).select(
            F.get_json_object(F.get_json_object("value", "$.raw_line"), "$.name")
        ).collect())
        n_bad = sum(bad_names.values())
        n_rows = spark.read.parquet(zones.curated_path(DB, "records")).count()
        check("landed=promoted=curated+quarantined",
              landed == promoted == n_rows + n_bad,
              f"landed {landed} promoted {promoted} curated {n_rows} quarantined {n_bad}")
        check("quarantined=planted", bad_names == Counter(self.planted),
              f"{len(set(bad_names) ^ self.planted)} names differ, {n_bad} lines")
        check("curated rows=good", n_rows == sum(self.good.values()),
              f"curated {n_rows} expected {sum(self.good.values())}")
        # each landing's snapshot, as its read-catalog task saw it
        for snap, want in self.expected_snapshots.items():
            got = {r["region"]: r["n"] for r in self.snapshot_rows[snap] or []}
            check(f"calculated[{snap}]=expected", got == want,
                  f"got {json.dumps(got, sort_keys=True)}")
        n_cat = spark.table(f"{DB}.calculated").count()
        want_rows = sum(len(v) for v in self.expected_snapshots.values())
        check("catalog by name", n_cat == want_rows,
              f"{n_cat} rows, expected {want_rows}")
        return out


def _count_lines(partition: str) -> int:
    """Lines in the gzipped JSONL files under ``partition``."""
    import gzip

    n = 0
    for root, _dirs, names in os.walk(partition):
        for name in names:
            if name.endswith(".gz"):
                with gzip.open(os.path.join(root, name), "rt") as f:
                    n += sum(1 for _ in f)
    return n


def _drop_one_line(partition: str) -> None:
    """Planted fault: remove the first line of one promoted raw-hist file."""
    import gzip

    for root, _dirs, names in os.walk(partition):
        for n in sorted(names):
            if n.endswith(".gz"):
                p = os.path.join(root, n)
                with gzip.open(p, "rt") as f:
                    lines = f.read().splitlines()
                if lines:
                    with gzip.open(p, "wt") as f:
                        f.write("\n".join(lines[1:]) + ("\n" if len(lines) > 1 else ""))
                    crc = os.path.join(root, f".{n}.crc")
                    if os.path.exists(crc):
                        os.remove(crc)
                    return
