"""Benchmark: the reference ETL DAG and a registry query mix on local Spark.

    python3 perfbench/run.py --workload etl_incremental --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads:

- ``etl_incremental``  small landings back to back into one zone root;
- ``etl_batch``        one large landing per iteration, fresh zone root each;
- ``query_mix``        a fixed mix of registry keys over seeded tables.

Set-up counts from process start: imports, JVM and Spark session start,
the inputs, and the untimed warm-up (two landings, or every query key
collected once and counted once). Then operations run back to back for
``--seconds`` and every output is checked. Set-up and operations are
costed in CPU seconds of this process, the JVM and its Python workers;
their wall times go to stderr. The last stdout line is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` — the end-to-end
metrics with ``--trace 0``, the per-layer ones with ``--trace 1`` (the
spans go to stderr as JSON lines).

Everything the run writes lives in a scratch directory inside the
checkout, which is removed on exit.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import threading  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("etl_incremental", "etl_batch", "query_mix")
DRIVER_MEM = "2g"
# records per landing, landings per zone root (None: all), planted lines per mille
WARMUP_LANDINGS = 2
ETL_SIZES = {"etl_incremental": (1_000, None, 10), "etl_batch": (60_000, 1, 5)}
LAYERS = ["pipeline.extract", "pipeline.validate", "pipeline.zones",
          "sources.quarantine", "sinks.writers", "pipeline.catalog", "pipeline.dag",
          "plans", "operators", "streaming"]


def process_age_s() -> float:
    """Seconds since this process was started by the OS (to a clock tick)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


T_START, AGE_AT_START = time.perf_counter(), process_age_s()


def descendants(root: int | None = None, zombies: bool = False) -> list[int]:
    """Every process below ``root`` (default: this one), by the parent links in /proc."""
    parents: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if zombies or fields[0] != "Z":
                parents[int(d)] = int(fields[1])
    out, todo = [], [os.getpid() if root is None else root]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parents.items() if pp == p]
        out.extend(kids)
        todo.extend(kids)
    return out


class RssSampler(threading.Thread):
    """Peak summed RSS of the JVM and its Python worker processes.

    Other descendants are skipped: a child the JVM has forked but not yet
    exec'd (Hadoop's local file system shells out) briefly reports the
    JVM's own resident pages.
    """

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.peak_kb = pid, 0
        self._halt = threading.Event()

    def _tree_kb(self) -> int:
        total = 0
        for p in [self.pid] + descendants(self.pid):
            try:
                with open(f"/proc/{p}/status") as f:
                    status = dict(line.split(":", 1) for line in f)
            except OSError:
                continue
            if p == self.pid or status["Name"].strip().startswith("python"):
                total += int(status.get("VmRSS", "0 kB").split()[0])
        return total

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_kb())
            self._halt.wait(0.2)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        self.peak_kb = max(self.peak_kb, self._tree_kb())
        return self.peak_kb / 1024.0


def cpu_s() -> float:
    """CPU seconds used so far by this process, the JVM and Spark's Python workers.

    Ended children count through their parent's cutime/cstime once reaped,
    and through their own entry while they are zombies.
    """
    total = 0
    for pid in [os.getpid()] + descendants(zombies=True):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def become_subreaper() -> None:
    """Adopt orphaned descendants, so that Spark's Python workers can be waited for
    even after the JVM that forked them has gone."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def reap() -> None:
    """Collect every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_processes(spark) -> None:
    """Stop Spark and its JVM, then end every remaining descendant and wait for it.

    The JVM exits when its stdin closes; left to itself it would notice only
    after this process has gone, and run on a moment longer. A SIGTERM that
    comes in meanwhile is ignored, so the clean-up is not cut short.
    """
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    if spark is not None:
        proc = getattr(spark.sparkContext._gateway, "proc", None)
        try:
            spark.stop()
        finally:
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
    deadline = time.monotonic() + 10
    while True:
        reap()
        pids = descendants()
        if not pids:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def prepare_env(work: str) -> None:
    """Point every writer (Spark, the JVM, Python, the catalog) into ``work``."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    env = os.environ
    tmp = os.path.join(work, "tmp")
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # executors' Python workers import the package and the fetch closure's helpers
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p])
    env["PYTHONDONTWRITEBYTECODE"] = "1"
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # -XX:-UsePerfData: no /tmp/hsperfdata_* file. -Xms: a pinned heap, so the
    # JVM's resident size does not follow the collector's sizing decisions.
    # TieredStopAtLevel=1: C1 only. With C2 the CPU of a landing still fell by
    # a quarter over the first six landings after the warm-up, so a run's
    # figure depended on how many landings it fitted.
    env["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    env["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.driver.extraJavaOptions="
        f"'-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM} "
        "-XX:TieredStopAtLevel=1' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    os.chdir(work)


def quantile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the ``q`` quantile.

    A Beta(q(n+1), (1-q)(n+1))-weighted mean of all order statistics. A
    run yields a few dozen values drawn from a handful of keys, so the
    plain sample p90 often falls between two keys' values and jumps
    with a single slow execution; this estimate moves smoothly.
    """
    import math

    import numpy as np

    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    if n == 1:
        return float(x[0])
    a, b = q * (n + 1), (1 - q) * (n + 1)
    t = np.linspace(0.0, 1.0, 100_001)[1:-1]
    pdf = np.exp((a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
                 + math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b))
    cdf = np.concatenate([[0.0], np.cumsum(pdf) / pdf.sum(), [1.0]])
    edges = np.interp(np.arange(n + 1) / n, np.linspace(0.0, 1.0, len(cdf)), cdf)
    return float(np.dot(np.diff(edges), x))


class Run:
    def __init__(self, args, work: str):
        self.args, self.work = args, work
        self.attempted = self.failed = 0
        self.latencies: list[float] = []
        self.cpus: list[float] = []
        self.session: dict[str, float] = {}
        self.leaks: dict[str, int] = {}
        self.spark = None

    def op(self, name: str, error: str | None) -> None:
        self.attempted += 1
        if error is not None:
            self.failed += 1
            print(f"# FAIL {name}: {error}", file=sys.stderr)

    # ---------------------------------------------------------------- set-up
    def setup(self) -> None:
        t0 = time.perf_counter()
        from etl_pipeline_example_spark import get_spark
        from pyspark import cloudpickle

        import datagen

        # the seeded fetch closure must reach executors by value
        cloudpickle.register_pickle_by_value(datagen)
        t1 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        t2 = time.perf_counter()
        self.prepare()
        t3 = time.perf_counter()
        self.setup_s = cpu_s()
        wall = AGE_AT_START + (t3 - T_START)
        self.session = {"session.setup_wall_s": wall, "session.import_s": t1 - t0,
                        "session.start_s": t2 - t1, "session.warmup_s": t3 - t2}
        print(f"# setup {self.setup_s:.2f} cpu-s, {wall:.3f} s: import {t1 - t0:.3f} "
              f"start {t2 - t1:.3f} warm-up {t3 - t2:.3f}", file=sys.stderr)

    def prepare(self) -> None:
        """Build the workload's inputs and run its untimed warm-up pass."""
        from spans import Tracer

        self.tracer = Tracer(self.spark, False, f"{self.args.workload}-{self.args.seed}")
        if self.args.workload == "query_mix":
            import querymix

            self.mix = querymix.QueryMix(self.spark, self.tracer,
                                         os.path.join(self.work, "tables"), self.args.seed)
            for line in self.mix.gate_sides():
                print(f"# size gate {line}", file=sys.stderr)
            self.mix.warmup()
        else:
            import etl

            # the first landing after the cold one is still about 40 % slow
            root = os.path.join(self.work, "warmup")
            ep = etl.Episode(self.spark, self.tracer, root, self.args.seed, 1_000, 10)
            for landing in range(-WARMUP_LANDINGS, 0):
                ep.land(landing)
            shutil.rmtree(root)

    # ---------------------------------------------------------- measurement
    def measure(self) -> None:
        jvm = self.spark.sparkContext._jvm
        sampler = RssSampler(int(jvm.java.lang.ProcessHandle.current().pid()))
        sampler.start()
        before = self.leak_counts()
        if self.args.workload == "query_mix":
            self.measure_queries()
        else:
            self.measure_etl()
        after = self.leak_counts()
        self.peak_rss_mb = sampler.stop()
        self.leaks = {f"session.{k}_delta": after[k] - before[k] for k in before}

    def leak_counts(self) -> dict[str, int]:
        spark = self.spark
        return {
            "persisted_rdds": spark.sparkContext._jsc.getPersistentRDDs().size(),
            "temp_views": sum(1 for t in spark.catalog.listTables() if t.isTemporary),
            "tmpdirs": len(os.listdir(os.environ["TMPDIR"])),
        }

    def measure_etl(self) -> None:
        """Landings back to back until the deadline.

        ``etl_incremental`` lands every time into one zone root, so history
        grows through the run; ``etl_batch`` takes a fresh root per landing.
        The gates run when a root is done, outside the timed region.
        """
        import etl

        records, per_root, bad = ETL_SIZES[self.args.workload]
        deadline = time.perf_counter() + self.args.seconds
        landing, ep = 0, None
        while time.perf_counter() < deadline or not landing:
            if ep is None:
                root = os.path.join(self.work, f"zones-{landing}")
                ep, in_root = etl.Episode(self.spark, self.tracer, root, self.args.seed,
                                          records, bad, plant_fault=self.args.plant_fault), 0
            landing += 1
            in_root += 1
            self.tracer.enabled = bool(self.args.trace)
            c0 = cpu_s()
            try:
                latency, tasks = ep.land(landing)
            except Exception as exc:  # noqa: BLE001 — a failed task is a failed op
                latency, tasks = None, {}
                self.op(f"landing {landing}", f"{type(exc).__name__}: {exc}"[:300])
            self.tracer.flush()
            self.tracer.enabled = False
            for task, status in tasks.items():
                self.op(f"landing {landing} task {task}",
                        None if status == "success" else status)
            if latency is not None:
                self.latencies.append(latency)
                self.cpus.append(cpu_s() - c0)
                print(f"# landing {landing} {latency:.3f} s {self.cpus[-1]:.2f} cpu-s",
                      file=sys.stderr)
            if in_root == per_root:
                self.close_root(ep, root)
                ep = None
        if ep is not None:
            self.close_root(ep, root)

    def close_root(self, ep, root: str) -> None:
        if ep.landings:
            for gate, err in ep.gates():
                self.op(f"{os.path.basename(root)} gate {gate}", err)
        shutil.rmtree(root)

    def measure_queries(self) -> None:
        """Time whole passes over the mix, then check the warm-up rows.

        Every key ran once, cold, in the set-up's warm-up pass; its rows
        are compared with the DuckDB twin after the timed passes.
        """
        mix = self.mix
        deadline = time.perf_counter() + self.args.seconds
        passes = 0
        while time.perf_counter() < deadline or not passes:
            passes += 1
            order = list(mix.keys)
            mix.rng.shuffle(order)
            for key in order:
                c0 = cpu_s()
                try:
                    latency, n = mix.execute(key, bool(self.args.trace))
                except Exception as exc:  # noqa: BLE001 — a failed key is a failed op
                    self.op(f"query {key}", f"{type(exc).__name__}: {exc}"[:300])
                    continue
                want = mix.expected_rows(key)
                self.op(f"query {key}", None if n == want else f"{n} rows, warm-up {want}")
                self.latencies.append(latency)
                self.cpus.append(cpu_s() - c0)
                print(f"# query {key} {latency:.3f} s {self.cpus[-1]:.2f} cpu-s",
                      file=sys.stderr)
        for key in mix.keys:
            try:
                err = mix.check(key)
            except Exception as exc:  # noqa: BLE001
                err = f"{type(exc).__name__}: {exc}"[:300]
            self.op(f"oracle {key}", err)
        mix.close()

    # --------------------------------------------------------------- report
    def end_to_end(self) -> dict[str, tuple[float, str]]:
        lat, cpus = self.latencies, self.cpus
        print(f"# wall op_p50_s {statistics.median(lat):.4f} op_p90_s {quantile(lat, 0.9):.4f} "
              f"ops_per_min {60.0 * len(lat) / sum(lat):.3f}", file=sys.stderr)
        return {
            "setup_s": (self.setup_s, "s"),
            "peak_rss_mb": (self.peak_rss_mb, "MB"),
            "cpu_per_op_s": (sum(cpus) / len(cpus), "s"),
            "op_cpu_p90_s": (quantile(cpus, 0.9), "s"),
        }

    def per_layer(self) -> dict[str, tuple[float, str]]:
        from spans import self_times, spark_totals

        spans = self.tracer.spans
        ops = len(self.latencies)
        out: dict[str, tuple[float, str]] = {
            k: (v, "s") for k, v in self.session.items()}
        for k, v in self.leaks.items():
            out[k] = (v, "count")
        for k, v in spark_totals(spans).items():
            unit = "s/op" if k.endswith("_s") else (
                "B/op" if k.endswith("_bytes") else "count/op")
            out[f"spark.{k}"] = (v / ops, unit)
        selfs = self_times(spans)
        wall = sum(r["wall_s"] for r in spans if r["parent"] is None) or 1.0
        for layer in LAYERS:
            share = sum(v for k, v in selfs.items()
                        if k == layer or k.startswith(layer + "."))
            out[f"{layer}.self_pct"] = (100.0 * share / wall, "%")
        # compare with cpu_per_op_s (and the wall op_p50_s on stderr) of an
        # untraced run of the same seed
        out["trace.cpu_per_op_s"] = (sum(self.cpus) / ops, "s")
        out["trace.op_p50_s"] = (statistics.median(self.latencies), "s")
        out["trace.overhead_s"] = (self.tracer.cost_s / ops, "s/op")
        return out

    def layer_report(self) -> dict[str, float]:
        """Module-level numbers of the traced run: per landing, or per key execution."""
        ops = len(self.latencies)
        rep: dict[str, float] = {}
        execs: dict[str, list[tuple[str, str, float]]] = {}

        def add(key, v):
            rep[key] = rep.get(key, 0.0) + v / ops

        names = {"extract": "extract", "validate": "validate", "promote": "promote",
                 "quarantine": "quarantine", "run-curated": "curate",
                 "deploy-database": "deploy", "read-catalog": "catalog_read",
                 "dag": "dag"}
        for r in self.tracer.spans:
            short = names.get(r["name"])
            if short:
                add(f"{short}.s", r["wall_s"])
                add(f"{short}.self_s", r["wall_s"] - r["child_s"])
                for k, v in r["attrs"].items():
                    add(f"{short}.{k}", v)
            elif r["layer"].endswith((".build", ".exec")):
                mod, part = r["layer"].rsplit(".", 1)
                execs.setdefault(mod, []).append((r["name"], part, r["wall_s"]))
        for mod, rows in execs.items():
            n = sum(1 for _, part, _ in rows if part == "build")
            for part in ("build", "exec"):
                rep[f"{mod}.{part}_s"] = sum(w for _, p, w in rows if p == part) / n
            rep[f"{mod}.keys"] = len({name.split(":")[0] for name, _, _ in rows})
        if "dag.self_s" in rep:
            rep["dag.overhead_s"] = rep["dag.self_s"]
        if rep.get("quarantine.rows_in"):
            rep["quarantine.good_ratio"] = 1 - rep["quarantine.rows_bad"] / rep[
                "quarantine.rows_in"]
        return rep


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-fault", action="store_true",
                    help="drop one raw-hist line before curate (gate self-test)")
    args = ap.parse_args(argv)
    if args.plant_fault and args.workload == "query_mix":
        ap.error("--plant-fault applies to the etl workloads")
    for need in ("etl_pipeline_example_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2
    sys.path[:0] = [ROOT, HERE]

    # on SIGTERM, unwind through the finally below: stop Spark, remove scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    become_subreaper()
    scratch = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(scratch, f"{args.workload}-{os.getpid()}")
    cwd = os.getcwd()
    prepare_env(work)
    run = Run(args, work)
    try:
        run.setup()
        run.measure()
    finally:
        try:
            stop_processes(run.spark)
        finally:
            os.chdir(cwd)
            shutil.rmtree(work, ignore_errors=True)
            if os.path.isdir(scratch) and not os.listdir(scratch):
                os.rmdir(scratch)

    if args.trace:
        metrics = run.per_layer()
        run.tracer.dump(sys.stderr)
        for k, v in sorted(run.layer_report().items()):
            print(f"# layer {k} = {v:.6g}", file=sys.stderr)
    else:
        metrics = run.end_to_end()
    print(f"# {args.workload} seed={args.seed} ops={len(run.latencies)} "
          f"failed_ratio={run.failed / max(1, run.attempted):.4f}", file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
