"""Benchmark of the spark-graft engine: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads, scale and the layer map live in ``perfbench/workloads.json``.
A run generates its inputs from ``--seed`` (``datagen.py`` tables for
``queries_build_bound``; for ``pipeline_daily`` the engine's fake Monzo
fetch with a seeded cursor start day), sets the engine up once from a
cold JVM (with a warm-up pass of the queries), then drives one
closed-loop client through whole passes until ``--seconds`` have passed
and the workload's ``passes_min`` are done, and checks every output:
query results against their DuckDB oracle twins, pipeline run
reports and reads against values replayed from the generator.

The last line on stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``, by the names
and units ``BENCHMARK.json`` declares. The full record
(per-op samples, host state, seeds, spans) goes to
``perfbench/.work/results/``; nothing is written outside
``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import subprocess
import sys
import time
from contextlib import contextmanager
from datetime import datetime, timedelta
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
RESULTS = os.path.join(WORK, "results")
NPROC = len(os.sched_getaffinity(0))  # what nproc prints


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def preflight() -> str | None:
    """Why the engine cannot be benchmarked from this checkout, or None."""
    for rel in ("monzo_data_pipeline_spark/registry.py", "tools/oracle_check.py", "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            return f"engine source missing: {rel} not found under {ROOT}"
    return None


def pin_environment(run_dir: str, driver_mem: str) -> dict:
    """Confine every file the engine, Spark and the JVM write to
    ``run_dir`` and pin the host knobs; returns what was pinned."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    # knobs that would move the engine off its defaults or write elsewhere
    for k in ("SPARK_GRAFT_CHECKPOINT_DIR", "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_ANSI",
              "SPARK_GRAFT_SHUFFLE_PARTITIONS", "PYSPARK_SUBMIT_ARGS"):
        os.environ.pop(k, None)
    pins = {
        "SPARK_GRAFT_CPUS": str(NPROC),
        # the engine's 16g default exceeds the RAM of small hosts
        "SPARK_GRAFT_DRIVER_MEM": driver_mem,
        "SPARK_GRAFT_LOCAL_DIR": local,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # spark-submit's launcher JVM; the driver JVM gets the same flags
        # through spark.driver.extraJavaOptions (no hsperfdata file in /tmp)
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    os.environ.update(pins)
    return pins


def spin_canary(secs: float = 1.0) -> int:
    """Single-thread loop iterations per second: the host-speed canary."""
    t0 = time.perf_counter()
    n = x = 0
    while time.perf_counter() - t0 < secs:
        for _ in range(10_000):
            x = (x * 1103515245 + 12345) % 2_147_483_648
        n += 1
    return int(n * 10_000 / secs)


def steal_s() -> float:
    """CPU time the hypervisor has stolen from the host's CPUs since
    boot; a difference of two readings is the steal between them."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def host_state() -> dict:
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    return {"spin_per_s": spin_canary(), "loadavg": [float(x) for x in load],
            "steal_s": steal_s()}


def tree_files(root: str) -> dict[str, int]:
    """Size of every file under ``root``, by path."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


# -- result checking -------------------------------------------------------------

def _norm(v, dt):
    """One toPandas cell back to the Python value DuckDB returns."""
    import pandas as pd
    from pyspark.sql import types as T

    if v is None or v is pd.NaT:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None  # Arrow hands NULL doubles and NULL ints over as NaN
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return int(v)
    if isinstance(dt, T.BooleanType):
        return bool(v)
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return float(v)
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return v.to_pydatetime() if hasattr(v, "to_pydatetime") else v
    if isinstance(dt, T.DateType) and isinstance(v, datetime):
        return v.date()
    if isinstance(dt, T.ArrayType):
        return [_norm(x, dt.elementType) for x in v]
    if isinstance(dt, T.StructType):
        items = v.asDict() if hasattr(v, "asDict") else dict(v)
        return {f.name: _norm(items[f.name], f.dataType) for f in dt.fields}
    return v


def _nan_to_null(v):
    return None if isinstance(v, float) and math.isnan(v) else v


class OracleChecker:
    """Expected (row count, columns, order-insensitive hash) per query,
    computed on DuckDB from the same parquet files before any timing,
    with the repository's own oracle-gate canonicalizer."""

    def __init__(self, data_dir: str, specs: list) -> None:
        import duckdb
        from tools.oracle_check import table_hash

        self.table_hash = table_hash
        self.expected = {}
        con = duckdb.connect()
        try:
            for name in sorted(os.listdir(data_dir)):
                table = name.removesuffix(".parquet")
                con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{data_dir}/{name}'")
            for spec in specs:
                rel = con.sql(spec.oracle)
                cols = list(rel.columns)
                rows = [tuple(_nan_to_null(v) for v in r) for r in rel.fetchall()]
                order = [cols.index(c) for c in sorted(cols)]
                self.expected[spec.name] = (len(rows), sorted(cols), table_hash(rows, order))
        finally:
            con.close()

    def check(self, name: str, pdf, schema) -> str | None:
        """None when a toPandas result matches the oracle, else why not."""
        rows = [
            tuple(_norm(v, f.dataType) for v, f in zip(rec, schema.fields))
            for rec in pdf.itertuples(index=False, name=None)
        ]
        cols = list(pdf.columns)
        n, want_cols, want_hash = self.expected[name]
        if len(rows) != n:
            return f"rowcount {len(rows)} != oracle {n}"
        if sorted(cols) != want_cols:
            return f"columns {sorted(cols)} != oracle {want_cols}"
        if self.table_hash(rows, [cols.index(c) for c in want_cols]) != want_hash:
            return "value hash differs from oracle"
        return None


# -- the benchmark -----------------------------------------------------------------

class Bench:
    """One workload run: set-up, closed loop, checks, and (traced) the
    per-layer accounting. Subclasses supply prepare/set_up/one_pass."""

    def __init__(self, args: argparse.Namespace, cfg: dict, run_dir: str) -> None:
        from measure import Trace

        self.args = args
        self.cfg = cfg
        self.wcfg = cfg["workloads"][args.workload]
        self.run_dir = run_dir
        self.traced = bool(args.trace)
        self.rng = random.Random(args.seed)
        self.spark = None
        self.status = None
        self.ops: list[dict] = []  # one record per timed op
        self.reads: list[dict] = []  # one record per timed result read
        self.failures: list[dict] = []
        self.passes: list[dict] = []  # wall and stolen CPU seconds per pass
        self.attempted = 0
        self.layer: dict[str, float] = {}  # per-layer totals over the timed region
        self.py4j_calls = 0
        self.bookkeeping_s = 0.0  # time the traced run spends reading status stores
        self.trace = Trace()

    # -- session ----------------------------------------------------------------
    def start_session(self) -> float:
        from monzo_data_pipeline_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            f"perfbench-{self.args.workload}",
            extra_conf={
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(self.run_dir, 'tmp')} -XX:-UsePerfData",
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "spark-warehouse"),
            },
        )
        dt = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.traced:
            from measure import SparkStatus

            self.status = SparkStatus(self.spark)
            self._count_py4j()
            self._note_before_unpersist()
        return dt

    def _count_py4j(self) -> None:
        client = self.spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counting(*a, **kw):
            self.py4j_calls += 1
            return send(*a, **kw)

        client.send_command = counting

    def _note_before_unpersist(self) -> None:
        """Sample the persisted bytes just before the engine releases a
        persisted frame, when the bytes it holds are at their peak."""
        frame = type(self.spark.range(1))  # the session's concrete DataFrame class
        plain = frame.unpersist

        def noting(df, *a, **kw):
            self.note_persisted()
            return plain(df, *a, **kw)

        frame.unpersist = noting

    def jvm_pid(self) -> int:
        # spark-submit execs the JVM, so the launcher's pid is the JVM's
        return self.spark.sparkContext._gateway.proc.pid

    def stop(self) -> None:
        """Stop Spark, then the JVM it launched, and wait for both."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:  # a hung JVM is killed, never left behind
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None

    def free_state(self) -> None:
        """Drop what an op left cached so ops do not feed each other."""
        self.spark.catalog.clearCache()
        for jrdd in list(self.spark.sparkContext._jsc.getPersistentRDDs().values()):
            jrdd.unpersist(False)

    def fail(self, kind: str, name: str, why: str) -> None:
        self.failures.append({"kind": kind, "name": name, "why": why})

    def closed_loop(self) -> float:
        """Run whole passes until --seconds have passed and at least the
        workload's ``passes_min`` are done; returns the seconds of this
        timed region, checks of the outputs included. Ops still speed up
        from pass to pass as the JVM's compiler warms, so a run whose
        pass count followed the clock moved its medians by a pass's
        worth; ``passes_min`` is set to take longer than --seconds on
        the host the benchmark was tuned on, which fixes the count."""
        t0 = time.perf_counter()
        while True:
            p0, st0 = time.perf_counter(), steal_s()
            self.one_pass(len(self.passes))
            self.passes.append({"s": time.perf_counter() - p0, "steal_s": steal_s() - st0})
            elapsed = time.perf_counter() - t0
            if elapsed >= self.args.seconds and len(self.passes) >= self.wcfg["passes_min"]:
                return elapsed

    # -- tracing helpers -----------------------------------------------------------
    def add_layer(self, key: str, value: float) -> None:
        self.layer[key] = self.layer.get(key, 0.0) + value

    def group(self, name: str | None) -> None:
        if self.traced:
            self.status.set_group(name or "perfbench-idle")

    def jobs_under(self, group: str, parent: int) -> tuple[float, int, dict]:
        """Record each job of ``group`` as a child span of ``parent``;
        returns (seconds the jobs cover inside the parent, job count,
        summed stage metrics)."""
        from measure import union_seconds

        jobs, totals = self.status.group_facts(group)
        sp = self.trace.spans[parent]
        covered = []
        for j in jobs:
            if j["start"] is None or j["end"] is None:
                continue
            self.trace.add("job", j["start"], j["end"], parent, sp.op, job=j["job"])
            lo, hi = max(j["start"], sp.start), min(j["end"], sp.end)
            if hi > lo:
                covered.append((lo, hi))
        return union_seconds(covered), len(jobs), totals

    def add_exec(self, wall: float, jobs: int, totals: dict) -> None:
        self.add_layer("exec.s", wall)
        self.add_layer("exec.jobs", jobs)
        self.add_layer("exec.stages", totals["stages"])
        self.add_layer("exec.tasks", totals["tasks"])
        self.add_layer("exec.executor_run_s", totals["executor_run_ms"] / 1000.0)
        self.add_layer("exec.executor_cpu_s", totals["executor_cpu_ns"] / 1e9)
        self.add_layer("exec.gc_s", totals["gc_ms"] / 1000.0)
        self.add_layer("exec.shuffle_write_bytes", totals["shuffle_write_bytes"])
        self.add_layer("exec.shuffle_read_bytes", totals["shuffle_read_bytes"])
        self.add_layer("scan.input_bytes", totals["input_bytes"])
        self.add_layer("scan.input_rows", totals["input_rows"])

    def note_persisted(self) -> None:
        b = self.status.persisted_bytes()
        self.layer["mem.persisted_bytes"] = max(self.layer.get("mem.persisted_bytes", 0.0), b)


# -- queries_build_bound -------------------------------------------------------------

class QueryBench(Bench):
    def prepare(self) -> dict:
        from datagen import write
        from monzo_data_pipeline_spark.registry import specs

        self.data_dir = os.path.join(self.run_dir, "data")
        rows = write(self.data_dir, self.args.seed, self.cfg["scale_factor"])
        by_name = {s.name: s for s in specs()}
        self.specs = [by_name[n] for n in self.wcfg["queries"]]
        t0 = time.perf_counter()
        self.oracle = OracleChecker(self.data_dir, self.specs)
        return {"rows_generated": rows, "oracle_s": time.perf_counter() - t0}

    def set_up(self) -> dict:
        """Session start, then one warm-up pass in list order: each
        query's first run, checked like a timed op, pays its plan code
        generation and the JVM's warm-up here, so timed ops are warm."""
        t0 = time.perf_counter()
        start = self.start_session()
        for spec in self.specs:
            self.run_op(spec, f"warmup.{spec.name}")
        warmup = {o["query"]: o["s"] for o in self.ops}
        return {"setup_s": time.perf_counter() - t0, "session_start_s": start, "warmup_op_s": warmup}

    def one_pass(self, k: int) -> None:
        order = self.rng.sample(self.specs, len(self.specs))
        for spec in order:
            self.run_op(spec, f"p{k}.{spec.name}")

    def run_op(self, spec, op: str) -> None:
        self.attempted += 1
        try:
            if self.traced:
                df, pdf, op_s, read_s = self.run_traced(spec, op)
            else:
                t0 = time.perf_counter()
                df = spec.fn(self.spark, self.data_dir)
                t1 = time.perf_counter()
                pdf = df.toPandas()
                t2 = time.perf_counter()
                op_s, read_s = t2 - t0, t2 - t1
        except Exception as e:  # noqa: BLE001 — a raising op is counted, not fatal
            self.fail("query", spec.name, f"raised {type(e).__name__}: {e}"[:500])
            self.free_state()
            return
        self.ops.append({"op": op, "query": spec.name, "s": op_s, "rows": len(pdf)})
        self.reads.append({"op": op, "s": read_s})
        why = self.oracle.check(spec.name, pdf, df.schema)
        if why:
            self.fail("query", spec.name, why)
        self.free_state()

    def run_traced(self, spec, op: str):
        calls0 = self.py4j_calls
        self.group(f"{op}.build")
        t0 = time.time()
        df = spec.fn(self.spark, self.data_dir)
        t1 = time.time()
        calls = self.py4j_calls - calls0
        df._jdf.queryExecution().executedPlan()
        t2 = time.time()
        self.group(f"{op}.exec")
        pdf = df.toPandas()
        t3 = time.time()
        self.group(None)

        b0 = time.perf_counter()
        self.status.drain()
        root = self.trace.add("op", t0, t3, None, op, query=spec.name)
        build = self.trace.add("build", t0, t1, root, op)
        self.trace.add("plan", t1, t2, root, op)
        result = self.trace.add("result", t2, t3, root, op)
        build_job_s, build_jobs, build_tot = self.jobs_under(f"{op}.build", build)
        exec_s, exec_jobs, exec_tot = self.jobs_under(f"{op}.exec", result)
        self.add_layer("build.s", t1 - t0)
        self.add_layer("build.jobs", build_jobs)
        self.add_layer("build.job_s", build_job_s)
        self.add_layer("build.driver_s", (t1 - t0) - build_job_s)
        self.add_layer("build.py4j_calls", calls)
        self.add_layer("plan.s", t2 - t1)
        self.add_exec(exec_s, exec_jobs, exec_tot)
        # the build's eager jobs scan too
        self.add_layer("scan.input_bytes", build_tot["input_bytes"])
        self.add_layer("scan.input_rows", build_tot["input_rows"])
        self.add_layer("transfer.s", (t3 - t2) - exec_s)
        self.add_layer("transfer.rows", len(pdf))
        self.add_layer("transfer.bytes", int(pdf.memory_usage(deep=True).sum()))
        self.note_persisted()
        self.bookkeeping_s += time.perf_counter() - b0
        return df, pdf, t3 - t0, t3 - t2


# -- pipeline_daily ----------------------------------------------------------------

class GeneratorModel:
    """What the warehouse must hold, replayed in plain Python from the
    fetch function the engine ingests: per id, the earliest ``created``
    row of the first run that fetched it, never overwritten."""

    def __init__(self, fetch) -> None:
        self.fetch = fetch
        self.kept: dict[str, tuple[int, datetime]] = {}

    def apply(self, windows: list[tuple[str, str]]) -> dict:
        batch: dict[str, tuple[int, datetime]] = {}
        fetched = 0
        for lo, hi in windows:
            for tx in self.fetch(lo, hi):
                fetched += 1
                cur = batch.get(tx["id"])
                if cur is None or tx["created"] < cur[1]:
                    batch[tx["id"]] = (tx["amount"], tx["created"])
        new = {k: v for k, v in batch.items() if k not in self.kept}
        self.kept.update(new)
        return {"fetched": fetched, "appended": len(new)}

    def gold(self) -> tuple[int, Decimal]:
        """(gold rows, total spend): outflows by (year, month)."""
        months, spend = set(), Decimal(0)
        for amount, created in self.kept.values():
            if amount < 0:
                months.add((created.year, created.month))
                spend += Decimal(-amount) / 100
        return len(months), spend


class PipelineBench(Bench):
    def prepare(self) -> dict:
        from monzo_data_pipeline_spark.pipeline import ingest

        self.ingest = ingest
        self.fetch = ingest.make_fake_fetch(self.wcfg["txn_per_window"], self.wcfg["dup_every"])
        self.day0 = datetime(2025, 1, 1) + timedelta(days=self.rng.randrange(365))
        self.day = 0
        self.model = GeneratorModel(self.fetch)
        return {"cursor_day0": self.day0.isoformat()}

    def windows(self, day: int) -> list[tuple[str, str]]:
        end = self.day0 + timedelta(days=day)
        return self.ingest.cursor_windows(
            end - timedelta(days=self.wcfg["fetch_days"]), end, self.wcfg["window_hours"]
        )

    def daily_run(self, day: int, run_id: str) -> dict:
        from monzo_data_pipeline_spark.pipeline.atomic import run_pipeline_atomic

        stamp = (self.day0 + timedelta(days=day)).isoformat()
        wire = self.ingest.fetch_transactions_distributed(self.spark, self.fetch, self.windows(day))
        batch = self.ingest.flatten_bronze(wire, stamp)
        return run_pipeline_atomic(self.spark, self.wh, batch, stamp, run_id=run_id)

    def set_up(self) -> dict:
        from monzo_data_pipeline_spark.pipeline.atomic import AtomicWarehouse

        t0 = time.perf_counter()
        start = self.start_session()
        self.wh = AtomicWarehouse(
            self.spark, os.path.join(self.run_dir, "warehouse"), bloom_cols=self.wcfg["bloom_cols"]
        )
        expect = self.model.apply(self.windows(0))
        report = self.daily_run(0, run_id="initial")
        self.attempted += 1  # the initial load is checked like a daily run
        self.check_report("initial", report, expect)
        return {"setup_s": time.perf_counter() - t0, "session_start_s": start}

    def check_report(self, run: str, rep: dict, expect: dict) -> None:
        gold_rows, _ = self.model.gold()
        want = {
            "bronze_appended": expect["appended"],
            "bronze_total": len(self.model.kept),
            "silver_tx": len(self.model.kept),
            "gold_rows": gold_rows,
        }
        got = {k: rep.get(k) for k in want}
        if got != want:
            self.fail("pipeline", run, f"report {got} != generator {want}")

    def one_pass(self, k: int) -> None:
        self.day += 1
        op = f"day{self.day}"
        self.attempted += 1
        expect = self.model.apply(self.windows(self.day))
        try:
            if self.traced:
                rep, op_s = self.run_traced(op, expect)
            else:
                t0 = time.perf_counter()
                rep = self.daily_run(self.day, run_id=op)
                op_s = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001 — a raising run is counted, not fatal
            self.fail("pipeline", op, f"raised {type(e).__name__}: {e}"[:500])
            return
        self.ops.append({"op": op, "s": op_s, **expect})
        self.check_report(op, rep, expect)
        self.read_gold(op)
        ids = sorted(self.model.kept)
        for i in range(self.wcfg["lookups_per_run"]):
            self.lookup(op, f"lookup{i}", self.rng.choice(ids))

    def timed_read(self, op: str, what: str, fn):
        self.attempted += 1
        try:
            if self.traced:
                return self.traced_read(op, what, fn)
            t0 = time.perf_counter()
            pdf = fn()
            self.reads.append({"op": op, "read": what, "s": time.perf_counter() - t0})
            return pdf
        except Exception as e:  # noqa: BLE001 — a raising read is counted, not fatal
            self.fail("read", f"{op}.{what}", f"raised {type(e).__name__}: {e}"[:500])
            return None

    def read_gold(self, op: str) -> None:
        from monzo_data_pipeline_spark.pipeline.medallion import GOLD_MONTHLY

        pdf = self.timed_read(op, "gold", lambda: self.wh.read(GOLD_MONTHLY).toPandas())
        if pdf is None:
            return
        got = (len(pdf), sum(pdf["total_spend"], Decimal(0)))
        want = self.model.gold()
        if got != want:
            self.fail("read", f"{op}.gold", f"gold {got} != generator {want}")

    def lookup(self, op: str, what: str, tx_id: str) -> None:
        from pyspark.sql import functions as F
        from monzo_data_pipeline_spark.pipeline.medallion import SILVER_TX

        def fn():
            return (
                self.wh.read_pruned(SILVER_TX, "id", [tx_id])
                .filter(F.col("id") == tx_id)
                .select("amount", "created")
                .toPandas()
            )

        pdf = self.timed_read(op, what, fn)
        if pdf is None:
            return
        amount, created = self.model.kept[tx_id]
        got = [(r.amount, r.created.to_pydatetime()) for r in pdf.itertuples()]
        want = [(Decimal(amount) / 100, created)]
        if got != want:
            self.fail("read", f"{op}.{what}", f"{tx_id}: {got} != generator {want}")

    # -- traced pipeline ------------------------------------------------------
    @contextmanager
    def stage_hooks(self, op: str, marks: dict):
        """Time the medallion stage functions and the transaction exit
        of one run from outside, each stage under its own job group."""
        from monzo_data_pipeline_spark.pipeline import medallion

        stages = {"load_bronze": "bronze", "transform_silver": "silver", "build_gold": "gold"}
        originals = {fn: getattr(medallion, fn) for fn in stages}

        def timed(fn, stage):
            def call(*a, **kw):
                self.group(f"{op}.{stage}")
                s = time.time()
                try:
                    return originals[fn](*a, **kw)
                finally:
                    marks[stage] = (s, time.time())
                    # after gold, the run log append and commit follow
                    self.group(f"{op}.commit" if stage == "gold" else None)
            return call

        wh = self.wh
        plain_txn = type(wh).transaction.__get__(wh)

        @contextmanager
        def txn():
            with plain_txn() as t:
                yield t
            marks["txn_exit"] = time.time()
            self.group(f"{op}.report")

        for fn, stage in stages.items():
            setattr(medallion, fn, timed(fn, stage))
        wh.transaction = txn
        try:
            yield
        finally:
            for fn, orig in originals.items():
                setattr(medallion, fn, orig)
            del wh.transaction
            self.group(None)

    def run_traced(self, op: str, expect: dict):
        from measure import union_seconds

        marks: dict = {}
        dirs_read = sum(len(d) for d in self.wh.manifest()["tables"].values())
        before = tree_files(self.wh.root)
        with self.stage_hooks(op, marks):
            t0 = time.time()
            rep = self.daily_run(self.day, run_id=op)
            t1 = time.time()

        b0 = time.perf_counter()
        self.status.drain()
        root = self.trace.add("op", t0, t1, None, op)
        spans = {
            "bronze": (t0, marks["bronze"][1]),  # includes the lazy distributed fetch
            "silver": marks["silver"],
            "gold": marks["gold"],
            "commit": (marks["gold"][1], marks["txn_exit"]),
            "report": (marks["txn_exit"], t1),
        }
        covered, all_jobs = [], 0
        totals: dict = {}
        for stage, (s, e) in spans.items():
            idx = self.trace.add(f"pipeline.{stage}", s, e, root, op)
            _, jobs, tot = self.jobs_under(f"{op}.{stage}", idx)
            covered += [(c.start, c.end) for c in self.trace.spans[idx + 1:]]
            self.add_layer(f"pipeline.{stage}.s", e - s)
            self.add_layer(f"pipeline.{stage}.jobs", jobs)
            all_jobs += jobs
            for k, v in tot.items():
                totals[k] = totals.get(k, 0) + v
        self.add_exec(union_seconds(covered), all_jobs, totals)
        new_files = {p: b for p, b in tree_files(self.wh.root).items() if p not in before}
        self.add_layer("pipeline.shuffle_bytes", totals["shuffle_write_bytes"])
        self.add_layer("pipeline.rows_fetched", expect["fetched"])
        self.add_layer("pipeline.rows_appended", rep["bronze_appended"])
        self.add_layer("pipeline.files_written", sum(p.endswith(".parquet") for p in new_files))
        self.add_layer("pipeline.bytes_written", sum(new_files.values()))
        self.add_layer("pipeline.dirs_read", dirs_read)
        self.note_persisted()
        self.bookkeeping_s += time.perf_counter() - b0
        return rep, t1 - t0

    def traced_read(self, op: str, what: str, fn):
        wh = self.wh
        seen = {"scanned": 0, "pruned": 0}
        plain = type(wh).pruned_dirs.__get__(wh)

        def counting(*a, **kw):
            cand, clean = plain(*a, **kw)
            seen["scanned"] += len(cand)
            seen["pruned"] += len(clean)
            return cand, clean

        wh.pruned_dirs = counting
        self.group(f"{op}.{what}")
        try:
            t0 = time.time()
            pdf = fn()
            t1 = time.time()
        finally:
            del wh.pruned_dirs
            self.group(None)
        if what == "gold":  # a plain read scans every data dir of the table
            seen["scanned"] = len(wh.manifest()["tables"]["gold_monthly_spending"])
        b0 = time.perf_counter()
        self.status.drain()
        idx = self.trace.add("read", t0, t1, None, f"{op}.{what}")
        self.jobs_under(f"{op}.{what}", idx)
        self.add_layer("read.s", t1 - t0)
        self.add_layer("read.dirs_scanned", seen["scanned"])
        self.add_layer("read.dirs_pruned", seen["pruned"])
        self.bookkeeping_s += time.perf_counter() - b0
        self.reads.append({"op": op, "read": what, "s": t1 - t0})
        return pdf


# -- metrics ---------------------------------------------------------------------

def declared_units(section: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares ``section``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def end_to_end(b: Bench, measured_s: float, setup_s: float) -> dict:
    from measure import op_p50_s

    return {
        "setup_s": setup_s,
        "op_p50_s": op_p50_s(b.ops),
        # one closed-loop client: ops completed per second of the timed region
        "ops_per_s": len(b.ops) / measured_s,
    }


def per_layer(b: Bench, units: dict, exercised: list, session_start: float,
              peak_rss: dict, stored_per_row: float) -> dict:
    """Per-layer values over the timed region: "/op" units are means
    over its ops (a query, or a daily run), "/read" over its result
    reads. Every metric of a layer the workload ``exercised`` must have
    been measured; a layer the workload never calls reports 0."""
    from measure import op_p50_s

    n_ops, n_reads = max(len(b.ops), 1), max(len(b.reads), 1)
    got = {}
    for k, v in b.layer.items():
        unit = units[k]
        got[k] = v / n_ops if unit.endswith("/op") else v / n_reads if unit.endswith("/read") else v
    got["session.start_s"] = session_start
    got["mem.peak_rss_mb"] = sum(peak_rss.values())
    if got.get("exec.s"):
        got["exec.core_busy"] = got["exec.executor_run_s"] / (got["exec.s"] * NPROC)
    if got.get("pipeline.rows_fetched"):
        got["pipeline.new_row_ratio"] = got["pipeline.rows_appended"] / got["pipeline.rows_fetched"]
        got["pipeline.rows_per_s"] = b.layer["pipeline.rows_fetched"] / sum(o["s"] for o in b.ops)
        got["pipeline.bytes_stored_per_row"] = stored_per_row
    got["trace.op_p50_s"] = op_p50_s(b.ops)
    got["trace.bookkeeping_s"] = b.bookkeeping_s / n_ops
    unknown = sorted(set(got) - set(units))
    missing = sorted(k for k in units if k.split(".")[0] in exercised and k not in got)
    if unknown or missing:
        raise RuntimeError(f"per-layer metrics undeclared {unknown}, not measured {missing}")
    return {k: got.get(k, 0.0) for k in units}


def tracing_overhead(workload: str, seed: int, traced_p50: float) -> dict | None:
    """Traced against untraced op_p50_s, when this checkout holds an
    untraced result for the same workload and seed."""
    try:
        with open(os.path.join(RESULTS, f"{workload}-seed{seed}-trace0.json")) as f:
            untraced = json.load(f)["summary"]["op_p50_s"]
    except (OSError, KeyError, ValueError):
        return None
    return {"untraced_op_p50_s": untraced, "traced_op_p50_s": traced_p50,
            "overhead_ratio": traced_p50 / untraced - 1.0}


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    why = preflight()
    if why:
        print(why, file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "workloads.json")) as f:
        cfg = json.load(f)
    if args.workload not in cfg["workloads"]:
        print(f"unknown workload {args.workload!r}; have {sorted(cfg['workloads'])}",
              file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(RESULTS, exist_ok=True)
    pins = pin_environment(run_dir, cfg["driver_memory"])
    sys.path[:0] = [HERE, ROOT]
    from measure import peak_rss_mb, summarize

    kind = cfg["workloads"][args.workload]["kind"]
    bench = (QueryBench if kind == "queries" else PipelineBench)(args, cfg, run_dir)
    record: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                    "seconds": args.seconds, "pins": pins, "nproc": NPROC,
                    "host_before": host_state()}
    stored_per_row = 0.0
    try:
        record["inputs"] = bench.prepare()
        setup = bench.set_up()
        bench.ops.clear()  # samples and per-layer numbers cover the timed region only
        bench.reads.clear()
        if bench.traced:
            bench.layer.clear()
            bench.trace.spans.clear()
            bench.bookkeeping_s = 0.0
        record["measured_s"] = bench.closed_loop()
        peak_rss = {"python": peak_rss_mb([os.getpid()]), "jvm": peak_rss_mb([bench.jvm_pid()])}
        if bench.traced and isinstance(bench, PipelineBench):
            from monzo_data_pipeline_spark.pipeline.medallion import SILVER_TX

            rows = bench.wh.read(SILVER_TX).count()
            stored_per_row = sum(tree_files(bench.wh.root).values()) / max(rows, 1)
    finally:
        bench.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
        record["host_after"] = host_state()

    e2e = end_to_end(bench, record["measured_s"], setup["setup_s"])
    if bench.traced:
        units = declared_units("per_layer")
        values = per_layer(bench, units, bench.wcfg["layers_exercised"],
                           setup["session_start_s"], peak_rss, stored_per_row)
    else:
        units = declared_units("end_to_end")
        values = e2e
        if set(e2e) != set(units):
            raise RuntimeError(f"end-to-end metrics {sorted(e2e)} != declared {sorted(units)}")
    result = {
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    record.update({
        "setup": setup,
        "timings": {"op_s": summarize([o["s"] for o in bench.ops]),
                    "read_s": summarize([r["s"] for r in bench.reads])},
        "summary": e2e,
        "peak_rss_mb": peak_rss,
        "passes": bench.passes,
        "ops": bench.ops,
        "reads": bench.reads,
        "failures": bench.failures,
        "result": result,
    })
    if bench.traced:
        record["self_time_s"] = bench.trace.self_by_name()
        record["tracing_overhead"] = tracing_overhead(args.workload, args.seed, e2e["op_p50_s"])
        record["spans"] = bench.trace.dump()
    out = os.path.join(RESULTS, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as f:
        json.dump(record, f, indent=1, default=str)
    for fl in bench.failures:
        print(f"FAILED {fl['kind']} {fl['name']}: {fl['why']}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
