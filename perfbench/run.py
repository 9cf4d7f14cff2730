#!/usr/bin/env python3
"""Closed-loop benchmark of the engine's public entry points.

    python3 perfbench/run.py --workload factor_panels --seed 1 --seconds 10 --trace 0

One client drives `session.get_spark`, the catalog builders, the
DataFrame write action, `run.run_stage` and `caching.release_caches` on
local[nproc]. A workload is an op list (workloads.json) run in repeated
passes. The first pass runs the list in order, as `run.main` runs its
stages, so which op pays the JVM's cold start does not depend on the
seed; the seed sets the op order of every later pass. One run:

1. reads the inputs (inputs.py: the sf0.01 test tables committed
   under perfbench/tables, and PARITY.json's expected hash for every
   entry);
2. sets the session up once, cold: the JVM launch, the session start and
   a warm-up, reported as `setup_s`;
3. runs timed passes for `--seconds`, the first one cold, as a
   researcher's `run.main` pays it. Every op writes parquet, as the
   runner does; after each op, off the clock, the parquet is read back,
   hashed and compared with its recorded hash.

With `--trace 1` the session turns Spark's event log on and the run
reports per-layer numbers instead: client-side spans around each layer
call plus executor metrics attributed to ops through job groups
`<workload>/<op>#<pass>:build|exec`. Untraced runs record their pass
walls in the checkout's work directory; `trace.overhead_share` compares
the traced passes with them (0 when none is recorded yet).

Prints a host record, a detail line (and per-op lines when tracing),
then one JSON result line last.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from collections import Counter, defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build" / "perfbench"
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

import inputs  # noqa: E402
from measure import PeakRss, Tracer, parse_event_log  # noqa: E402

MB = 1024.0 * 1024.0


def load_spec() -> dict:
    """workloads.json: input scale, workloads with their frozen op lists
    and input tables, and the metric definitions with the layer map."""
    return json.loads((HERE / "workloads.json").read_text())


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _p90(xs: list[float]) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


class Bench:
    def __init__(self, spec, workload, seed, seconds, trace, work=WORK):
        from trace_data_pipeline_spark import run as runmod
        from trace_data_pipeline_spark.plans import get_catalog

        self.spec, self.name, self.seed = spec, workload, seed
        self.seconds, self.trace = seconds, trace
        self.wl = spec["workloads"][workload]
        self.stages = self.wl["kind"] == "stages"
        self.ops = list(self.wl["ops"])
        self.work = Path(work)
        self.runmod = runmod
        self.catalog = get_catalog()
        self.manifest = inputs.load(ROOT, spec["data"]["scale"], self.entries(spec, runmod))
        self.sf_dir = self.manifest["sf_dir"]
        self.expected = self.manifest["expected"]
        self.cpus = len(os.sched_getaffinity(0))
        self.tracer = Tracer(trace)
        self.out_dir = str(self.work / "out" / workload)
        self.evlog_dir = str(self.work / "eventlog")
        # traced-run bookkeeping per op: load_table hits and tables read,
        # persistent RDDs left after release
        self.hits: Counter = Counter()
        self.tables_read: dict[str, set] = defaultdict(set)
        self.persisted_after: dict[str, int] = {}
        self.stage_walls: dict[str, list[float]] = defaultdict(list)
        self.out_bytes: dict[str, int] = {}
        self.errors: list[str] = []
        self.attempted = self.failed = 0
        self.spark = None
        self._tag = ""

    @staticmethod
    def entries(spec, runmod) -> list[str]:
        """Every catalog entry any workload runs (a stage runs several)."""
        return sorted(
            {
                e
                for wl in spec["workloads"].values()
                for op in wl["ops"]
                for e in (runmod.STAGES[op] if wl["kind"] == "stages" else [op])
            }
        )

    # -- environment and session -------------------------------------
    def _prepare_env(self) -> None:
        local, tmp = self.work / "spark-local", self.work / "tmp"
        for d in (local, tmp, Path(self.evlog_dir)):
            d.mkdir(parents=True, exist_ok=True)
        shutil.rmtree(self.out_dir, ignore_errors=True)
        os.environ["SPARK_LOCAL_DIRS"] = str(local)
        # no JVM perf-data file under /tmp, for spark-submit's launcher JVM
        # too: the run writes only inside its checkout
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        os.environ["TMPDIR"] = str(tmp)
        tempfile.tempdir = str(tmp)
        # Python workers import the engine by reference
        path = os.environ.get("PYTHONPATH")
        os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")

    def _conf(self) -> dict[str, str]:
        conf = {
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData"
            ),
            "spark.eventLog.enabled": "true" if self.trace else "false",
        }
        if self.trace:
            conf.update(
                {
                    "spark.eventLog.dir": self.evlog_dir,
                    # Spark 4.1 defaults to zstd, which Python cannot read here
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        return conf

    def setup(self) -> tuple[float, float]:
        """(start_s, warmup_s) of the session start, JVM launch included,
        plus warm-up."""
        from trace_data_pipeline_spark.session import get_spark
        from trace_data_pipeline_spark.sources import load_table

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.name}",
            cpus=self.cpus,
            extra_conf=self._conf(),
        )
        t1 = time.perf_counter()
        self.spark.sparkContext.setJobGroup(f"{self.name}/setup:exec", "warm-up")
        # warm-up: resolve every input table, then run one job over the
        # largest
        with self.tracer.span("session.warmup"):
            frames = {t: load_table(self.spark, self.sf_dir, t) for t in self.wl["tables"]}
            frames[max(frames, key=self.manifest["rows"].get)].count()
        return t1 - t0, time.perf_counter() - t1

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait until both are gone."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    # -- instrumentation ---------------------------------------------
    def _group(self, phase: str) -> None:
        self.spark.sparkContext.setJobGroup(f"{self._tag}:{phase}", self._tag)

    def _install_probes(self) -> None:
        """Route the layer calls the engine makes on its own (builders and
        release inside run_stage, load_table inside builders) through
        spans. Only module attributes are rebound; no engine code changes."""
        from trace_data_pipeline_spark.operators import caching
        from trace_data_pipeline_spark.sources import registry

        bench, tracer = self, self.tracer

        def wrap_builder(query):
            def builder(spark, sf_dir):
                bench._group("build")
                try:
                    with tracer.span("plans.build"):
                        return query.builder(spark, sf_dir)
                finally:
                    bench._group("exec")

            return dataclasses.replace(query, builder=builder)

        wrapped = {k: wrap_builder(q) for k, q in self.catalog.items()}
        self.runmod.get_catalog = lambda: dict(wrapped)

        def release_caches():
            with tracer.span("caching.release"):
                return caching.release_caches()

        self.runmod.release_caches = release_caches
        if not self.trace:
            return
        original, seen = registry.load_table, set()

        def load_table(spark, sf_dir, name):
            with tracer.span("sources.load_table"):
                df = original(spark, sf_dir, name)
            if id(df) in seen:
                self.hits[tracer.op] += 1
            if tracer.op:
                self.tables_read[tracer.op.split("#")[0]].add(name)
            seen.add(id(df))
            return df

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("trace_data_pipeline_spark"):
                if getattr(mod, "load_table", None) is original:
                    mod.load_table = load_table

    # -- ops -----------------------------------------------------------
    def _check(self, entry: str, pdf) -> bool:
        got = inputs.value_hash(pdf)
        if inputs.matches(got, self.expected[entry]):
            return True
        self.errors.append(f"{entry}: got {got}, expected {self.expected[entry]}")
        return False

    def _out_path(self, op: str, entry: str) -> str:
        if self.stages:
            return os.path.join(self.out_dir, op, entry)  # where run_stage writes
        return os.path.join(self.out_dir, entry)

    def run_op(self, op: str, pass_no: int) -> tuple[list[float], float]:
        """Run one op of the workload's list: one run_stage call, or one
        catalog entry built, written as parquet and its caches released.
        Returns (entry walls: build, write and release, one per catalog
        entry; untimed seconds spent checking output). Every catalog entry
        the op runs counts as attempted, and as failed when it raises or
        its output does not match."""
        from trace_data_pipeline_spark.operators.caching import persistent_rdd_ids

        self._tag = f"{self.name}/{op}#{pass_no}"
        self.tracer.op = f"{op}#{pass_no}"
        entries = self.runmod.STAGES[op] if self.stages else [op]
        bad = set()
        t0 = time.perf_counter()
        try:
            if self.stages:
                self._group("exec")
                results = self.runmod.run_stage(
                    self.spark, op, self.sf_dir, self.out_dir, "parquet"
                )
                walls = [r["secs"] for r in results]
                self.stage_walls[op].append(time.perf_counter() - t0)
            else:
                self._group("build")
                with self.tracer.span("plans.build"):
                    df = self.catalog[op].builder(self.spark, self.sf_dir)
                self._group("exec")
                try:
                    with self.tracer.span("exec"):
                        writer = df.write.mode("overwrite").option("compression", "snappy")
                        writer.parquet(self._out_path(op, op))
                finally:
                    self.runmod.release_caches()
                walls = [time.perf_counter() - t0]
        except Exception:  # a failing op is a measured outcome
            self.errors.append(f"{op}#{pass_no}: {traceback.format_exc()[-2000:]}")
            bad.update(entries)
            walls = [time.perf_counter() - t0]
        t1 = time.perf_counter()
        for entry in entries:
            if entry not in bad:
                path = self._out_path(op, entry)
                self.out_bytes[entry] = _dir_bytes(path)
                if not self._check(entry, inputs.parquet_frame(path)):
                    bad.add(entry)
        untimed = time.perf_counter() - t1
        self.attempted += len(entries)
        self.failed += len(bad)
        if self.trace:
            sc = self.spark.sparkContext
            self.persisted_after[self.tracer.op] = len(persistent_rdd_ids(sc))
        self.tracer.op = None
        return walls, untimed

    def run_pass(self, pass_no: int) -> tuple[float, list[float]]:
        """(pass wall without check time, entry walls) of one pass: in
        list order for the first, cold pass, then in the seed's order."""
        order = list(self.ops)
        if pass_no > 1:
            random.Random(f"{self.seed}/{pass_no}").shuffle(order)
        t0, untimed, walls = time.perf_counter(), 0.0, []
        for op in order:
            op_walls, extra = self.run_op(op, pass_no)
            walls.extend(op_walls)
            untimed += extra
        return time.perf_counter() - t0 - untimed, walls

    def timed_passes(self) -> tuple[list[int], list[float], list[float], float]:
        """Passes numbered from 1 while the run's seconds last: a pass
        starts only when at least half of one still fits. Returns (pass
        numbers, pass walls, op walls, peak RSS MB)."""
        rss = PeakRss(self.jvm_pid()).start()
        t0, numbers, passes, walls = time.perf_counter(), [], [], []
        while not passes or (
            time.perf_counter() - t0 + _median(passes) / 2 < self.seconds
        ):
            n = 1 + len(numbers)
            wall, op_walls = self.run_pass(n)
            numbers.append(n)
            passes.append(wall)
            walls.extend(op_walls)
        return numbers, passes, walls, rss.stop()

    # -- the run --------------------------------------------------------
    def run(self) -> list[dict]:
        self._prepare_env()
        self._install_probes()
        clock = [("start", time.perf_counter())]
        try:
            start_s, warmup_s = self.setup()
            host = self.host()
            app_id = self.spark.sparkContext.applicationId
            clock.append(("setup", time.perf_counter()))
            numbers, passes, walls, peak = self.timed_passes()
            clock.append(("timed_passes", time.perf_counter()))
        finally:
            self.shutdown()
        clock.append(("shutdown", time.perf_counter()))
        e2e = {
            "setup_s": (start_s + warmup_s, "s", 1),
            "pass_s": (_median(passes), "s", len(passes)),
            "op_p50_s": (_median(walls), "s", len(walls)),
            "op_p90_s": (_p90(walls), "s", len(walls)),
            "peak_rss_mb": (peak, "MB", 1),
            "failed_op_share": (self.failed / self.attempted, "share", self.attempted),
        }
        detail = {
            "workload": self.name,
            "seed": self.seed,
            "trace": int(self.trace),
            "end_to_end": {
                k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in e2e.items()
            },
            "op_p90_tail_samples": sum(w > e2e["op_p90_s"][0] for w in walls),
            "phase_s": {b[0]: b[1] - a[1] for a, b in zip(clock, clock[1:])},
            "setup_start_warmup_s": [start_s, warmup_s],
            "pass_walls_s": passes,
            "errors": self.errors,
        }
        lines = [{"host": host}, detail]
        # untraced pass walls recorded in this checkout: the reference
        # for trace.overhead_share
        record = self.work / f"untraced-pass-{self.name}.json"
        recorded = json.loads(record.read_text()) if record.exists() else []
        if self.trace:
            detail["untraced_passes_recorded"] = len(recorded)
            layers, per_op = self.layers(
                numbers, passes, _median(recorded), (start_s, warmup_s), app_id
            )
            lines += per_op
            metrics = {
                k: {"value": v, "unit": self.spec["per_layer"][k]["unit"]}
                for k, v in layers.items()
            }
        else:
            record.write_text(json.dumps(recorded + passes))
            metrics = {
                k: {"value": v, "unit": u}
                for k, (v, u, _) in e2e.items()
                if self.spec["end_to_end"][k].get("in_result", True)
            }
        lines.append(
            {
                "correct": self.failed == 0,
                "attempted": self.attempted,
                "failed": self.failed,
                "metrics": metrics,
            }
        )
        return lines

    def host(self) -> dict:
        import pyspark

        spark = self.spark
        return {
            "nproc": self.cpus,
            "master": spark.sparkContext.master,
            "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
            "driver_memory": spark.conf.get("spark.driver.memory"),
            "spark": spark.version,
            "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
            "machine": platform.machine(),
            "data": self.spec["data"]["scale"],
            "tables": {t: self.manifest["rows"][t] for t in self.wl["tables"]},
            "seconds": "raw wall seconds; no normalization",
        }

    # -- per-layer attribution -------------------------------------------
    def layers(self, numbers, passes, untraced_pass, setup, app_id):
        log = os.path.join(self.evlog_dir, app_id)
        groups = parse_event_log(log)
        os.remove(log)
        ops = {f"{op}#{n}" for op in self.ops for n in numbers}
        spans = self.tracer.totals(ops)
        n = len(numbers)

        def span_s(name):
            return spans.get(name, (0, 0.0))[1]

        # (op id, phase, counters) per job group of an op
        rows = [
            (*g.split("/", 1)[1].rsplit(":", 1), c) for g, c in groups.items() if g
        ]

        def spark_sum(key, phase=None, op_ids=ops):
            return sum(
                c[key] for op_id, ph, c in rows if op_id in op_ids and phase in (None, ph)
            )

        calls = spans.get("sources.load_table", (0, 0.0))[0]
        build, release = span_s("plans.build"), span_s("caching.release")
        if self.stages:
            exec_s = sum(
                w for op in self.ops for w in self.stage_walls[op][-n:]
            ) - build - release
        else:
            exec_s = span_s("exec")
        exec_run = spark_sum("executor_run_ms", "exec") / 1000.0
        idle = 1.0 - exec_run / (self.cpus * exec_s) if exec_s > 0 else 0.0
        stage_s = {
            s: _median(self.stage_walls[s][-n:]) if self.stages else 0.0
            for s in ("stage0", "stage1", "datapipe")
        }
        out_mb = sum(self.out_bytes.values()) / MB
        layers = {
            "session.start_s": setup[0],
            "session.warmup_s": setup[1],
            "sources.load_table_calls": calls / n,
            "sources.load_table_s": span_s("sources.load_table") / n,
            "sources.cache_hit_ratio": sum(self.hits[o] for o in ops) / calls if calls else 0.0,
            "plans.build_s": build / n,
            "plans.build_jobs": spark_sum("jobs", "build") / n,
            "exec.s": exec_s / n,
            "run.stage_s.stage0": stage_s["stage0"],
            "run.stage_s.stage1": stage_s["stage1"],
            "run.stage_s.datapipe": stage_s["datapipe"],
            "run.output_mb": out_mb,
            "spark.python_run_s": spark_sum("python_run_ms") / 1000.0 / n,
            "spark.python_mb": spark_sum("python_bytes") / MB / n,
            "spark.jvm_cpu_s": spark_sum("jvm_cpu_ns") / 1e9 / n,
            "spark.executor_run_s": spark_sum("executor_run_ms") / 1000.0 / n,
            "spark.gc_s": spark_sum("gc_ms") / 1000.0 / n,
            "spark.shuffle_write_mb": spark_sum("shuffle_write") / MB / n,
            "spark.shuffle_read_mb": spark_sum("shuffle_read") / MB / n,
            "spark.input_mb": spark_sum("input") / MB / n,
            "spark.spill_mb": spark_sum("spill_bytes") / MB / n,
            "spark.peak_exec_mem_mb": max(
                (c["peak_exec_mem"] for op_id, _, c in rows if op_id in ops), default=0
            ) / MB,
            "spark.jobs": spark_sum("jobs") / n,
            "spark.stages": spark_sum("stages") / n,
            "spark.tasks": spark_sum("tasks") / n,
            "spark.task_failures": spark_sum("task_failures") / n,
            "spark.core_idle_share": idle,
            "spark.unattributed_jobs": float(groups[None]["jobs"]) if None in groups else 0.0,
            "caching.release_s": release / n,
            "caching.persisted_rdds_after": float(max(self.persisted_after[o] for o in ops)),
            "trace.overhead_share": (
                _median(passes) / untraced_pass - 1.0 if untraced_pass else 0.0
            ),
        }
        per_op = []
        for op in self.ops:
            ids = {f"{op}#{k}" for k in numbers}
            op_spans = self.tracer.totals(ids)
            per_op.append(
                {
                    "op": op,
                    "passes": n,
                    "tables": sorted(self.tables_read[op]),
                    "plans.build_s": op_spans.get("plans.build", (0, 0.0))[1] / n,
                    "exec.s": op_spans.get("exec", (0, 0.0))[1] / n,
                    "sources.load_table_calls": op_spans.get("sources.load_table", (0, 0))[0] / n,
                    "caching.release_s": op_spans.get("caching.release", (0, 0.0))[1] / n,
                    "plans.build_jobs": spark_sum("jobs", "build", ids) / n,
                    "spark.jobs": spark_sum("jobs", None, ids) / n,
                    "spark.tasks": spark_sum("tasks", None, ids) / n,
                    "spark.executor_run_s": spark_sum("executor_run_ms", None, ids) / 1000.0 / n,
                    "spark.jvm_cpu_s": spark_sum("jvm_cpu_ns", None, ids) / 1e9 / n,
                    "spark.python_run_s": spark_sum("python_run_ms", None, ids) / 1000.0 / n,
                    "spark.shuffle_write_mb": spark_sum("shuffle_write", None, ids) / MB / n,
                    "caching.persisted_rdds_after": max(self.persisted_after[i] for i in ids),
                }
            )
        artifact = self.work / f"trace-{self.name}-seed{self.seed}.json"
        artifact.write_text(
            json.dumps({"layers": layers, "ops": per_op, "spans": self.tracer.spans})
        )
        return layers, per_op


def main(argv=None) -> int:
    spec = load_spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(spec["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import trace_data_pipeline_spark  # noqa: F401
    except ImportError:
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2
    lines = Bench(spec, args.workload, args.seed, args.seconds, bool(args.trace)).run()
    for line in lines:
        print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
