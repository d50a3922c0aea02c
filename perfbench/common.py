"""What every workload shares: the Spark environment set from outside
the package, the closed-loop op runner with its correctness and leak
accounting, and the assembly of the run's metrics."""

from __future__ import annotations

import json
import os
import signal
import subprocess
import time
import traceback
from statistics import median

from host import RssSampler, alive, cpu_times, descendants, dir_bytes, load1, steal_pct
from trace import (
    PHASES,
    Py4JCounter,
    Tracer,
    parse_event_log,
    persisted_rdds,
    plan_phases_ms,
    sched_counts,
    self_times,
)

# Fixed below host RAM so runs on different hosts use the same heap.
DRIVER_MEMORY = "2g"
# Spark's task slots at most, so hosts with more CPUs run the same
# slots.  Neither workload is slower on two slots than on four on a
# 4-CPU host: the work per op is small.
SPARK_CPUS = 2


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def spark_cpus() -> int:
    """Spark's task slots: half the CPUs, at most ``SPARK_CPUS``.  The
    other half is left to the client's Python, the Python workers and
    the JVM's JIT and GC threads, so a run on a shared host does not
    time the scheduler."""
    return max(1, min(SPARK_CPUS, nproc() // 2))


def spark_env(run_dir: str, trace: bool) -> dict[str, str]:
    """Environment for the package's session factory, plus a
    ``spark-defaults.conf`` that keeps every file Spark writes inside
    ``run_dir`` and, for traced runs, turns the event log on."""
    conf_dir = os.path.join(run_dir, "conf")
    tmp = os.path.join(run_dir, "tmp")
    for d in (conf_dir, tmp, os.path.join(run_dir, "spark-local"), os.path.join(run_dir, "scratch")):
        os.makedirs(d, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # The heap starts at its fixed maximum.  A run is too short for
        # G1's heap growth to settle, so peak RSS would otherwise follow
        # when G1 happened to grow the heap, not what the program holds.
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Dderby.system.home={tmp}",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.dir"] = "file://" + log_dir
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        for k, v in conf.items():
            f.write(f"{k} {v}\n")
    return {
        "SPARK_GRAFT_CPUS": str(spark_cpus()),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_SCRATCH_DIR": os.path.join(run_dir, "scratch"),
        "SPARK_CONF_DIR": conf_dir,
        "TMPDIR": tmp,
        # every JVM, the launcher's too: temp files in the run directory
        # and no hsperfdata file in the system temp dir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def shutdown_jvm() -> None:
    """Stop the active SparkContext and the gateway JVM, and wait until
    the JVM and every process it started (the Python workers) have
    exited."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while started and time.monotonic() < deadline:
        started = [p for p in started if alive(p)]
        time.sleep(0.1)
    for pid in started:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


class Run:
    """One benchmark run: the closed-loop client, its records and its
    per-layer counts."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, run_dir: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.run_dir = run_dir
        self.tracer = Tracer(trace)
        self.records: list[dict] = []
        self.setup_s = 0.0
        self.failures: list[dict] = []
        self.spark = None
        self.n_ops = 0
        self.cpu0 = cpu_times()
        self.rss = RssSampler().start()
        # per-workload extras for the summary line and traced layers
        self.layer: dict = {}

    # -- the op runner ---------------------------------------------------

    def op(self, kind: str, name: str, fn, measured: bool = True, traced: bool | None = None):
        """Run one client op: ``fn()`` returns ``(result, frames)``, the
        frames whose Catalyst phases count toward the op.  Returns
        ``(result, record)``; ``result`` is None when the op raised.

        Every op runs under its own job group, and the persisted-RDD
        count is read before and after it.  When the op is traced, it
        also gets py4j, phase and scheduler counts."""
        traced = self.trace if traced is None else traced
        sc = self.spark.sparkContext
        op_id = f"{self.workload}:{self.n_ops}:{name}"
        self.n_ops += 1
        sc.setJobGroup(op_id, name)
        rdds_before = persisted_rdds(sc)
        counter = Py4JCounter() if traced else None
        self.tracer.enabled = traced
        self.tracer.op = op_id
        t0 = time.perf_counter()
        error = None
        try:
            with self.tracer.span(kind):
                result, frames = fn()
        except Exception:  # an op that fails is counted and listed, not fatal
            result, frames = None, []
            error = traceback.format_exc(limit=3)[-600:]
        wall = time.perf_counter() - t0
        if counter is not None:
            counter.close()
        rec = {
            "op": op_id,
            "kind": kind,
            "name": name,
            "measured": measured,
            "traced": traced,
            "wall_ms": wall * 1000.0,
            "ok": error is None,
            "correct": None,
            "leaked_rdds": persisted_rdds(sc) - rdds_before,
        }
        if error:
            rec["error"] = error
        if traced:
            rec["py4j_calls"] = counter.n
            phases = dict.fromkeys(PHASES, 0.0)
            for df in frames:
                try:
                    for p, v in plan_phases_ms(df).items():
                        phases[p] += v
                except Exception:  # a frame never executed has no tracker
                    pass
            rec.update({f"plan_{p}_ms": v for p, v in phases.items()})
            rec["jobs"], rec["stages"], rec["tasks"] = sched_counts(sc, op_id)
        self.tracer.enabled = self.trace
        self.records.append(rec)
        return result, rec

    def verdict(self, rec: dict, correct: bool, detail: str = "") -> None:
        """Record whether an op's output was right; wrong or failed ops
        are listed in the run's failures."""
        rec["correct"] = bool(correct) and rec["ok"]
        if not rec["correct"]:
            self.failures.append(
                {"op": rec["op"], "detail": (detail or rec.get("error", ""))[:400]}
            )

    # -- metrics -----------------------------------------------------------

    def measured(self, kind: str | None = None) -> list[dict]:
        return [
            r
            for r in self.records
            if r["measured"] and (kind is None or r["kind"] == kind)
        ]

    def finish(self, e2e: dict[str, tuple[float, str]], layers: dict[str, tuple[float, str]]) -> dict:
        """Stop the JVM, fold in the event log and host context, write
        the per-op JSONL and spans, and return the final result."""
        shutdown_jvm()
        peak = self.rss.stop()
        steal = steal_pct(self.cpu0, cpu_times())
        host = {
            "nproc": nproc(),
            "steal_pct": steal,
            "load1": load1(),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "SPARK_DRIVER_MEMORY": os.environ.get("SPARK_DRIVER_MEMORY"),
            "SPARK_LOCAL_DIRS": os.path.relpath(os.environ.get("SPARK_LOCAL_DIRS", ""), self.run_dir),
        }
        e2e = dict(e2e)
        e2e["peak_rss_mb"] = (peak / 1e6, "MB")
        if self.trace:
            layers = dict(layers)
            layers.update(self._trace_layers())
            layers["host.steal_pct"] = (steal, "%")
            layers["host.load1"] = (host["load1"], "load")
        checked = [r for r in self.records if r["correct"] is not None or not r["ok"]]
        attempted = len(checked)
        failed = sum(1 for r in checked if not (r["ok"] and r["correct"]))
        summary = {
            "workload": self.workload,
            "seed": self.seed,
            "trace": int(self.trace),
            "host": host,
            "setup_s": self.setup_s,
            "error_rate": failed / attempted if attempted else 1.0,
            "failures": self.failures,
        }
        records_dir = os.path.join(os.path.dirname(self.run_dir), "records")
        os.makedirs(records_dir, exist_ok=True)
        stem = os.path.join(records_dir, os.path.basename(self.run_dir))
        with open(stem + ".jsonl", "w") as f:
            f.write(json.dumps({"summary": summary}) + "\n")
            for r in self.records:
                f.write(json.dumps(r) + "\n")
        if self.trace:
            self.tracer.write(stem + ".spans.jsonl")
        metrics = e2e if not self.trace else layers
        return {
            "summary": summary,
            "attempted": max(attempted, 1),
            "failed": failed if attempted else 1,
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
            "e2e": e2e,
        }

    def _trace_layers(self) -> dict[str, tuple[float, str]]:
        """Per-layer numbers every workload shares, from the traced ops
        and the event log."""
        traced = [r for r in self.records if r["traced"] and r["measured"]]
        out: dict[str, tuple[float, str]] = {}

        def med(key):
            vals = [r[key] for r in traced if key in r]
            return median(vals) if vals else 0.0

        for p in PHASES:
            out[f"spark.plan.{p}_ms"] = (med(f"plan_{p}_ms"), "ms")
        out["spark.sched.jobs"] = (med("jobs"), "count")
        out["spark.sched.stages"] = (med("stages"), "count")
        out["spark.sched.tasks"] = (med("tasks"), "count")
        out["cache.leaked_rdds"] = (
            float(sum(r["leaked_rdds"] for r in self.records)),
            "count",
        )
        # Executor-side totals per traced cycle or pass, as batch_wall_s.
        log = parse_event_log(os.path.join(self.run_dir, "eventlog"))
        per_op = [log[r["op"]] for r in traced if r["op"] in log]
        passes = max(self.layer.get("traced_passes", 1), 1)

        def total(key, scale):
            return sum(x[key] for x in per_op) * scale / passes

        out["spark.exec.run_ms"] = (total("run_ms", 1.0), "ms")
        out["spark.exec.shuffle_write_mb"] = (total("shuffle_write_bytes", 1e-6), "MB")
        out["spark.exec.spill_mb"] = (total("spill_bytes", 1e-6), "MB")
        out["spark.pyworker_ms"] = (total("pyworker_ms", 1.0), "ms")
        return out


def start_session(run: Run):
    """The package's session factory, timed as ``session.start_s``."""
    from garmin_performance_analysis_spark.session import get_spark

    t0 = time.perf_counter()
    with run.tracer.span("session.start"):
        spark = get_spark("perfbench")
    run.layer.setdefault("session.start_s", []).append(time.perf_counter() - t0)
    run.spark = spark
    return spark


def span_self_ms(tracer: Tracer, name: str) -> float:
    """Median self time (ms) of the spans called ``name``."""
    st = self_times(tracer.spans)
    vals = [st[i] * 1000.0 for i, s in enumerate(tracer.spans) if s.name == name]
    return median(vals) if vals else 0.0


def store_mb(path: str) -> float:
    return dir_bytes(path) / 1e6
