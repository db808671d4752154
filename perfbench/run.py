"""sf_datalake_spark benchmark: one workload, one process, one client.

    python3 perfbench/run.py --workload panel_batch --seed 1 --seconds 12 --trace 0

Run from the repository root.  The run generates its inputs, launches
the JVM and starts a ``local[N]`` session (N = ``SPARK_GRAFT_CPUS``,
default: the cores this process may use), restarts the session and
regenerates the inputs three more times, runs one checked pass, then
warm-up passes until per-pass time stops falling (``WARM_GAIN``),
then timed passes in a closed loop (each op starts when the previous one
has returned).  The number of timed passes is ``--seconds`` divided by
the workload's nominal pass time (at least one, two when traced), fixed
by the arguments alone so that a faster program measures the same work.
Each registry op is timed in three phases: build (``fn(spark, sf_dir)``),
plan (``executedPlan()``) and exec (``noop``-sink write); a CLI op is one
``main([...])`` call, timed as build.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` timed passes alternate traced and untraced and the
last line carries the per-layer metrics.  A full report (stamp, per-op
records, spans, warm-up series) is written under ``.perfbench_out/``.
``perfbench/README.md`` documents every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
WORK_DIR = ".perfbench_work"
OUT_DIR = ".perfbench_out"
SETUP_REPS = 3
#: timed passes at least: a traced run needs one traced and one untraced
MIN_PASSES = {False: 1, True: 2}
#: warm-up ends at the first pass that is not this share faster than the
#: fastest earlier warm-up pass
WARM_GAIN = 0.10
#: safety cap on warm-up passes; the stop rule ends warm-up well before it
WARM_CAP = 12

E2E = {"batch_s": "s", "op_p50_s": "s", "op_tail_s": "s", "setup_s": "s"}
PER_LAYER = {
    "session.launch_s": "s", "session.start_s": "s", "storage_peak_mb": "MB",
    "build.s": "s", "build.jobs": "count", "build.stages": "count",
    "build.tasks": "count", "plan.s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count",
    "executor_run_s": "s", "executor_cpu_s": "s", "gc_s": "s",
    "core_busy_frac": "ratio", "records_per_task": "count",
    "shuffle_read_mb": "MB", "shuffle_write_mb": "MB", "spill_mb": "MB",
    "broadcast_mb": "MB",
    "pins.created": "count", "pins.live_after_op": "count",
    "io.output_mb": "MB", "io.files_written": "count",
    "cli.train_s": "s", "cli.predict_s": "s",
    "jvm.gc_s": "s", "jvm.code_cache_mb": "MB",
    "conf_drift_ops": "count", "warmup.passes": "count",
    "trace.overhead_frac": "ratio",
}
PHASES = ("build", "plan", "exec")


def git_commit(root: str) -> str:
    """HEAD's commit; "unknown" outside a git repository."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def cpu_ticks() -> list[int]:
    """The host's aggregate CPU tick counters (``/proc/stat``); empty
    where that file does not exist."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return []


def steal_frac(t0: list[int], t1: list[int]) -> float | None:
    """Share of CPU ticks between two ``cpu_ticks()`` readings that the
    hypervisor gave to other guests."""
    if len(t0) < 8 or len(t1) < 8:
        return None
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / sum(d) if sum(d) else 0.0


def stamp(spark, seed: int) -> dict:
    """Facts a result is only comparable under; ``compare.py`` refuses
    to compare results whose core counts differ."""
    import platform

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_DRIVER_MEMORY": os.environ.get("SPARK_DRIVER_MEMORY"),
        "spark": spark.version,
        "python": platform.python_version(),
        "jdk": spark._jvm.java.lang.System.getProperty("java.version"),
        "commit": git_commit(os.getcwd()),
        "seed": seed,
    }


class Spans:
    """(name, start, end, parent, op id) records kept in memory."""

    def __init__(self):
        self.rows: list[list] = []

    def open(self, name: str, parent: int | None, op_id: str) -> int:
        self.rows.append([name, time.perf_counter(), None, parent, op_id])
        return len(self.rows) - 1

    def close(self, idx: int) -> float:
        self.rows[idx][2] = time.perf_counter()
        return self.rows[idx][2] - self.rows[idx][1]

    def self_times(self) -> list[float]:
        """Each span's duration minus the part its children cover
        (children never overlap: one client, one thread)."""
        child = [0.0] * len(self.rows)
        for _, t0, t1, parent, _ in self.rows:
            if parent is not None:
                child[parent] += t1 - t0
        return [r[2] - r[1] - c for r, c in zip(self.rows, child)]

    def dump(self) -> list[dict]:
        base = self.rows[0][1] if self.rows else 0.0
        return [{"name": n, "start": round(t0 - base, 6), "end": round(t1 - base, 6),
                 "parent": p, "op": op, "self": round(s, 6)}
                for (n, t0, t1, p, op), s in zip(self.rows, self.self_times())]


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that still has ten
    samples above it; the maximum when there are eleven or fewer."""
    s = sorted(values)
    n = len(s)
    if n <= 11:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def op_fastest(recs: list[dict]) -> dict[str, float]:
    """Each op's fastest latency over the given records."""
    best: dict[str, float] = {}
    for r in recs:
        best[r["op"]] = min(best.get(r["op"], r["op_s"]), r["op_s"])
    return best


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to end."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Bench:
    def __init__(self, wl, seed: int, seconds: float, trace: bool, work: str,
                 started: float):
        self.wl = wl
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.started = started
        self.spans = Spans()
        self.records: list[dict] = []
        self.passes: list[dict] = []
        self.failures: dict[str, str] = {}
        self.drift: dict[str, list[str]] = {}
        self.spark = None
        self.checker = None

    # -- set-up ------------------------------------------------------
    def setup(self) -> None:
        """Start the session and generate the inputs, then do both again
        SETUP_REPS times.  The first start launches the JVM; the later
        ones stop and restart the session in that JVM."""
        import datagen  # noqa: F401  (imported once, before the repetitions)
        import workloads
        from sf_datalake_spark.session import get_spark_session

        self.session_s, self.setup_reps = [], []
        self.t_reps = time.perf_counter()
        for r in range(SETUP_REPS + 1):
            t0 = time.perf_counter()
            if self.spark is not None:
                self.spark.stop()
            self.spark = get_spark_session("perfbench")
            self.session_s.append(time.perf_counter() - t0)
            self.paths = workloads.generate(
                os.path.join(self.work, f"setup{r}"), self.wl, self.seed)
            self.setup_reps.append(time.perf_counter() - t0)
        self.t_reps_end = time.perf_counter()
        #: the JVM launch: what the first start took beyond a restart
        self.launch_s = self.session_s[0] - statistics.median(self.session_s[1:])

        import __spark_entry__ as entry_mod
        from check import Checker
        from sparkstats import SparkStats

        self.queries = entry_mod.queries()
        self.sc = self.spark.sparkContext
        self.cores = int(self.sc.defaultParallelism)
        self.stats = SparkStats(self.spark)
        t0 = time.perf_counter()
        self.checker = Checker(self.spark, self.paths)
        self.check_s = time.perf_counter() - t0

    def close(self) -> None:
        if self.checker is not None:
            self.checker.close()
        stop_spark(self.spark)

    # -- one op ------------------------------------------------------
    def run_op(self, p: int, j: int, op: str, pspan: int, mode: str, traced: bool) -> None:
        import workloads

        op_id = f"p{p}.{j}.{op}"
        rec = {"pass": p, "mode": mode, "traced": traced, "op": op}
        conf0 = dict(self.spark.conf.getAll)
        if traced:
            self.stats.mark()
        ospan = self.spans.open(op, pspan, op_id)
        df = rows = report = None
        try:
            if op.startswith("cli."):
                report = self._phase(rec, "build", ospan, op_id, traced,
                                     lambda: workloads.run_cli(op, self.paths))
            else:
                fn = self.queries[op]
                df = self._phase(rec, "build", ospan, op_id, traced,
                                 lambda: fn(self.spark, self.paths.sf_dir))
                self._phase(rec, "plan", ospan, op_id, traced,
                            lambda: df._jdf.queryExecution().executedPlan())
                if mode == "check":  # the checked pass collects instead
                    rows = self._phase(rec, "exec", ospan, op_id, traced, df.collect)
                else:
                    self._phase(rec, "exec", ospan, op_id, traced,
                                lambda: df.write.format("noop").mode("overwrite").save())
        except Exception as e:  # an op failure is a result, not a crash
            rec["err"] = f"{type(e).__name__}: {str(e)[:300]}"
        finally:
            rec["op_s"] = self.spans.close(ospan)
            if traced:
                self.sc.setJobGroup("perfbench:idle", "between ops")
        rec["storage_mb"] = self.stats.storage_mb()
        if traced:
            self._trace_op(rec, op_id, op)
        if mode == "check" and "err" not in rec:
            t0 = time.perf_counter()
            try:
                bad = (self.checker.cli(op, report) if df is None
                       else self.checker.registry(op, df.columns, rows))
            except Exception as e:
                bad = f"check raised {type(e).__name__}: {str(e)[:300]}"
            self.check_s += time.perf_counter() - t0
            if bad:
                self.failures[op] = bad
        if "err" in rec:
            self.failures.setdefault(op, rec["err"])
        self.stats.release()
        conf1 = dict(self.spark.conf.getAll)
        changed = sorted(k for k in conf0.keys() | conf1.keys()
                         if conf0.get(k) != conf1.get(k))
        rec["conf_drift"] = changed
        if changed:
            self.drift.setdefault(op, changed)
            for k in changed:  # undo, so drift cannot leak into the next op
                if k in conf0:
                    self.spark.conf.set(k, conf0[k])
                else:
                    self.spark.conf.unset(k)
        self.records.append(rec)

    def _phase(self, rec: dict, name: str, ospan: int, op_id: str, traced: bool, fn):
        if traced:
            self.sc.setJobGroup(f"{op_id}:{name}", op_id)
        s = self.spans.open(name, ospan, op_id)
        try:
            return fn()
        finally:
            rec[f"{name}_s"] = self.spans.close(s)

    def _trace_op(self, rec: dict, op_id: str, op: str) -> None:
        import workloads

        for phase in PHASES:
            for k, v in self.stats.group(f"{op_id}:{phase}").items():
                rec[f"{phase}.{k}"] = v
        rec["broadcast_mb"] = self.stats.broadcast_mb()
        rec["pins.created"] = len(set().union(
            *(self.stats.cached_rdds(f"{op_id}:{phase}") for phase in PHASES)))
        rec["pins.live_after_op"] = self.stats.live_pins()
        if op.startswith("cli."):
            out = self.paths.train_out if op == "cli.train" else self.paths.predict_out
            n, size = workloads.output_files(out)
            rec["io.files_written"], rec["io.output_mb"] = n, size / 1024.0 / 1024.0

    # -- passes ------------------------------------------------------
    def run_pass(self, mode: str, traced: bool = False) -> float:
        p = len(self.passes)
        order = list(self.wl.ops)
        random.Random(self.seed * 1_000_003 + p).shuffle(order)
        if mode == "check":
            order = list(self.wl.setup_ops) + order
        gc0 = self.stats.jvm_gc_s()
        pspan = self.spans.open("pass", None, f"p{p}")
        for j, op in enumerate(order):
            self.run_op(p, j, op, pspan, mode, traced)
        wall = self.spans.close(pspan)
        self.passes.append({"pass": p, "mode": mode, "traced": traced,
                            "wall_s": wall, "jvm_gc_s": self.stats.jvm_gc_s() - gc0})
        return wall

    def run(self) -> None:
        self.setup()
        self.run_pass("check")
        best = self.run_pass("warmup")
        for _ in range(WARM_CAP - 1):
            wall = self.run_pass("warmup")
            if wall > (1 - WARM_GAIN) * best:
                break
            best = wall
        # process start to the first timed pass: the JVM launch in full,
        # the repeated session start + input generation once (at its
        # median), and the benchmark's own output checks left out
        self.setup_s = (self.t_reps - self.started + self.launch_s
                        + statistics.median(self.setup_reps[1:])
                        + time.perf_counter() - self.t_reps_end - self.check_s)
        ticks = cpu_ticks()
        for n in range(max(MIN_PASSES[self.trace], round(self.seconds / self.wl.pass_s))):
            self.run_pass("timed", traced=self.trace and n % 2 == 0)
        self.steal = steal_frac(ticks, cpu_ticks())
        self.code_cache_mb = self.stats.code_cache_mb()

    # -- results -----------------------------------------------------
    def timed(self, traced: bool) -> tuple[list[dict], list[dict]]:
        ps = [q for q in self.passes if q["mode"] == "timed" and q["traced"] == traced]
        ids = {q["pass"] for q in ps}
        return ps, [r for r in self.records if r["pass"] in ids]

    def attempted_failed(self) -> tuple[int, int]:
        recs = [r for r in self.records if r["mode"] == "timed"]
        failed = sum(1 for r in recs if "err" in r or r["op"] in self.failures)
        return len(recs), failed

    def end_to_end(self) -> tuple[dict, dict]:
        ps, recs = self.timed(False)
        per_op = op_fastest(recs)
        slowest = max(per_op, key=per_op.get)
        values = {
            "batch_s": min(q["wall_s"] for q in ps),
            "op_p50_s": statistics.median(per_op.values()),
            "op_tail_s": per_op[slowest],
            "setup_s": self.setup_s,
        }
        attempted, failed = self.attempted_failed()
        tail_v, tail_p = tail([r["op_s"] for r in recs])
        notes = {"passes": len(ps), "ops": len(recs), "op_tail_op": slowest,
                 f"op_p{tail_p:.0f}_s": tail_v, "fail_frac": failed / attempted,
                 "host_steal_frac": self.steal}
        return values, notes

    def per_layer(self) -> dict:
        ps, recs = self.timed(True)
        untraced, _ = self.timed(False)
        for r in recs:
            r["conf_drift_ops"] = 1.0 if r["conf_drift"] else 0.0

        def per_pass(key: str) -> float:
            """Median over traced passes of the pass's per-op sum."""
            return statistics.median(
                sum(r.get(key, 0.0) for r in recs if r["pass"] == q["pass"]) for q in ps)

        wall = statistics.median(q["wall_s"] for q in ps)
        out = {
            "session.launch_s": self.launch_s,
            "session.start_s": statistics.median(self.session_s[1:]),
            "storage_peak_mb": max(r["storage_mb"] for r in recs),
            "plan.s": per_pass("plan_s"),
            "jvm.gc_s": statistics.median(q["jvm_gc_s"] for q in ps),
            "jvm.code_cache_mb": self.code_cache_mb,
            "warmup.passes": sum(1 for q in self.passes if q["mode"] == "warmup"),
            "trace.overhead_frac":
                wall / statistics.median(q["wall_s"] for q in untraced) - 1.0,
        }
        for key in ("broadcast_mb", "pins.created", "pins.live_after_op",
                    "io.output_mb", "io.files_written", "conf_drift_ops"):
            out[key] = per_pass(key)
        for phase in ("build", "exec"):
            out[f"{phase}.s"] = per_pass(f"{phase}_s")
            for k in ("jobs", "stages", "tasks"):
                out[f"{phase}.{k}"] = per_pass(f"{phase}.{k}")
        for k in ("executor_run_s", "executor_cpu_s", "gc_s", "shuffle_read_mb",
                  "shuffle_write_mb", "spill_mb"):
            out[k] = sum(per_pass(f"{ph}.{k}") for ph in PHASES)
        out["core_busy_frac"] = out["executor_run_s"] / (wall * self.cores)
        tasks = sum(per_pass(f"{ph}.tasks_run") for ph in PHASES)
        records = sum(per_pass(f"{ph}.records") for ph in PHASES)
        out["records_per_task"] = records / tasks if tasks else 0.0
        for op in ("cli.train", "cli.predict"):  # timed passes, else the checked one
            lat = ([r["op_s"] for r in self.records if r["mode"] == "timed" and r["op"] == op]
                   or [r["op_s"] for r in self.records if r["op"] == op])
            out[f"{op}_s"] = statistics.median(lat) if lat else 0.0
        return {k: float(v) for k, v in out.items()}


def prepare_env(root: str, work: str) -> None:
    """Environment for the session: the checkout on the Python path (the
    executors' Python workers import the package), scratch space inside
    the checkout, and core/memory defaults sized to this machine."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    sys.path.insert(0, root)


def execute(wl, seed: int, seconds: float, trace: bool, started: float) -> dict:
    """Run one workload from the repository root; return its report,
    whose ``result`` is the benchmark's result line.  ``started`` is when
    set-up began (``setup_s`` counts from it)."""
    root = os.getcwd()
    work = os.path.join(root, WORK_DIR, f"{wl.name}-{seed}-{os.getpid()}")
    prepare_env(root, work)
    bench = Bench(wl, seed, seconds, trace, work, started)
    try:
        bench.run()
        info = stamp(bench.spark, seed)
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(root, WORK_DIR))
        except OSError:
            pass
    if trace:
        values, units, notes = bench.per_layer(), PER_LAYER, {}
    else:
        (values, notes), units = bench.end_to_end(), E2E
    attempted, failed = bench.attempted_failed()
    return {
        "workload": wl.name, "trace": int(trace), "stamp": info,
        "metrics": values, "units": units, "notes": notes,
        "failures": bench.failures, "conf_drift": bench.drift,
        "passes": bench.passes, "setup_reps_s": bench.setup_reps,
        "session_s": bench.session_s, "records": bench.records,
        "spans": bench.spans.dump() if trace else [],
        "result": {
            "correct": not bench.failures, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        },
    }


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(root, "sf_datalake_spark"))):
        print("perfbench: run from the repository root "
              "(sf_datalake_spark/ and __spark_entry__.py not found)", file=sys.stderr)
        return 2
    report = execute(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace),
                     T_PROCESS)

    info, values = report["stamp"], report["metrics"]
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          + " ".join(f"{k}={v}" for k, v in info.items() if k != "seed"))
    for k, unit in report["units"].items():
        print(f"  {k:<22} {values[k]:>12.4f} {unit}")
    for k, v in report["notes"].items():
        print(f"  {k:<22} {v}")
    for op, why in sorted(report["failures"].items()):
        print(f"  FAILED {op}: {why}")
    for op, keys in sorted(report["conf_drift"].items()):
        print(f"  conf drift {op}: {keys}")
    print("  pass series (check, warm-up, timed): "
          f"{[round(q['wall_s'], 3) for q in report['passes']]}")

    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    print(json.dumps(report["result"]))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
