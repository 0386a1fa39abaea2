"""Layer-attributed benchmark of the engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  One closed-loop client: this process
generates the workload's input from the seed, starts the engine's
Spark session (``session.get_spark`` at ``local[nproc]``), runs one
untimed warm-up pass over the workload's ops -- checking every op's
output -- and then measures whole passes, at least one and until
``--seconds`` have passed.  ``--trace 1`` then runs
as many passes again with spans and Spark counters recorded, and as
many untraced after them for the tracing overhead.

The last stdout line is the result: ``correct``, ``attempted``,
``failed`` and the metrics BENCHMARK.json declares (``end_to_end``
untraced, ``per_layer`` traced).  The line before it is the report:
input size, environment fingerprint, failures by op, and every
end-to-end metric by name and unit, including those BENCHMARK.json
does not gate.  Everything the run writes stays under ``.perfbench/``
in the repository root; a traced run leaves its spans there.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import Counter

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def cpu_probe_s(reps: int = 5) -> float:
    """Median time of a fixed single-threaded Python loop.  Taken before
    the session starts and after it stops, it tells whether two sets of
    runs saw the same machine speed: a set taken on a slower or busier
    machine shows a larger probe, not only larger metrics."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        x = 0
        for i in range(1_000_000):
            x = (x * 31 + i) & 0xFFFF
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def rss_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for process {pid}")


def set_up_environment(work: str) -> dict[str, str]:
    """Point every scratch location of Spark, the JVM and Python at
    ``work``; returns the session confs that do the same."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # the JVMs' perf-data files live in /tmp whatever java.io.tmpdir says
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}/derby -XX:-UsePerfData"
        ),
    }


def tail_percentile(samples: list[float]) -> tuple[float, int]:
    """The highest percentile with at least ten samples above it, and
    that percentile; with fewer than 11 samples, the largest one."""
    s = sorted(samples)
    k = len(s) - 11 if len(s) >= 11 else len(s) - 1
    return s[k], round(100 * (k + 1) / len(s))


class Runner:
    """Runs a workload's ops and counts their executions and failed
    executions.  An execution fails if it raises, or if its op's output
    failed a check: an op that answers wrong is wrong on every pass, not
    only on the checked one.  A failure is the op's, never the run's."""

    def __init__(self, workload, ctx, fail_op: str | None):
        self.workload = workload
        self.ctx = ctx
        self.fail_op = fail_op
        self.runs: Counter[str] = Counter()
        self.raised: Counter[str] = Counter()
        self.wrong: set[str] = set()
        self.failures: list[dict] = []
        self.warmup_op_s: dict[str, float] = {}

    @property
    def attempted(self) -> int:
        return sum(self.runs.values())

    @property
    def failed(self) -> int:
        return sum(n if op in self.wrong else self.raised[op] for op, n in self.runs.items())

    def _run(self, op, warm: bool):
        self.runs[op.name] += 1
        if op.name == self.fail_op:
            raise RuntimeError(f"failure injected into {op.name}")
        return op.run(self.ctx, warm)

    def fail(self, op: str, phase: str, msg: str) -> None:
        """Record a failure; ``phase`` "check" or "output" means a wrong
        output, any other an execution that raised."""
        self.failures.append({"op": op, "phase": phase, "error": msg[-500:]})
        if phase in ("check", "output"):
            self.wrong.add(op)
        else:
            self.raised[op] += 1

    def warmup(self) -> float:
        """One pass that checks every op; returns its time without the
        checks."""
        for op in self.workload.ops:
            t0 = time.perf_counter()
            try:
                result = self._run(op, warm=True)
                ok = True
            except Exception:
                ok = False
                self.fail(op.name, "warmup", traceback.format_exc())
            self.warmup_op_s[op.name] = time.perf_counter() - t0
            if not ok:
                continue
            try:
                msg = op.check(self.ctx, result)
            except Exception:
                msg = traceback.format_exc()
            if msg:
                self.fail(op.name, "check", msg)
        return sum(self.warmup_op_s.values())

    def passes(self, n: int, seconds: float, phase: str):
        """Whole passes: at least ``n``, and until ``seconds`` elapse.
        Returns (pass wall times, per-op latencies)."""
        walls: list[float] = []
        lat: dict[str, list[float]] = {op.name: [] for op in self.workload.ops}
        tracer = self.ctx.tracer
        start = time.perf_counter()
        while len(walls) < n or time.perf_counter() - start < seconds:
            t_pass = time.perf_counter()
            with tracer.span("workload", workload=self.workload.name, pass_no=len(walls)):
                for op in self.workload.ops:
                    t0 = time.perf_counter()
                    try:
                        with tracer.span("op", op=op.name, layer=op.layer):
                            self._run(op, warm=False)
                    except Exception:
                        self.fail(op.name, phase, traceback.format_exc())
                        continue
                    lat[op.name].append(time.perf_counter() - t0)
            walls.append(time.perf_counter() - t_pass)
        return walls, lat


def layer_metrics(tracer, counters: dict, walls: list[float], lat: dict,
                  all_ops: list[str], written: dict, cores: int) -> dict:
    """Per-layer metrics of the traced passes, each per pass."""
    n = len(walls)
    spans = tracer.spans
    children: dict[int, list[dict]] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def inclusive(s, key):
        own = counters.get(tracer.group(s["id"]), {}).get(key, 0)
        return own + sum(inclusive(c, key) for c in children.get(s["id"], ()))

    def per_pass(sel, key=None):
        if key is None:
            return sum(s["end"] - s["start"] for s in sel) / n
        return sum(inclusive(s, key) for s in sel) / n

    def named(name):
        return [s for s in spans if s["name"] == name]

    run_groups = [c for g, c in counters.items() if g.startswith(tracer.run_id + "/")]

    def spark(key):
        return sum(c[key] for c in run_groups) / n

    def med(op):
        return statistics.median(lat[op]) if lat.get(op) else 0.0

    ops = named("op")
    m: dict[str, tuple[float, str]] = {
        "registry.build_s": (per_pass(named("registry.build")), "s"),
        "registry.build_jobs": (per_pass(named("registry.build"), "jobs"), "count"),
        "registry.build_share": (per_pass(named("registry.build")) / statistics.median(walls),
                                 "ratio"),
    }
    for fam in ("dedup", "similarity", "graph", "text"):
        sel = [s for s in ops if s["layer"] == f"operators.{fam}"]
        m[f"operators.{fam}.s"] = (per_pass(sel), "s")
        m[f"operators.{fam}.jobs"] = (per_pass(sel, "jobs"), "count")
    m["udf.boundary_s"] = (med("q_grouped_apply") - med("q_grouped_apply_moments"), "s")
    for key in ("jobs", "stages", "tasks", "failed_tasks"):
        m[f"spark.{key}"] = (spark(key), "count")
    for key in ("exec_s", "executor_run_s", "executor_cpu_s", "gc_s"):
        m[f"spark.{key}"] = (spark(key), "s")
    m["spark.core_util"] = (spark("executor_run_s") / (statistics.median(walls) * cores), "ratio")
    for key in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                "input_bytes", "output_bytes"):
        m[f"spark.{key}"] = (spark(key), "bytes")
    for key in ("write", "merge", "compact", "footer", "scan"):
        m[f"sources.{key}_s"] = (per_pass(named(f"sources.{key}")), "s")
    m["sources.files_written"] = (sum(f for f, _ in written.values()), "count")
    m["sources.bytes_written"] = (sum(b for _, b in written.values()), "bytes")
    for name in all_ops:
        m[f"op.{name}.s"] = (med(name), "s")
        m[f"op.{name}.jobs"] = (per_pass([s for s in ops if s["op"] == name], "jobs"), "count")
    return m


def io_metrics(lat: dict, written: dict, input_bytes: int) -> dict:
    """Throughputs of the Parquet I/O workload: dataset bytes written
    (scanned) per second of the writing (scanning) ops' median times."""
    med = {k: statistics.median(v) for k, v in lat.items() if v}
    w_ops = [op for op in written if op in med]
    s_ops = [op for op in ("scan_full", "scan_projected", "scan_filtered") if op in med]
    out = {"stored_bytes_ratio": (written["write"][1] / input_bytes, "ratio")}
    if w_ops:
        out["write_mb_per_s"] = (sum(written[op][1] for op in w_ops) / 1e6
                                 / sum(med[op] for op in w_ops), "MB/s")
    if s_ops:
        out["scan_mb_per_s"] = (written["merge"][1] * len(s_ops) / 1e6
                                / sum(med[op] for op in s_ops), "MB/s")
    return out


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run(args, work: str) -> int:
    confs = set_up_environment(work)
    if args.trace:  # keep every job and stage of the run for the counters
        confs.update({"spark.ui.retainedJobs": "1000000", "spark.ui.retainedStages": "1000000"})
    sys.path.insert(0, ROOT)
    try:
        import duckdb
        import pyspark
        from pyspark import SparkContext

        import workloads
        from spans import Tracer, counters_by_group, status_store_dump
        from tmp_parquet_merge_spark.session import get_spark
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    wl = workloads.WORKLOADS.get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    if args.fail_op and args.fail_op not in {op.name for op in wl.ops}:
        print(f"perfbench: {wl.name} has no op {args.fail_op!r}", file=sys.stderr)
        return 2
    load_start = os.getloadavg()
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    phases: dict[str, float] = {}
    clock = [T_START]

    def lap(name: str) -> None:
        now = time.perf_counter()
        phases[name] = now - clock[0]
        clock[0] = now

    lap("import")
    probe_start = cpu_probe_s()
    lap("cpu_probe")
    input_dir, input_size = wl.prepare(work, args.seed, args.tiny)
    lap("prepare")
    # the checks' reference answers depend on the input alone: compute
    # them on a DuckDB connection of their own while the JVM starts
    pool = concurrent.futures.ThreadPoolExecutor(1)
    facts = pool.submit(wl.facts, input_dir, duckdb.connect(config={"threads": 2}))
    pool.shutdown(wait=False)

    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark("perfbench", extra_conf=confs)
        # load the noop sink's writer now, not in the first measured op
        spark.range(1).write.mode("overwrite").format("noop").save()
        get_spark_s = time.perf_counter() - t0
        lap("get_spark")
        sc = spark.sparkContext
        run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
        tracer = Tracer(sc, run_id)
        ctx = workloads.Ctx(spark, tracer, input_dir, os.path.join(work, "out"),
                            duckdb.connect(), facts.result())
        runner = Runner(wl, ctx, args.fail_op)
        lap("facts")
        warmup_s = runner.warmup()
        lap("warmup_and_checks")
        walls, lat = runner.passes(1, args.seconds, "measure")
        lap("measure")

        written = {}
        if wl.output_checks:
            for op, msg in wl.output_checks(ctx).items():
                if msg:
                    runner.fail(op, "output", msg)
            written = wl.written(ctx)
        lap("output_checks")

        layers = {}
        if args.trace:
            tracer.enabled = True
            t_walls, t_lat = runner.passes(len(walls), 0, "trace")
            tracer.enabled = False
            # pass times still fall as the JIT warms: untraced passes on
            # both sides of the traced ones cancel that drift
            after, _ = runner.passes(len(walls), 0, "measure")
            counters = counters_by_group(*status_store_dump(sc))
            all_ops = [op.name for w in workloads.WORKLOADS.values() for op in w.ops]
            layers = layer_metrics(tracer, counters, t_walls, t_lat, all_ops, written, cores)
            layers["session.get_spark_s"] = (get_spark_s, "s")
            layers["session.warmup_s"] = (warmup_s, "s")
            layers["trace.wall_s"] = (statistics.median(t_walls), "s")
            untraced = (statistics.median(walls) + statistics.median(after)) / 2
            layers["trace.overhead_s"] = (statistics.median(t_walls) - untraced, "s")
            lap("trace")

        rss = {"python": rss_hwm_mb(), "jvm": rss_hwm_mb(SparkContext._gateway.proc.pid)}
        versions = {
            "pyspark": pyspark.__version__,
            "java": sc._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "driver_memory": sc.getConf().get("spark.driver.memory"),
        }
    finally:
        if spark is not None:
            stop_spark(spark)
    lap("stop")

    samples = [x for v in lat.values() for x in v]
    tail, tail_pct = tail_percentile(samples) if samples else (0.0, 0)
    failed = runner.failed
    metrics = {
        "wall_s": (statistics.median(walls), "s"),
        "op_p50_s": (statistics.median(samples) if samples else 0.0, "s"),
        "op_tail_s": (tail, "s"),
        "setup_s": (get_spark_s + warmup_s, "s"),
        "peak_rss_mb": (sum(rss.values()), "MB"),
        "error_rate": (failed / runner.attempted, "ratio"),
    }
    if written:
        metrics.update(io_metrics(lat, written, input_size["bytes"]))

    report = {
        "workload": wl.name,
        "why": next(w["why"] for w in declared["workloads"] if w["name"] == wl.name),
        "seed": args.seed,
        "client": "closed loop: one client, ops in order, each after the previous ends",
        "input": input_size,
        "passes": len(walls),
        "pass_wall_s": walls,
        "op_runs": dict(runner.runs),
        "op_samples": len(samples),
        "op_tail_percentile": tail_pct,
        "op_median_s": {k: statistics.median(v) for k, v in lat.items() if v},
        "warmup_op_s": runner.warmup_op_s,
        "peak_rss_mb_by_process": rss,
        "phase_s": phases,
        "failures": runner.failures,
        "env": {
            "nproc": cores,
            "loadavg_start": load_start,
            "loadavg_end": os.getloadavg(),
            "cpu_probe_s_start": probe_start,
            "cpu_probe_s_end": cpu_probe_s(),
            "spark_master": f"local[{cores}]",
            **versions,
        },
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    if args.trace:
        report["per_layer"] = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
        trace_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_file = os.path.join(trace_dir, f"{run_id}.json")
        with open(trace_file, "w") as f:
            json.dump({"report": report, "spans": tracer.spans, "counters": counters}, f)
        report["trace_file"] = os.path.relpath(trace_file, ROOT)
    print(json.dumps(report))

    chosen = layers if args.trace else metrics
    names = [m["name"] for m in declared["per_layer" if args.trace else "end_to_end"]]
    print(json.dumps({
        "correct": failed == 0,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": {k: {"value": chosen[k][0], "unit": chosen[k][1]} for k in names},
    }))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fail-op", help="make this op raise (self-test of the error count)")
    ap.add_argument("--tiny", action="store_true", help="tiny input (self-test)")
    args = ap.parse_args(argv)
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
