"""Self-test of the benchmark.

    python3 perfbench/selftest.py

Checks with a fake workload that an op whose output fails its check
counts as failed on every execution.  Then runs every workload twice
on a tiny input: once untraced with one op forced to fail, once
traced.  Checks that each run prints every metric
BENCHMARK.json names, with its unit, and that the forced failure shows
in ``failed``, ``correct`` and ``error_rate`` instead of vanishing: every
execution of the failing op, warm-up and measured, counts as failed.
Exits non-zero on the first mismatch.
"""

from __future__ import annotations

import contextlib
import json
import os
import subprocess
import sys
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REPORT_METRICS = {
    "wall_s": "s", "op_p50_s": "s", "op_tail_s": "s", "setup_s": "s",
    "peak_rss_mb": "MB", "error_rate": "ratio",
}
IO_METRICS = {"write_mb_per_s": "MB/s", "scan_mb_per_s": "MB/s", "stored_bytes_ratio": "ratio"}
FAIL_OP = {"llm_curation": "q_tfidf", "parquet_io": "schema_dump"}


def run(workload: str, trace: int, fail_op: str | None) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny"]
    if fail_op:
        cmd += ["--fail-op", fail_op]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise SystemExit(f"{cmd} exited {p.returncode}:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok  {what}", flush=True)


def check_metrics(got: dict, want: dict[str, str], what: str) -> None:
    diff = sorted(set(got) ^ set(want))
    expect(not diff, f"{what}: metric names match BENCHMARK.json" + (f", except {diff}" if diff else ""))
    for name, unit in want.items():
        v = got[name]
        expect(v["unit"] == unit and isinstance(v["value"], (int, float)),
               f"{what}: {name} is a number in {unit}")


def check_wrong_output_counted() -> None:
    """An op whose output fails its check counts as failed on every
    execution, the unchecked measured ones too (no Spark needed)."""
    sys.path.insert(0, HERE)
    from run import Runner

    def op(name, answer):
        return SimpleNamespace(name=name, layer="test", run=lambda ctx, warm: answer,
                               check=lambda ctx, got: None if got == 1 else f"got {got}")

    tracer = SimpleNamespace(span=lambda *a, **k: contextlib.nullcontext())
    runner = Runner(SimpleNamespace(name="test", ops=(op("right", 1), op("wrong", 2))),
                    SimpleNamespace(tracer=tracer), fail_op=None)
    runner.warmup()
    runner.passes(3, 0, "measure")
    expect(runner.attempted == 8 and runner.failed == 4,
           f"a wrong op fails all 4 of its executions: failed {runner.failed} of "
           f"{runner.attempted}")


def main() -> int:
    check_wrong_output_counted()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    end_to_end = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    for w in bench["workloads"]:
        name = w["name"]
        report, result = run(name, 0, fail_op=FAIL_OP[name])
        expect(set(result) == {"correct", "attempted", "failed", "metrics"},
               f"{name}: result line keys")
        check_metrics(result["metrics"], end_to_end, f"{name} untraced")
        want = dict(REPORT_METRICS, **(IO_METRICS if name == "parquet_io" else {}))
        expect(all(report["metrics"][k]["unit"] == u for k, u in want.items()),
               f"{name}: report carries {sorted(want)} with units")
        failed_ops = {f["op"] for f in report["failures"]}
        expect(not result["correct"] and failed_ops == {FAIL_OP[name]},
               f"{name}: the forced failure of {FAIL_OP[name]} is named")
        runs = report["op_runs"]
        expect(result["failed"] == runs[FAIL_OP[name]] >= 2
               and result["attempted"] == sum(runs.values()),
               f"{name}: every one of the {runs[FAIL_OP[name]]} executions of "
               f"{FAIL_OP[name]} counts as failed")
        rate = report["metrics"]["error_rate"]["value"]
        expect(rate > 0 and abs(rate - result["failed"] / result["attempted"]) < 1e-12,
               f"{name}: error_rate {rate:.3f} = failed / attempted")

        report, result = run(name, 1, fail_op=None)
        expect(result["correct"] and result["failed"] == 0, f"{name}: traced run is correct")
        check_metrics(result["metrics"], per_layer, f"{name} traced")
        expect(os.path.isfile(os.path.join(ROOT, report["trace_file"])),
               f"{name}: spans written to {report['trace_file']}")
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
