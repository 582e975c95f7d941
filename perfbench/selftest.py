"""Smoke self-test of the benchmark at tiny size (a few ops per class).

    python3 perfbench/selftest.py

Runs every workload on a 24-session lake with one set-up, once untraced and
once traced, plus one run with a deliberately wrong result, all in one Spark
session, and asserts that:

- every metric named in BENCHMARK.json is printed, with its unit;
- every per-class latency in the detail record carries its unit and sample
  count;
- a clean run reports ``failed == 0`` and the wrong result lands in
  ``failed`` / ``error_frac``;
- the run leaves the legacy ``BENCH_DETAIL.json`` and ``git status``
  untouched.

Exits 0 when every assertion holds.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run as bench  # noqa: E402
import workloads  # noqa: E402


class WrongFirstResult(workloads.SessionApi):
    """session_api whose first op drops a row from its result before the
    check: a well-formed but wrong result."""

    def next_op(self):
        op = super().next_op()
        if not getattr(self, "_wronged", False):
            self._wronged = True
            check = op.check
            op.check = lambda out: check(out[1:])
        return op


def _git_status() -> str | None:
    try:
        return subprocess.run(
            ["git", "status", "--porcelain"], cwd=ROOT, capture_output=True,
            text=True, check=True).stdout
    except (OSError, subprocess.CalledProcessError):
        return None  # not a git checkout


def _digest(path: str) -> str | None:
    try:
        with open(path, "rb") as f:
            return hashlib.sha256(f.read()).hexdigest()
    except FileNotFoundError:
        return None


def _run(spark, base, k, argv) -> tuple[dict, dict]:
    args = bench.parse_args(argv)
    work = os.path.join(base, f"selftest-{args.workload}-{args.trace}")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        code = bench.run(spark, args, work, k, base, 1.0)
    if code != 0:
        raise RuntimeError(f"{argv}: exit code {code}")
    lines = buf.getvalue().strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    legacy = os.path.join(ROOT, "BENCH_DETAIL.json")
    before = (_git_status(), _digest(legacy))

    base = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(base, f"selftest-{os.getpid()}")
    bench.prepare_env(work)
    bench.SETUP_REPS = 1
    for w in bench.WORKLOADS.values():
        w.n_sessions = 24
    k = bench.cores()
    spark = bench.start_spark(work, k)
    problems: list[str] = []
    try:
        for w in ("session_api", "store_churn"):
            for trace in (0, 1):
                detail, out = _run(spark, work, k, [
                    "--workload", w, "--seed", "3", "--seconds", "4",
                    "--trace", str(trace)])
                tag = f"{w} trace={trace}"
                if set(out) != {"correct", "attempted", "failed", "metrics"}:
                    problems.append(f"{tag}: result keys {sorted(out)}")
                got = {n: m.get("unit") for n, m in out["metrics"].items()}
                if got != want[trace]:
                    problems.append(f"{tag}: metrics/units differ: {got}")
                if not out["correct"] or out["failed"]:
                    problems.append(f"{tag}: {out['failed']} failed: {detail['errors']}")
                for c, v in detail["classes"].items():
                    if v.get("unit") != "ms" or not v.get("samples"):
                        problems.append(f"{tag}: class {c} lacks unit/samples")
        bench.WORKLOADS["session_api"] = WrongFirstResult
        detail, out = _run(spark, work, k, [
            "--workload", "session_api", "--seed", "3", "--seconds", "2"])
        if out["correct"] or out["failed"] < 1 or detail["error_frac"] <= 0:
            problems.append("a wrong result did not land in failed/error_frac")
    finally:
        bench.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    if (_git_status(), _digest(legacy)) != before:
        problems.append("the runs changed git status or BENCH_DETAIL.json")
    for p in problems:
        print("selftest:", p, file=sys.stderr)
    print("selftest:", "FAILED" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
