"""Benchmark entry point: one seeded closed-loop run of one workload.

    python3 perfbench/run.py --workload session_api --seed 1 --seconds 20 --trace 0

Run from the repository root. The run starts one local Spark session,
builds the workload's inputs from ``--seed`` (several times: the set-up
time reported is Spark start-up plus the median build, plus ageing and
warm-up), runs ops for ``--seconds`` seconds, checks every result, and
prints as its LAST stdout line one JSON object ``{"correct", "attempted",
"failed", "metrics"}``. The line before it is a JSON ``{"detail": ...}`` record with
the run's configuration and every per-class latency with its unit and
sample count.

``--trace 0`` reports the end-to-end metrics (``BENCHMARK.json``
``end_to_end``). ``--trace 1`` alternates untraced and traced cycles of the
same op mix, and reports the per-layer metrics (``per_layer``) plus the
tracing overhead; its spans are written to ``.perfbench/spans/`` at the
end.

All scratch data lives under ``.perfbench/`` in the working directory and
the run's own subdirectory is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import subprocess
import time
import traceback

T_START = time.perf_counter()

from py4j.protocol import Py4JError  # noqa: E402

from workloads import WORKLOADS  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
# the 1g default cannot broadcast the build sides of the headline joins
DRIVER_MEMORY = "3g"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cores() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def prepare_env(work: str) -> None:
    """Keep every file the run writes (Spark scratch, Python temp files)
    inside ``work``, and put the repository on the Python workers' path —
    pandas-UDF operators import ``lakehouse_spark`` inside the worker."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM (the launcher and the driver): scratch files in the run's
    # directory, no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    for v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(v, "1")
    sys.path.insert(0, ROOT)


def start_spark(work: str, k: int):
    from lakehouse_spark.session import get_spark

    return get_spark(
        app_name="perfbench", master=f"local[{k}]", shuffle_partitions=k,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.enabled": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        })


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    worker daemons it forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    try:
        gw.shutdown()
    except Py4JError:
        pass  # the gateway is already down
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def pct(xs: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def host_probe() -> float:
    """Seconds for a fixed single-threaded Python loop: a slow reading says
    the host, not the code, was slow during the run."""
    t = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i * i
    return time.perf_counter() - t


def class_summary(xs: list[float]) -> dict:
    """Median, plus the highest of p99/p90/p75 with at least ten samples
    beyond it, with the sample count."""
    out = {"p50_ms": statistics.median(xs), "unit": "ms", "samples": len(xs)}
    for q in (99, 90, 75):
        if len(xs) * (100 - q) >= 1000:
            out[f"p{q}_ms"] = pct(xs, q / 100)
            break
    return out


def mix_rate(lat: dict[str, list[float]], cycle: list[str],
             agg=statistics.fmean) -> float:
    """Ops per second of the workload's fixed op mix: cycle length ÷ the
    sum over the cycle of each class's mean (or ``agg``) latency. Means
    keep the cost of rare slow ops (compactions, checkpoints) in; weighting
    by the cycle keeps the mix the same however many ops of each class a
    run fitted."""
    return len(cycle) / sum(agg(lat[c]) / 1000.0 for c in cycle)


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


class Loop:
    """Closed loop: one client, one op at a time, each op in its own Spark
    job group."""

    def __init__(self, spark, wl):
        self.spark, self.wl = spark, wl
        self.n = 0
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def run_op(self, op, tracer=None, rec=None):
        from pyspark.sql import DataFrame

        sc = self.spark.sparkContext
        group = f"op{self.n}"
        self.n += 1
        sc.setJobGroup(group, op.cls)
        ok = False
        t0 = time.perf_counter()
        try:
            if tracer is None:
                out = op.run()
                if isinstance(out, DataFrame):
                    out = out.collect()
            else:
                tracer.req, df = group, None
                with tracer.span("op." + op.cls) as s:
                    out = op.run()
                    if isinstance(out, DataFrame):
                        df = out
                        with tracer.span("execute"):
                            out = out.collect()
                rec.update(span=s, group=group, df=df)
            ms = (time.perf_counter() - t0) * 1000.0
            ok = bool(op.check(out))
        except Exception as e:  # noqa: BLE001 — a failed op is a result
            ms = (time.perf_counter() - t0) * 1000.0
            traceback.print_exc(file=sys.stderr)
            self.errors.append(f"{op.cls}: {type(e).__name__}: {str(e)[:300]}")
        sc.setJobGroup("idle", "idle")
        if tracer is not None:
            tracer.req = None
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < self.failed:
                self.errors.append(f"{op.cls}: result differs from the model")
        return ms

    def timed(self, seconds: float, lat: dict, tracer=None, on_op=None) -> None:
        """Run ops for ``seconds``, and for at least one whole cycle of the
        workload's op mix; each op's latency goes to ``lat[class]``."""
        end = time.perf_counter() + seconds
        ops = 0
        while True:
            op = self.wl.next_op()
            rec = {} if tracer is not None else None
            if on_op is not None:
                on_op("before", rec)
            ms = self.run_op(op, tracer, rec)
            lat.setdefault(op.cls, []).append(ms)
            ops += 1
            if on_op is not None:
                on_op("after", rec)
            if ops >= len(self.wl.CYCLE) and time.perf_counter() >= end:
                return


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "lakehouse_spark")):
        print("perfbench: no lakehouse_spark package next to perfbench/; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    base = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(base, f"work-{args.workload}-{os.getpid()}")
    prepare_env(work)
    k = cores()
    t_spark = time.perf_counter()
    spark = start_spark(work, k)
    try:
        session_start_s = time.perf_counter() - t_spark
        code = run(spark, args, work, k, base, session_start_s)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return code


def run(spark, args, work, k, base, session_start_s) -> int:
    wl = WORKLOADS[args.workload](spark, args.seed, work)
    loop = Loop(spark, wl)
    builds = []
    for rep in range(SETUP_REPS):
        t = time.perf_counter()
        wl.setup(rep)
        builds.append(time.perf_counter() - t)
    t = time.perf_counter()
    wl.age()
    age_s = time.perf_counter() - t
    t = time.perf_counter()
    for _ in wl.CYCLE:
        loop.run_op(wl.next_op())
    warm_s = time.perf_counter() - t
    # set-up = process start → first timed op, with the repeated input build
    # counted once, at its median
    setup_s = (time.perf_counter() - T_START) - sum(builds) + statistics.median(builds)

    probes = [host_probe()]
    lat: dict[str, list[float]] = {}
    layer = None
    if args.trace:
        from layers import TracedPhase

        lat_u: dict[str, list[float]] = {}
        phase = TracedPhase(spark, wl)
        phase.run(loop, args.seconds, lat, lat_u)
        if wl.name == "session_api":
            phase.batch_pass(loop)
        # from class medians: the first cycle's compactions and checkpoint
        # fall in a traced cycle and are not tracing overhead
        layer = phase.metrics(
            session_start_s=session_start_s,
            ops_per_s_untraced=mix_rate(lat_u, wl.CYCLE, statistics.median),
            ops_per_s_traced=mix_rate(lat, wl.CYCLE, statistics.median))
        spans = os.path.join(base, "spans", f"{wl.name}-seed{args.seed}.jsonl")
        phase.tracer.close()
        phase.tracer.dump(spans)
    else:
        # space is read, untimed, at a fixed point of the op sequence: after
        # the first timed cycle, which in store_churn holds two compactions,
        # a checkpoint and a vacuum. So it does not depend on run length.
        t = time.perf_counter()
        loop.timed(0, lat)
        first_s = time.perf_counter() - t
        bpr = wl.live_bytes_per_row()
        loop.timed(args.seconds - first_s, lat)

    probes.append(host_probe())
    checks, bad = wl.finish()
    loop.attempted += checks
    loop.failed += bad
    if bad:
        loop.errors.append(f"{bad} of {checks} end-of-run checks failed")

    classes = {c: class_summary(v) for c, v in sorted(lat.items())}
    metrics = layer or {
        "setup_s": {"value": setup_s, "unit": "s"},
        "ops_per_s": {"value": mix_rate(lat, wl.CYCLE), "unit": "1/s"},
        "op_p50_ms": {"value": geomean([v["p50_ms"] for c, v in classes.items()
                                        if c not in wl.MAINTENANCE]), "unit": "ms"},
        "page_p50_ms": {"value": classes["page"]["p50_ms"], "unit": "ms"},
        "bytes_per_live_row": {"value": bpr, "unit": "B"},
    }
    detail = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "master": f"local[{k}]", "shuffle_partitions": k,
        "driver_memory": DRIVER_MEMORY, "nproc": os.cpu_count(),
        "setup_builds_s": builds, "age_s": age_s, "warmup_s": warm_s,
        "session_start_s": session_start_s, "host_probe_s": probes,
        "error_frac": loop.failed / loop.attempted, "errors": loop.errors[:20],
        "classes": classes,
    }
    for e in loop.errors[:20]:
        print("perfbench error:", e, file=sys.stderr)
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": loop.failed == 0, "attempted": loop.attempted,
        "failed": loop.failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
