"""The traced phase of a ``--trace 1`` run and the per-layer metrics it
yields. Each metric is a median per op (or per call of the layer), or a
count over the phase; a layer the workload never enters reports 0."""

from __future__ import annotations

import os
import re
import statistics
import time

from tracing import Tracer, union_ms
from workloads import files_under

_CKPT = re.compile(r"_checkpoint_\d+\.json$")

#: name → (unit, better); BENCHMARK.json's per_layer lists the same names
LAYER_METRICS: dict[str, tuple[str, str]] = {
    "session.start_s": ("s", "lower"),
    "scale_synth.build_s": ("s", "lower"),
    "api.construct_ms": ("ms", "lower"),
    "api.execute_ms": ("ms", "lower"),
    "api.py4j_rts": ("count", "lower"),
    "reads.read_ms": ("ms", "lower"),
    "reads.files_scanned": ("count", "lower"),
    "reads.files_live": ("count", "lower"),
    "reads.dv_live": ("count", "lower"),
    "dml.spark_job_ms": ("ms", "lower"),
    "dml.driver_ms": ("ms", "lower"),
    "dml.bytes_written": ("B", "lower"),
    "dml.segments_written": ("count", "lower"),
    "manifest.checkpoints": ("count", "lower"),
    "layout.compact_calls": ("count", "lower"),
    "layout.compactions_run": ("count", "lower"),
    "layout.compact_ms": ("ms", "lower"),
    "sqldml.route_ms": ("ms", "lower"),
    "catalog.sql_ms": ("ms", "lower"),
    "closure.ms": ("ms", "lower"),
    "closure.jobs": ("count", "lower"),
    "sessionize.ms": ("ms", "lower"),
    "sessionize.executor_run_ms": ("ms", "lower"),
    "queries.construct_ms": ("ms", "lower"),
    "queries.py4j_rts": ("count", "lower"),
    "queries.minhash_py4j_rts": ("count", "lower"),
    "spark.analysis_ms": ("ms", "lower"),
    "spark.optimization_ms": ("ms", "lower"),
    "spark.planning_ms": ("ms", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.executor_run_ms": ("ms", "lower"),
    "spark.executor_cpu_ms": ("ms", "lower"),
    "spark.gc_ms": ("ms", "lower"),
    "spark.shuffle_read_bytes": ("B", "lower"),
    "spark.shuffle_write_bytes": ("B", "lower"),
    "spark.sched_gap_ms": ("ms", "lower"),
    "spark.collect_ms": ("ms", "lower"),
    "residual_ms": ("ms", "lower"),
    "trace.ops_per_s_untraced": ("1/s", "higher"),
    "trace.ops_per_s_traced": ("1/s", "higher"),
    "trace.overhead_ratio": ("ratio", "lower"),
    "trace.spans": ("count", "lower"),
}


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


class TracedPhase:
    def __init__(self, spark, wl):
        self.spark, self.wl = spark, wl
        self.tracer = Tracer(spark)
        self.ops: list[dict] = []

    def _hook(self, when, rec):
        """Per-op bookkeeping, done outside the op's timing."""
        tr = self.tracer
        if when == "before":
            rec["files0"] = files_under(self.wl.store_roots())
            tr.pending_reads = []
            return
        with tr.paused(), tr.off():
            for s in self.wl.stores():
                s.checkpoint_barrier()  # a background checkpoint lands now
            files0 = rec.pop("files0")
            new = {p: b for p, b in files_under(self.wl.store_roots()).items()
                   if p not in files0}
            rec["checkpoints"] = sum(1 for p in new if _CKPT.search(p))
            rec["bytes_written"] = sum(new.values())
            rec["segments_written"] = len(
                {os.path.dirname(p) for p in new if "/_seg" in p})
            rec["jobs"] = tr.jobs_for_group(rec["group"]) if "group" in rec else []
            df = rec.pop("df", None)
            rec["phases"] = tr.phases_ms(df) if df is not None else None
            for span, rdf, store in tr.pending_reads:
                d = store.detail()
                span.attrs.update(files_scanned=len(rdf.inputFiles()),
                                  files_live=d["num_data_files"],
                                  dv_live=d["num_deletion_vectors"])
        self.ops.append(rec)

    def run(self, loop, seconds, lat, lat_untraced):
        """Alternate traced and untraced whole cycles for ``seconds`` (at
        least one of each), so both see the same drift and their
        throughputs give the tracing overhead. The first cycle, which in
        store_churn holds the compactions and a checkpoint, is traced."""
        tr = self.tracer
        tr.instrument()
        try:
            end = time.perf_counter() + seconds
            cycles = 0
            while cycles < 2 or time.perf_counter() < end:
                if cycles % 2 == 0:
                    loop.timed(0, lat, tracer=tr, on_op=self._hook)
                else:
                    with tr.paused(), tr.off():
                        loop.timed(0, lat_untraced)
                cycles += 1
        finally:
            tr.restore()

    def batch_pass(self, loop) -> None:
        """One pass of the headline queries over a freshly synthesized
        corpus, outside the timed phase: the ``plans.scale_synth`` and
        ``queries`` layer metrics. Results are checked like any op."""
        from lakehouse_spark.operators.dedup import release_caches
        from workloads import BatchSynth

        tr = self.tracer
        batch = BatchSynth(self.spark, self.wl.seed, self.wl.work)
        t = time.perf_counter()
        batch.build()
        self.synth_s = time.perf_counter() - t
        for op in batch.ops():
            loop.run_op(op)
        # construction is timed and counted on a second build of each
        # query, so the first build's one-off costs (schema inference,
        # registrations) do not depend on the seeded query order
        for name, spec in batch.suite.items():
            tr.wrap(spec, "build", "queries.build", query=name)
        try:
            for spec in batch.suite.values():
                spec.build(self.spark, batch.dir)
                release_caches()
        finally:
            tr.restore()
        checks, bad = batch.finish()
        loop.attempted += checks
        loop.failed += bad
        if bad:
            loop.errors.append(f"{bad} of {checks} headline queries differ from the oracle")

    def metrics(self, session_start_s, ops_per_s_untraced, ops_per_s_traced):
        tr = self.tracer
        spans = [s for s in tr.spans if s.t1 is not None]
        by_id = {s.id: s for s in spans}
        selfms = tr.self_ms()

        def named(prefix):
            return [s for s in spans if s.name.startswith(prefix)]

        def jobs_in(span, jobs):
            t0, t1 = span.t0 * 1000, span.t1 * 1000
            return [j for j in jobs if j["t0"] is not None and t0 - 1 <= j["t0"] <= t1 + 1]

        def top(prefix):
            """Spans of a layer not nested in another span of that layer."""
            out = []
            for s in named(prefix):
                p = by_id.get(s.parent)
                while p is not None and not p.name.startswith(prefix):
                    p = by_id.get(p.parent)
                if p is None:
                    out.append(s)
            return out

        op_recs = [r for r in self.ops if "span" in r]
        builds = named("queries.build")
        jobs_by_req = {r["group"]: r["jobs"] for r in op_recs}
        dml_job, dml_drv = [], []
        for s in top("dml."):
            jobs = jobs_in(s, jobs_by_req.get(s.req, []))
            j = union_ms([(x["t0"], x["t1"]) for x in jobs if x["t1"] is not None])
            dml_job.append(j)
            dml_drv.append(max(0.0, s.ms - j))
        compact = named("layout.maybe_compact")
        ran = [s for s in compact if s.attrs.get("result")]
        writes = [r for r in op_recs if r["span"].name.startswith(
            ("op.append", "op.upsert", "op.sql_update", "op.delete"))]
        sql_reads = [s for s in named("catalog.sql")
                     if not any(c.parent == s.id for c in named("sqldml.route"))]
        closure_spans = named("closure.descendants")
        minhash = [s for s in builds if s.attrs.get("query") == "dedup_minhash_lsh"]
        reads = named("reads.read")

        def op_sum(key):
            return [sum(j[key] for j in r["jobs"]) for r in op_recs]

        gaps, collect = [], []
        for r in op_recs:
            iv = [(j["t0"], j["t1"]) for j in r["jobs"] if j["t0"] and j["t1"]]
            if iv:
                gaps.append(max(b for _, b in iv) - min(a for a, _ in iv) - union_ms(iv))
                if r["phases"] is not None:
                    collect.append(max(0.0, r["span"].t1 * 1000 - max(b for _, b in iv)))
        phases = [r["phases"] for r in op_recs if r["phases"]]
        # ops that built a DataFrame and then collected it; a DML statement
        # sent through lake.sql runs inside the api call instead
        df_ops = {r["span"].id for r in op_recs if r["phases"]}
        trace_ops = [r for r in op_recs if r["span"].name == "op.trace"]
        m = {
            "session.start_s": session_start_s,
            "scale_synth.build_s": getattr(self, "synth_s", 0.0),
            "api.construct_ms": _med(s.ms for s in top("api.") if s.parent in df_ops),
            "api.execute_ms": _med(s.ms for s in named("execute")),
            "api.py4j_rts": _med(r["span"].rts for r in op_recs),
            "reads.read_ms": _med(s.ms for s in reads),
            "reads.files_scanned": _med(s.attrs["files_scanned"] for s in reads
                                        if "files_scanned" in s.attrs),
            "reads.files_live": _med(s.attrs["files_live"] for s in reads
                                     if "files_live" in s.attrs),
            "reads.dv_live": _med(s.attrs["dv_live"] for s in reads if "dv_live" in s.attrs),
            "dml.spark_job_ms": _med(dml_job),
            "dml.driver_ms": _med(dml_drv),
            "dml.bytes_written": _med(r["bytes_written"] for r in writes),
            "dml.segments_written": _med(r["segments_written"] for r in writes),
            "manifest.checkpoints": float(sum(r["checkpoints"] for r in op_recs)),
            "layout.compact_calls": float(len(compact)),
            "layout.compactions_run": float(len(ran)),
            "layout.compact_ms": _med(s.ms for s in ran),
            "sqldml.route_ms": _med(s.ms for s in named("sqldml.route")),
            "catalog.sql_ms": _med(s.ms for s in sql_reads),
            "closure.ms": _med(s.ms for s in closure_spans),
            "closure.jobs": _med(len(jobs_in(s, jobs_by_req.get(s.req, [])))
                                 for s in closure_spans),
            "sessionize.ms": _med(s.ms for s in named("sessionize.")),
            "sessionize.executor_run_ms": _med(
                sum(j["run_ms"] for j in r["jobs"]) for r in trace_ops),
            "queries.construct_ms": _med(s.ms for s in builds),
            "queries.py4j_rts": _med(s.rts for s in builds),
            "queries.minhash_py4j_rts": _med(s.rts for s in minhash),
            "spark.analysis_ms": _med(p["analysis"] for p in phases),
            "spark.optimization_ms": _med(p["optimization"] for p in phases),
            "spark.planning_ms": _med(p["planning"] for p in phases),
            "spark.jobs": _med(len(r["jobs"]) for r in op_recs),
            "spark.stages": _med(op_sum("stages")),
            "spark.tasks": _med(op_sum("tasks")),
            "spark.executor_run_ms": _med(op_sum("run_ms")),
            "spark.executor_cpu_ms": _med(op_sum("cpu_ms")),
            "spark.gc_ms": _med(op_sum("gc_ms")),
            "spark.shuffle_read_bytes": _med(op_sum("shuffle_read")),
            "spark.shuffle_write_bytes": _med(op_sum("shuffle_write")),
            "spark.sched_gap_ms": _med(gaps),
            "spark.collect_ms": _med(collect),
            "residual_ms": _med(selfms[r["span"].id] for r in op_recs),
            "trace.ops_per_s_untraced": ops_per_s_untraced,
            "trace.ops_per_s_traced": ops_per_s_traced,
            "trace.overhead_ratio": ops_per_s_untraced / ops_per_s_traced,
            "trace.spans": float(len(spans)),
        }
        return {k: {"value": float(v), "unit": LAYER_METRICS[k][0]} for k, v in m.items()}
