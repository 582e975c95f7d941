"""Traced-run instrumentation, attached from outside the library.

The traced run wraps the public entry points of each layer (``api``,
``mutation``, ``sqldml``/``catalog``, ``plans.closure``,
``operators.sessionize``) in spans, counts py4j round-trips by wrapping the
gateway client, and charges Spark's status-store job/stage metrics to the
op that ran them (every timed op runs in its own job group). Spans stay in
memory and are written out once, at the end of the run.

Nothing here is imported by an untraced run, so end-to-end numbers never
pay for it.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("id", "name", "parent", "req", "t0", "t1", "rts", "attrs")

    def __init__(self, sid, name, parent, req):
        self.id, self.name, self.parent, self.req = sid, name, parent, req
        self.t0 = time.time()
        self.t1 = None
        self.rts = 0
        self.attrs: dict = {}

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0

    def as_dict(self) -> dict:
        return {"id": self.id, "name": self.name, "parent": self.parent,
                "req": self.req, "start": self.t0, "end": self.t1,
                "py4j_rts": self.rts, **self.attrs}


class Tracer:
    """Span recorder + py4j round-trip counter for one SparkSession."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.req = None
        self.rts = 0
        self._paused = 0
        self._off = 0
        self.pending_reads: list[tuple] = []
        self._patched: list[tuple[object, str, object]] = []
        client = self.sc._gateway._gateway_client
        inner = client.send_command

        def counting_send(*a, **kw):
            if not self._paused:
                self.rts += 1
            return inner(*a, **kw)

        client.send_command = counting_send
        self._client = client

    # -- spans -----------------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, parent, self.req)
        s.attrs.update(attrs)
        self.spans.append(s)
        self._stack.append(s)
        rts0 = self.rts
        try:
            yield s
        finally:
            s.t1 = time.time()
            s.rts = self.rts - rts0
            self._stack.pop()

    @contextmanager
    def paused(self):
        """Round-trips the tracer itself makes are not the program's."""
        self._paused += 1
        try:
            yield
        finally:
            self._paused -= 1

    @contextmanager
    def off(self):
        """Calls made by the tracer's own bookkeeping record no spans."""
        self._off += 1
        try:
            yield
        finally:
            self._off -= 1

    def wrap(self, owner, attr: str, name: str, **attrs) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*a, **kw):
            if self._off:
                return orig(*a, **kw)
            with self.span(name, **attrs) as s:
                out = orig(*a, **kw)
                if isinstance(out, bool):
                    s.attrs["result"] = out
            if name == "reads.read":
                # file counts are taken after the op, outside its timing
                self.pending_reads.append((s, out, a[0]))
            return out

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def instrument(self) -> None:
        """Wrap every layer's public entry points (class attributes, so
        calls the library makes on itself are seen too)."""
        from lakehouse_spark import api, catalog, sqldml
        from lakehouse_spark.mutation.store import TableStore
        from lakehouse_spark.plans import closure

        for m in ("list_sessions", "events_page", "message_tail",
                  "unread_counts", "trace_metrics", "session_closure", "sql"):
            self.wrap(api.SessionLake, m, f"api.{m}")
        self.wrap(TableStore, "read", "reads.read")
        for m in ("init", "append", "upsert", "update", "delete_keys",
                  "delete_where", "merge"):
            self.wrap(TableStore, m, f"dml.{m}")
        self.wrap(TableStore, "maybe_compact", "layout.maybe_compact")
        self.wrap(TableStore, "compact", "layout.compact")
        self.wrap(TableStore, "compact_small", "layout.compact")
        self.wrap(TableStore, "vacuum", "manifest.vacuum")
        self.wrap(catalog.LakeCatalog, "sql", "catalog.sql")
        self.wrap(sqldml, "route", "sqldml.route")
        self.wrap(closure, "descendants", "closure.descendants")
        self.wrap(api, "aggregate_trace", "sessionize.aggregate_trace")

    def restore(self) -> None:
        """Undo every :meth:`wrap`."""
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def close(self) -> None:
        """Undo the wraps and stop counting round-trips."""
        self.restore()
        del self._client.send_command  # the instance attribute shadowing the method

    # -- Spark status store ----------------------------------------------------

    def jobs_for_group(self, group: str) -> list[dict]:
        """Job and stage metrics of every job run in ``group``: wall
        interval (epoch ms) plus summed stage metrics."""
        with self.paused():
            store = self.sc._jsc.sc().statusStore()
            gw = self.sc._gateway
            no_status = gw.jvm.java.util.ArrayList()
            no_q = gw.new_array(gw.jvm.double, 0)
            out = []
            for jid in self.sc.statusTracker().getJobIdsForGroup(group):
                j = store.job(jid)
                sub, done = j.submissionTime(), j.completionTime()
                rec = {
                    "job": jid,
                    "t0": sub.get().getTime() if sub.isDefined() else None,
                    "t1": done.get().getTime() if done.isDefined() else None,
                    "stages": 0, "tasks": 0, "run_ms": 0, "cpu_ms": 0.0,
                    "gc_ms": 0, "shuffle_read": 0, "shuffle_write": 0,
                }
                sids = j.stageIds()
                for k in range(sids.size()):
                    seq = store.stageData(sids.apply(k), False, no_status, False, no_q)
                    if seq.isEmpty():
                        continue  # skipped stage (shuffle reuse)
                    st = seq.head()
                    if st.numCompleteTasks() == 0:
                        continue
                    rec["stages"] += 1
                    rec["tasks"] += st.numCompleteTasks()
                    rec["run_ms"] += st.executorRunTime()
                    rec["cpu_ms"] += st.executorCpuTime() / 1e6
                    rec["gc_ms"] += st.jvmGcTime()
                    rec["shuffle_read"] += st.shuffleReadBytes()
                    rec["shuffle_write"] += st.shuffleWriteBytes()
                out.append(rec)
            return out

    def phases_ms(self, df) -> dict[str, float]:
        """Catalyst phase times of ``df``'s query execution."""
        with self.paused():
            ph = df._jdf.queryExecution().tracker().phases()
            out = {}
            for name in ("analysis", "optimization", "planning"):
                opt = ph.get(name)
                out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
            return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.as_dict(), default=str) + "\n")

    # -- derived ---------------------------------------------------------------

    def self_ms(self) -> dict[int, float]:
        """Each span's duration minus its direct children's."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None and s.t1 is not None:
                child[s.parent] = child.get(s.parent, 0.0) + s.ms
        return {s.id: s.ms - child.get(s.id, 0.0) for s in self.spans if s.t1}


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of [t0, t1] intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
