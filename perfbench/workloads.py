"""The benchmark's workloads: seeded closed-loop op streams over the
library's public surfaces, each op paired with its correctness check.

An op is ``(cls, run, check)``: ``run()`` calls the library and returns
either a DataFrame (the harness collects it — that is the op's execute
phase) or a plain value; ``check(result)`` compares the result with the
model and returns True when it matches. Op classes follow a FIXED cycle so
every run of every seed gives each class the same share of the samples;
the seed picks the op arguments and the data.
"""

from __future__ import annotations

import collections
import itertools
import os
import random
import shutil
from datetime import timedelta

import gen
from model import SQL, STATUS, UNREAD, LakeModel


class Op:
    __slots__ = ("cls", "run", "check")

    def __init__(self, cls, run, check):
        self.cls, self.run, self.check = cls, run, check


def files_under(roots) -> dict[str, int]:
    """{path: bytes} of every file under ``roots``."""
    out = {}
    for root in roots:
        for d, _, names in os.walk(root):
            for n in names:
                p = os.path.join(d, n)
                try:
                    out[p] = os.path.getsize(p)
                except OSError:
                    pass  # removed by a concurrent vacuum or checkpoint
    return out


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is b
    return abs(a - b) <= 1e-3


class _LakeWorkload:
    """Shared set-up for the two session-lake workloads."""

    n_sessions = 240
    #: op classes no client waits on; left out of the latency summary
    MAINTENANCE: frozenset = frozenset()

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self.lake = None

    def setup(self, rep: int) -> None:
        from lakehouse_spark import schemas
        from lakehouse_spark.api import SessionLake

        if self.lake is not None:
            shutil.rmtree(os.path.dirname(self.lake.sessions.root), ignore_errors=True)
        rows = gen.session_lake(self.seed, self.n_sessions)
        lake = SessionLake(self.spark, os.path.join(self.work, f"lake{rep}"))
        lake.sessions.init(self.spark.createDataFrame(rows["sessions"], schemas.SESSION))
        lake.messages.init(self.spark.createDataFrame(rows["messages"], schemas.MESSAGE))
        lake.events.init(self.spark.createDataFrame(rows["events"], schemas.TRACE_EVENT))
        lake.register_views()
        self.lake, self.model = lake, LakeModel(rows)
        self.rng = random.Random(self.seed * 7919 + rep)
        self._n = collections.Counter()  # ops issued per class
        self._cursor = None
        self._sql_names = itertools.cycle(sorted(SQL))
        self._ops = self._stream()

    def age(self) -> None:
        """Bring the lake built last to the state the warm-up starts from."""

    def next_op(self) -> Op:
        return next(self._ops)

    def _stream(self):
        for i in itertools.count():
            yield getattr(self, "op_" + self.CYCLE[i % len(self.CYCLE)])()

    def stores(self):
        return (self.lake.sessions, self.lake.messages, self.lake.events)

    def store_roots(self) -> list[str]:
        return [s.root for s in self.stores()]

    def live_bytes_per_row(self) -> float:
        """Bytes under the three store roots (manifests, checkpoints, DVs
        and every retained segment) per live row of the model."""
        for s in self.stores():
            s.checkpoint_barrier()
        total = sum(files_under(self.store_roots()).values())
        return total / sum(self.model.live_rows().values())

    def _sid(self, with_events: bool = False) -> str:
        pool = sorted(self.model.events if with_events else self.model.sessions)
        return self.rng.choice(pool)

    def _shape(self, cls: str, shapes: list):
        """Op arguments that change the plan or the result size rotate in a
        fixed order, so every seed times the same mix of shapes; the seed
        only picks values (sessions, filter literals)."""
        n = self._n[cls]
        self._n[cls] += 1
        return shapes[n % len(shapes)]

    # -- read ops ---------------------------------------------------------------

    def op_list(self) -> Op:
        f = self._shape("list", [
            {"status": self.rng.choice(gen.STATUSES)},
            {"amplified_dir": self.rng.choice(gen.PROJECTS)},
            {"profile_name": self.rng.choice(gen.PROFILES), "unread_only": True},
            {},
        ])
        limit = self._shape("list_limit", [10, 20, 50])
        return Op(
            "list",
            lambda: self.lake.list_sessions(limit=limit, **f),
            lambda rows: [r.session_id for r in rows]
            == self.model.list_sessions(limit=limit, **f),
        )

    def op_page(self) -> Op:
        """A keyset walk of two pages: the first page, then the page after
        its last row (which may be short or empty)."""
        if self._cursor is None:
            lvl, prefix, limit = self._shape("page", [
                (None, None, 25), ("INFO", None, 10), (None, "tool:", 10),
                ("INFO", "tool:", 25)])
            self._cursor = {"sid": self._sid(with_events=True), "lvl": lvl,
                            "prefix": prefix, "limit": limit, "after": None}
        c = dict(self._cursor)

        def check(rows):
            got = [(r.ts, r.encounter_seq) for r in rows]
            ok = got == self.model.events_page(
                c["sid"], c["lvl"], c["prefix"], c["after"], c["limit"])
            if ok and c["after"] is None and got:
                self._cursor["after"] = got[-1]
            else:
                self._cursor = None
            return ok

        return Op(
            "page",
            lambda: self.lake.events_page(
                c["sid"], lvl=c["lvl"], prefix=c["prefix"], after=c["after"],
                limit=c["limit"]),
            check,
        )


class SessionApi(_LakeWorkload):
    """Read-only daemon mix over a lake at a fixed version."""

    name = "session_api"
    CYCLE = ["list", "page", "tail", "list", "page", "unread", "list", "page",
             "trace", "list", "page", "closure", "list", "page", "sql"]

    def op_tail(self) -> Op:
        sid, n = self._sid(), self._shape("tail", [5, 10, 20])
        return Op(
            "tail",
            lambda: self.lake.message_tail(sid, n=n),
            lambda rows: [r.encounter_seq for r in rows]
            == self.model.message_tail(sid, n),
        )

    def op_unread(self) -> Op:
        return Op(
            "unread",
            self.lake.unread_counts,
            lambda rows: {r.amplified_dir: r.n for r in rows}
            == self.model.unread_counts(),
        )

    def op_trace(self) -> Op:
        sid = self._sid(with_events=True)

        def check(rows):
            want = self.model.trace_metrics(sid)
            if len(rows) != 1:
                return False
            r = rows[0]
            return (r.total_tools == want[0] and _close(r.avg_tool_duration, want[1])
                    and _close(r.max_tool_duration, want[2])
                    and r.longest_tool == want[3]
                    and (r.total_thinking or 0) == want[4])

        return Op("trace", lambda: self.lake.trace_metrics(sid), check)

    def op_closure(self) -> Op:
        # the closure runs one frontier join per tree level, so the subtree
        # height is the op's shape
        want = self._shape("closure", [1, 2, 3])
        height = self.model.heights()
        h = max(x for x in height.values() if x <= want)
        sid = self.rng.choice(sorted(s for s, x in height.items() if x == h))
        return Op(
            "closure",
            lambda: self.lake.session_closure(sid),
            lambda rows: {r.child for r in rows} == self.model.closure(sid),
        )

    def op_sql(self) -> Op:
        name = next(self._sql_names)
        return Op(
            "sql",
            lambda: self.lake.sql(SQL[name]),
            lambda rows: {tuple(r) for r in rows} == self.model.sql(name),
        )

    def finish(self) -> tuple[int, int]:
        return 0, 0


class StoreChurn(_LakeWorkload):
    """Write-heavy mix (2/3 writes) with reads at the moving head. Every
    write is followed by the store's documented ``maybe_compact()``; each
    store is vacuumed on a fixed cadence.

    The lake is aged in set-up so that the maintenance a long-lived lake
    sees lands in the first timed cycle, at the same op in every run: the
    first timed append to ``events`` and to ``messages`` each cross
    ``maybe_compact``'s 16-segment threshold, and ``events`` writes a
    checkpoint at that cycle's delete. ``sessions`` and ``messages``
    checkpoint in the second cycle."""

    name = "store_churn"
    n_sessions = 160
    #: segments the append-fed stores are aged to; the warm-up cycle adds
    #: two to each, so the first timed append makes 17 > 16
    AGED_SEGMENTS = 14
    #: commits between checkpoints (TableStore's default is 32, Delta's
    #: checkpointInterval 10): at 32 none would land in a run
    CHECKPOINT_INTERVAL = 8
    MAINTENANCE = frozenset({"vacuum"})
    CYCLE = ["append_events", "list", "append_messages", "upsert", "page",
             "sql_update", "append_events", "delete", "list", "upsert",
             "append_messages", "page", "vacuum"]

    def setup(self, rep: int) -> None:
        super().setup(rep)
        for s in self.stores():
            s.checkpoint_interval = self.CHECKPOINT_INTERVAL
        self._vacuum_next = itertools.cycle(["sessions", "messages", "events"])
        self._clock = gen.T0 + timedelta(days=400)

    def age(self) -> None:
        """Split the events and messages logs into key-range segments, as
        a lake that has taken many appends and a clustering pass holds."""
        for s in (self.lake.events, self.lake.messages):
            s.compact(range_by="session_id", n_segments=self.AGED_SEGMENTS)

    def _write(self, cls, store, do, check) -> Op:
        def run():
            out = do()
            store.maybe_compact()
            return out

        return Op(cls, run, check)

    def _append(self, table: str, make) -> Op:
        from lakehouse_spark import schemas

        sid = self._sid()
        base = self.model.next_seq(table, sid)
        self._clock += timedelta(minutes=3)
        rows = [r[:-1] + (base + r[-1] - 1,) for r in make(sid)]
        schema = schemas.TRACE_EVENT if table == "events" else schemas.MESSAGE
        store = getattr(self.lake, table)

        def check(_):
            self.model.append(table, rows)
            return True

        return self._write(
            "append_" + table, store,
            lambda: store.append(self.spark.createDataFrame(rows, schema)), check)

    def op_append_events(self) -> Op:
        return self._append("events", lambda sid: gen.session_events(
            self.rng, sid, self._clock, 1))

    def op_append_messages(self) -> Op:
        return self._append("messages", lambda sid: gen.session_messages(
            self.rng, sid, self._clock, self.rng.randrange(2, 6)))

    def op_upsert(self) -> Op:
        from lakehouse_spark import schemas

        old = self.model.sessions[self._sid()]
        row = list(old)
        row[STATUS], row[UNREAD] = self.rng.choice(gen.STATUSES), True
        row = tuple(row)

        def check(_):
            self.model.upsert_session(row)
            return True

        return self._write(
            "upsert", self.lake.sessions,
            lambda: self.lake.sessions.upsert(
                self.spark.createDataFrame([row], schemas.SESSION)),
            check)

    def op_sql_update(self) -> Op:
        sid = self._sid()

        def check(rows):
            self.model.mark_read(sid)
            return len(rows) == 1 and rows[0].affected_rows in (1, -1)

        return self._write(
            "sql_update", self.lake.sessions,
            lambda: self.lake.sql(
                f"UPDATE sessions SET is_unread = false WHERE session_id = '{sid}'"
            ).collect(),
            check)

    def op_delete(self) -> Op:
        sid = self._sid(with_events=True)
        n = len(self.model.events[sid])

        def check(removed):
            self.model.delete_events(sid)
            return removed in (n, -1)

        return self._write(
            "delete", self.lake.events,
            lambda: self.lake.events.delete_keys(
                self.spark.createDataFrame([(sid,)], "session_id string"), mode="dv"),
            check)

    def op_vacuum(self) -> Op:
        store = getattr(self.lake, next(self._vacuum_next))
        return Op("vacuum", lambda: store.vacuum(keep_last=2),
                  lambda out: isinstance(out, dict))

    def finish(self) -> tuple[int, int]:
        """End-of-run check against the model of the applied op sequence:
        live row counts of the three tables and a seeded key sample.
        Returns (checks attempted, checks failed)."""
        from pyspark.sql import functions as F

        for s in self.stores():
            s.checkpoint_barrier()
        want = self.model.live_rows()
        checks = failed = 0
        for name, store in zip(("sessions", "messages", "events"), self.stores()):
            checks += 1
            failed += store.read().count() != want[name]
        sample = random.Random(self.seed).sample(
            sorted(self.model.sessions), min(10, len(self.model.sessions)))
        got = {
            r.session_id: (r.status, r.is_unread)
            for r in self.lake.sessions.read()
            .filter(F.col("session_id").isin(sample)).collect()
        }
        ev = {
            r.session_id: r.n
            for r in self.lake.events.read()
            .filter(F.col("session_id").isin(sample))
            .groupBy("session_id").agg(F.count("*").alias("n")).collect()
        }
        for sid in sample:
            checks += 1
            m = self.model.sessions[sid]
            failed += got.get(sid) != (m[STATUS], m[UNREAD]) or ev.get(
                sid, 0) != len(self.model.events.get(sid, []))
        return checks, failed


class BatchSynth:
    """One pass of the headline ``CATALOG`` queries, in a seeded order,
    over a corpus made by ``plans.scale_synth`` (k=2) from a seeded sf0.001
    base. Results are hashed as they arrive and compared with their DuckDB
    oracles afterwards.

    Not a workload of its own (a batch run does not fit the benchmark's
    time budget): the traced ``session_api`` run makes this pass to measure
    the ``plans.scale_synth`` and ``queries`` layers."""

    base_sf = 0.001
    k = 2

    def __init__(self, spark, seed: int, work: str):
        from lakehouse_spark.queries import headline_queries

        self.spark, self.seed, self.work = spark, seed, work
        self.suite = headline_queries()
        self.hashes: dict[str, str] = {}

    def build(self) -> None:
        from lakehouse_spark.plans.scale_synth import synthesize_scaled

        base = os.path.join(self.work, "base")
        gen.star_corpus(self.seed, base, self.base_sf)
        # a fresh destination: synthesis always runs, never short-circuits
        # on a cached marker
        self.dir = synthesize_scaled(
            self.spark, base, k=self.k, dst_dir=os.path.join(self.work, "synth"))

    def ops(self) -> list[Op]:
        order = sorted(self.suite)
        random.Random(self.seed).shuffle(order)
        return [self._op(name) for name in order]

    def _op(self, name: str) -> Op:
        from lakehouse_spark import oracle
        from lakehouse_spark.operators.dedup import release_caches

        spec = self.suite[name]
        cols: list[str] = []

        def run():
            df = spec.build(self.spark, self.dir)
            cols[:] = df.columns
            return df

        def check(rows):
            release_caches()  # dedup intermediates don't outlive their query
            self.hashes[name] = oracle.canonical_hash(cols, [tuple(r) for r in rows])
            # with an oracle the hash is compared in finish(); a query
            # without one must at least return rows
            return spec.oracle is not None or len(rows) > 0

        return Op(name, run, check)

    def finish(self) -> tuple[int, int]:
        """Compare each query's result hash with its DuckDB oracle on the
        synthesized corpus (queries without an oracle were checked for a
        non-empty result). Returns (checks, failed)."""
        import duckdb

        from lakehouse_spark import oracle

        con = duckdb.connect()
        for t in oracle.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.dir}/{t}.parquet/*.parquet')")
        checks = failed = 0
        for name, spec in self.suite.items():
            if spec.oracle is None:
                continue
            checks += 1
            rel = con.sql(spec.oracle)
            want = oracle.canonical_hash(
                list(rel.columns), [tuple(r) for r in rel.fetchall()])
            failed += self.hashes.get(name) != want
        con.close()
        return checks, failed


WORKLOADS = {w.name: w for w in (SessionApi, StoreChurn)}
