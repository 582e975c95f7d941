"""Session-analytics facade: the reference's query surface as one object
(SURVEY.md §3 query lifecycle; operators from §2 composed, not re-implemented).

A user of the reference talks to REST endpoints over a file store; a user of
this engine gets the same queries over Spark tables:

    lake = SessionLake(spark, root)          # or .from_jsonl(...) to ingest
    lake.list_sessions(status="active", limit=20)
    lake.unread_counts()
    lake.message_tail("sess-1", n=50)
    lake.events_page("sess-1", prefix="tool:", offset=0, limit=500)
    lake.execution_trace("sess-1")           # nested turns (S1 fold)
    lake.trace_metrics("sess-1")             # A3 tool metrics
    lake.session_closure("sess-1")           # J3 descendants
    lake.clone_session("sess-1", seed="t")   # recursive clone, ids remapped
    lake.cascade_delete("sess-1")            # J4, via the table store
    lake.cleanup(older_than_days=30)         # F2 retention sweep

Tables are `TableStore`s under ``root`` (sessions/, messages/, events/) with
the schemas in :mod:`lakehouse_spark.schemas`; `from_jsonl` ingests
reference-layout logs (state/sessions/{id}/*.jsonl) through the SC1 source.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_spark import schemas
from lakehouse_spark.mutation.store import TableStore
from lakehouse_spark.operators import aggregates, filters, sorts
from lakehouse_spark.operators.sessionize import (
    aggregate_trace,
    trace_metrics,
)
from lakehouse_spark.plans import closure
from lakehouse_spark.session import local_frame


class SessionLake:
    """The engine's session store + query surface."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.sessions = TableStore(spark, os.path.join(root, "sessions"), "session_id")
        self.messages = TableStore(spark, os.path.join(root, "messages"), "session_id")
        self.events = TableStore(spark, os.path.join(root, "events"), "session_id")
        self._automations = None

    @property
    def automations(self):
        """CR1-CR4 surface: lazily-built AutomationManager over this lake's
        automations/executions tables (create/update/toggle/delete, due-set
        scan, execution recording — routers/automations.py parity)."""
        if self._automations is None:
            from lakehouse_spark.mutation.automations import AutomationManager

            root = os.path.dirname(self.sessions.root)
            self._automations = AutomationManager(
                TableStore(self.spark, os.path.join(root, "automations"), "id"),
                TableStore(self.spark, os.path.join(root, "executions"), "id"),
            )
        return self._automations

    # -- SQL-by-name surface (round 8) ------------------------------------------

    def register_views(self, prefix: str = "") -> "LakeCatalog":
        """Expose this lake's tables as named SQL relations — the
        reference's whole query surface is name-addressed
        (routers/sessions.py:753-1406: "sessions", "events", never a
        path). After this, ``lake.sql("SELECT ... FROM events JOIN
        sessions USING (session_id)")`` works, with parquet row-group
        pushdown intact (see lakehouse_spark.catalog for why views are
        parquet-native). Views pin the registration-time snapshot;
        re-call (or catalog.refresh) after writes."""
        from lakehouse_spark.catalog import LakeCatalog

        cat = LakeCatalog(self.spark)
        for name, store in (
            ("sessions", self.sessions),
            ("messages", self.messages),
            ("events", self.events),
        ):
            if store.current_version() is not None:
                cat.register(prefix + name, store=store)
        self._catalog = cat
        return cat

    def sql(self, query: str, args: dict | list | None = None) -> DataFrame:
        """``spark.sql`` over the registered views (auto-registers on
        first use), with named-parameter binding."""
        if getattr(self, "_catalog", None) is None:
            self.register_views()
        return self._catalog.sql(query, args)

    # -- ingest ----------------------------------------------------------------

    @classmethod
    def from_jsonl(
        cls, spark: SparkSession, root: str, state_dir: str
    ) -> "SessionLake":
        """Ingest a reference-layout state directory: sessions as JSON
        documents, transcripts and event logs as JSONL (SC1/SC2 sources,
        malformed lines skipped)."""
        from lakehouse_spark.sources import jsonl

        lake = cls(spark, root)
        lake.sessions.init(
            jsonl.read_json_documents(
                spark, os.path.join(state_dir, "sessions"), schemas.SESSION,
                recursive=True,
            ).drop("_source_file")
        )
        lake.messages.init(
            jsonl.read_jsonl(
                spark,
                os.path.join(state_dir, "transcripts"),
                schemas.MESSAGE,
                recursive=True,
            )
        )
        lake.events.init(
            jsonl.read_jsonl(
                spark, os.path.join(state_dir, "events"), schemas.TRACE_EVENT,
                recursive=True,
            )
        )
        return lake

    # -- §3.2 list query -------------------------------------------------------

    def list_sessions(
        self,
        status: str | None = None,
        profile_name: str | None = None,
        amplified_dir: str | None = None,
        parent_session_id: str | None = None,
        since: datetime | None = None,
        unread_only: bool = False,
        limit: int | None = None,
    ) -> DataFrame:
        """F1/F2/F3 filters → O1 sort-desc-limit, exactly the reference's
        GET /sessions pipeline (manager.py:358-414 shape). The index.json
        covering index disappears into parquet column pruning."""
        df = self.sessions.read()
        crit = {
            "status": status,
            "profile_name": profile_name,
            "amplified_dir": amplified_dir,
            "parent_session_id": parent_session_id,
        }
        df = filters.and_equals(df, **{k: v for k, v in crit.items() if v is not None})
        if since is not None:
            df = filters.since(df, "created_at", F.lit(since))
        if unread_only:
            df = filters.flag(df, "is_unread")
        df = df.orderBy(F.desc("created_at"), F.asc("session_id"))
        return df.limit(limit) if limit else df

    def unread_counts(self) -> DataFrame:
        """A1: unread sessions per project (routers/sessions.py:756-789)."""
        return aggregates.counts_per_key(
            self.sessions.read(), "amplified_dir", flag_col="is_unread"
        )

    def session_counters(self) -> DataFrame:
        """A2: message_count / token_usage as an aggregate VIEW over the
        transcript — the reference's stored counters, derived instead
        (manager.py:286-291)."""
        return aggregates.running_counters(
            self.messages.read(), "session_id", "token_count"
        )

    # -- transcripts / events --------------------------------------------------

    def message_tail(self, session_id: str, n: int = 50) -> DataFrame:
        """O4: last n messages in log order (manager.py:343-345). One
        session's tail is a top-n (one ``TakeOrderedAndProject``, one
        Spark job); :func:`sorts.tail_n` serves per-group tails."""
        msgs = self.messages.read().filter(F.col("session_id") == session_id)
        return sorts.top_n(msgs, [F.desc("encounter_seq")], n).orderBy(
            "encounter_seq"
        )

    def events_page(
        self,
        session_id: str,
        lvl: str | None = None,
        prefix: str | None = None,
        after: tuple | None = None,
        limit: int = 500,  # ← routers/sessions.py:1333 default slab
        include_children: bool = False,
        offset: int | None = None,
    ) -> DataFrame:
        """F4 + O2/O3 (+ J7 when children merge in): filtered, paged event
        slab over the (ts, encounter_seq) total order
        (routers/sessions.py:1306-1400).

        Pagination is KEYSET by default: pass ``after=(ts, encounter_seq)``
        of the previous page's last row to get the next O(page) slab at any
        depth. ``offset`` remains for explicit random access, with its
        O(offset) re-sort cost — don't iterate a 100 TB log with it."""
        ev = self.events.read()
        if include_children:
            ids = self.session_closure(session_id).select(
                F.col("child").alias("session_id")
            )
            ev = ev.join(F.broadcast(ids), "session_id")
        else:
            ev = ev.filter(F.col("session_id") == session_id)
        ev = filters.level_and_prefix(ev, "lvl", lvl, "event", prefix)
        if offset is not None:
            return sorts.page(
                ev, [F.asc("ts"), F.asc("encounter_seq")], offset, limit
            )
        return sorts.keyset_page(ev, ["ts", "encounter_seq"], after, limit)

    # -- §3.3 trace ------------------------------------------------------------

    def execution_trace(self, session_id: str | None = None) -> DataFrame:
        """S1: events → nested turns, derived on demand like the reference
        (trace_aggregator.py:5-8 documents the deliberate non-materialization)."""
        ev = self.events.read()
        if session_id is not None:
            ev = ev.filter(F.col("session_id") == session_id)
        return aggregate_trace(ev)

    def trace_metrics(self, session_id: str | None = None) -> DataFrame:
        """A3: per-session tool metrics over the derived turns — one
        aggregate over one evaluation of the trace fold."""
        return trace_metrics(self.execution_trace(session_id))

    # -- hierarchy -------------------------------------------------------------

    def session_closure(self, session_id: str) -> DataFrame:
        """J3: the session and all its descendants (clone/delete base).
        The seed is a LocalRelation, so a lake whose session tree fits the
        driver walk (:func:`closure.descendants`) answers with one Spark
        job: the bounded collect of the edges."""
        edges = (
            self.sessions.read()
            .select(
                F.col("parent_session_id").alias("parent"),
                F.col("session_id").alias("child"),
            )
            .filter(F.col("parent").isNotNull())
        )
        seeds = local_frame(self.spark, [(session_id,)], "child string")
        return closure.descendants(edges, seeds, "parent", "child")

    def clone_session(self, session_id: str, seed: str | None = None) -> str:
        """Clone a session AND its descendants with fresh ids — the
        reference's recursive clone endpoint (amplifierd/routers/
        sessions.py:461-516), composed from the J3 closure + T12 id
        generation instead of per-node recursion:

        - every subtree node gets a fresh ``session_<hex8>`` id
          (deterministic when ``seed`` is given — replayable tests);
        - parent pointers are REMAPPED onto the cloned ids; the cloned
          root's parent is NULL (the reference clones to top level);
        - the root clone's name gets the " (copy)" suffix, descendants keep
          theirs (add_copy_suffix=False in the reference);
        - transcript messages and events are copied verbatim under the new
          ids (the reference copies the JSONL files; payload contents are
          NOT rewritten there either).

        Scale shape: one closure (a driver walk, or bounded-depth frontier
        joins on a large tree), then three broadcast-mapping joins — the
        subtree mapping is tiny next to the messages/events tables, which
        are never shuffled. Returns the new root session id."""
        sess = self.sessions.read()
        if sess.filter(F.col("session_id") == session_id).isEmpty():
            # the reference's clone endpoint 404s on unknown sessions; a
            # silent empty clone would still hand back a plausible new id
            raise KeyError(f"session {session_id!r} not found")
        mapping = closure.clone_id_mapping(
            self.session_closure(session_id).select(
                F.col("child").alias("session_id")
            ),
            "session_id",
            seed=seed,
        )
        cols = sess.columns
        parent_map = mapping.select(
            F.col("session_id").alias("parent_session_id"),
            F.col("new_id").alias("__new_parent"),
        )
        cloned = (
            sess.join(F.broadcast(mapping), "session_id")
            .join(F.broadcast(parent_map), "parent_session_id", "left")
            .withColumn(
                "name",
                F.when(
                    F.col("session_id") == session_id,
                    F.concat(
                        F.coalesce(F.col("name"), F.lit("Session")),
                        F.lit(" (copy)"),
                    ),
                ).otherwise(F.col("name")),
            )
            .withColumn("session_id", F.col("new_id"))
            .withColumn("parent_session_id", F.col("__new_parent"))
            .select(*cols)
        )
        self.sessions.append(cloned)
        for store in (self.messages, self.events):
            if not store.exists():
                continue
            base = store.read()
            copied = (
                base.join(F.broadcast(mapping), "session_id")
                .withColumn("session_id", F.col("new_id"))
                .select(*base.columns)
            )
            if not copied.isEmpty():
                store.append(copied)
        return mapping.filter(F.col("session_id") == session_id).collect()[0][
            "new_id"
        ]

    def cascade_delete(self, session_id: str) -> int:
        """J4: delete the session tree from all three tables; returns the
        number of session rows removed (manager.py:422-452 semantics)."""
        doomed = self.session_closure(session_id).select(
            F.col("child").alias("session_id")
        )
        removed = self.sessions.delete_keys(doomed)
        self.messages.delete_keys(doomed)
        self.events.delete_keys(doomed)
        return removed

    # -- consistent reads ------------------------------------------------------

    def snapshot(self) -> dict[str, int | None]:
        """Pin the CURRENT version of every table — a consistent multi-table
        read point. The stores version independently (each mutation is its
        own atomic commit), so two ``read()`` calls around a concurrent
        write can observe a torn view (e.g. a message whose session row
        isn't there yet); queries that must agree across tables take a
        snapshot once and pass it to :meth:`read_at`. Old versions stay
        readable until :class:`TableStore` ``vacuum`` — hold snapshots
        shorter than the vacuum horizon."""
        return {
            name: store.current_version()
            for name, store in (
                ("sessions", self.sessions),
                ("messages", self.messages),
                ("events", self.events),
            )
        }

    def read_at(self, snap: dict[str, int | None], table: str) -> DataFrame:
        """Read one table at a :meth:`snapshot`'s pinned version."""
        store = {
            "sessions": self.sessions,
            "messages": self.messages,
            "events": self.events,
        }[table]
        return store.read(version=snap[table])

    # -- maintenance -----------------------------------------------------------

    def cleanup(self, older_than_days: int = 30, now: datetime | None = None) -> int:
        """F2+A7 retention: drop sessions whose coalesce(ended_at,
        created_at) is older than the cutoff (manager.py:456-498)."""
        now = now or datetime.now(timezone.utc)
        cutoff = (now - timedelta(days=older_than_days)).replace(tzinfo=None)
        return self.sessions.retention_sweep("ended_at", "created_at", cutoff)
