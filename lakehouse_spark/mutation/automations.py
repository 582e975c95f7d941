"""Automation scheduling over the keyed table store (SURVEY.md §2.11
CR1-CR4).

The reference registers cron/interval/once triggers, records executions to
an append-only log, and maintains last/next execution timestamps on the
automation document (automation_scheduler.py:93-153,336-521,
automations/manager.py:258-306 — read, not copied).

Engine shape: `automations` and `executions` are TableStore tables; the
scheduler *evaluation* is a Spark job (vectorized next-fire UDF over the
whole table — CR2), firing due rows is a driver loop handed to an external
orchestrator, and each run appends one execution record and MERGEs the
automation row (CR3). All clock inputs are injected for determinism.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakehouse_spark.functions.cron import next_execution_udf
from lakehouse_spark.mutation.store import TableStore
from lakehouse_spark.session import local_frame


def with_next_execution(automations: DataFrame, now: datetime) -> DataFrame:
    """CR2: recompute next_execution for every enabled automation in one
    vectorized pass (Arrow-batched pandas UDF over croniter-free cron math).
    Disabled rows keep next_execution NULL — the reference unschedules
    them."""
    udf = next_execution_udf(now)
    return automations.withColumn(
        "next_execution",
        F.when(
            F.col("enabled"), udf(F.col("schedule_type"), F.col("schedule_value"))
        ).otherwise(F.lit(None).cast("timestamp")),
    )


def due_automations(automations: DataFrame, now: datetime) -> DataFrame:
    """CR1 trigger scan: enabled rows whose next_execution has arrived.
    Pure filter — pushed to the scan, so a 10M-automation table stays
    cheap."""
    ts = now.astimezone(timezone.utc).replace(tzinfo=None)
    return automations.filter(
        F.col("enabled")
        & F.col("next_execution").isNotNull()
        & (F.col("next_execution") <= F.lit(ts))
    )


def record_execution(
    automations_store: TableStore,
    executions_store: TableStore,
    execution_row: DataFrame,
    now: datetime,
) -> None:
    """CR3: append the execution record, then MERGE last_execution +
    recomputed next_execution onto the fired automation rows — the
    reference's two-file write, as two table commits."""
    executions_store.append(execution_row)
    fired_ids = execution_row.select(
        F.col("automation_id").alias("id")
    ).distinct()
    ts = now.astimezone(timezone.utc).replace(tzinfo=None)
    base = automations_store.read()
    updated = (
        base.join(fired_ids, "id", "left_semi")
        .withColumn("last_execution", F.lit(ts))
    )
    automations_store.upsert(with_next_execution(updated, now))


class AutomationManager:
    """CR4 ← automations/manager.py:84-87,106-110,198-217 + CR1 ←
    automation_scheduler.py:93-153: the full create/update/toggle/delete
    surface over the TableStore, with the scheduler's registration lifecycle
    modeled as the ``next_execution`` column (NULL = unscheduled).

    Lifecycle semantics reproduced from the reference:

    - create enforces per-project unique names (the A6 duplicate detector as
      a pre-insert check) and leaves next_execution NULL — scheduling fills
      it;
    - schedule() is replace-on-update: recomputes next_execution for an
      enabled row, and NULLs it for a disabled one (the reference's
      unschedule-on-disable path);
    - update() re-checks name uniqueness (excluding self), stamps
      updated_at, and re-schedules so schedule/enabled edits take effect —
      APScheduler's ``replace_existing=True``;
    - delete removes the automation and its execution history.

    Uniqueness checks read the automations table on the driver — this is
    control-plane metadata (thousands of rows), not the data plane.
    """

    def __init__(self, automations_store: TableStore, executions_store: TableStore):
        self.automations = automations_store
        self.executions = executions_store
        self.spark = automations_store.spark

    # -- reads ----------------------------------------------------------------

    def list(self, project_id: str | None = None, enabled: bool | None = None) -> DataFrame:
        df = self.automations.read()
        if project_id is not None:
            df = df.filter(F.col("project_id") == project_id)
        if enabled is not None:
            df = df.filter(F.col("enabled") == enabled)
        return df

    def get(self, automation_id: str):
        rows = self.automations.read().filter(F.col("id") == automation_id).collect()
        return rows[0] if rows else None

    def _name_taken(self, project_id: str, name: str, exclude_id: str | None) -> bool:
        df = self.automations.read().filter(
            (F.col("project_id") == project_id) & (F.col("name") == name)
        )
        if exclude_id is not None:
            df = df.filter(F.col("id") != exclude_id)
        return not df.isEmpty()

    # -- writes ---------------------------------------------------------------

    def create(
        self,
        automation_id: str,
        project_id: str,
        name: str,
        message: str,
        schedule_type: str,
        schedule_value: str,
        now: datetime,
        enabled: bool = True,
    ):
        """Create an automation row. Raises ValueError on a duplicate name
        within the project (ref manager.py:84-87). ``automation_id`` and
        ``now`` are injected for determinism (the reference's uuid4() /
        datetime.now(UTC))."""
        from lakehouse_spark.schemas import AUTOMATION

        if self.automations.exists() and self._name_taken(project_id, name, None):
            raise ValueError(
                f"Automation with name {name!r} already exists for project {project_id}"
            )
        ts = now.astimezone(timezone.utc).replace(tzinfo=None)
        if self.automations.exists():
            seq = (
                self.automations.read()
                .agg(F.coalesce(F.max("encounter_seq"), F.lit(0)).alias("m"))
                .collect()[0]["m"]
            ) + 1
        else:
            seq = 1
        row = local_frame(
            self.spark,
            [
                (
                    automation_id, project_id, name, message,
                    schedule_type, schedule_value, enabled,
                    ts, ts, None, None, seq,
                )
            ],
            AUTOMATION,
        )
        self.automations.upsert(row)
        self.schedule(automation_id, now)
        return self.get(automation_id)

    def update(self, automation_id: str, now: datetime, **updates):
        """Update fields (name, message, schedule_type, schedule_value,
        enabled). Name conflicts re-checked excluding self (ref
        manager.py:198-217); updated_at stamped; row re-scheduled."""
        cur = self.get(automation_id)
        if cur is None:
            raise ValueError(f"Automation not found: {automation_id}")
        if "name" in updates and updates["name"] != cur["name"]:
            if self._name_taken(cur["project_id"], updates["name"], automation_id):
                raise ValueError(
                    f"Automation with name {updates['name']!r} already exists "
                    f"for project {cur['project_id']}"
                )
        ts = now.astimezone(timezone.utc).replace(tzinfo=None)
        d = cur.asDict()
        d.update(updates)
        d["updated_at"] = ts
        from lakehouse_spark.schemas import AUTOMATION

        row = local_frame(
            self.spark, [tuple(d[f.name] for f in AUTOMATION.fields)], AUTOMATION
        )
        self.automations.upsert(row)
        self.schedule(automation_id, now)
        return self.get(automation_id)

    def toggle(self, automation_id: str, enabled: bool, now: datetime):
        return self.update(automation_id, now, enabled=enabled)

    def delete(self, automation_id: str) -> bool:
        """Delete the automation and its execution history (ref
        manager.py:219-257)."""
        if self.get(automation_id) is None:
            return False
        ids = local_frame(self.spark, [(automation_id,)], "id string")
        self.automations.delete_keys(ids)
        if self.executions.exists():
            ex = self.executions.read()
            keep = ex.filter(F.col("automation_id") != automation_id)
            self.executions._rewrite(keep)
        return True

    # -- scheduler lifecycle (CR1) --------------------------------------------

    def schedule(self, automation_id: str, now: datetime) -> None:
        """Replace-on-update registration: recompute next_execution for the
        row if enabled, NULL it if disabled (ref scheduler.py:105-110 — a
        disabled automation is removed from the scheduler)."""
        base = self.automations.read()
        target = base.filter(F.col("id") == automation_id)
        self.automations.upsert(with_next_execution(target, now))

    def reload_all(self, now: datetime) -> None:
        """Startup / bulk-update path (ref scheduler.py:155-170): recompute
        next_execution for every row in one vectorized pass."""
        self.automations.upsert(with_next_execution(self.automations.read(), now))

    def due(self, now: datetime) -> DataFrame:
        return due_automations(self.automations.read(), now)

    def record_execution(self, execution_row: DataFrame, now: datetime) -> None:
        record_execution(self.automations, self.executions, execution_row, now)

    def tick(self, now: datetime, run=None) -> int:
        """One scheduler pass — the reference daemon's fire loop (due scan →
        execute → record → reschedule) as a single call. ``run(automation
        Row) -> (session_id, status, error)`` performs the work (the
        reference spawns a session and sends the automation's message); the
        default records a success with no session. Fired automations get
        their execution rows appended and last/next_execution advanced in
        one :func:`record_execution` pass, so an automation can never
        re-fire for the same ``now``. Returns the number fired.

        The loop owner calls tick once per clock beat (the reference's
        asyncio scheduler task); ticks are serialized by the store's
        optimistic concurrency like every other mutation."""
        from lakehouse_spark.schemas import EXECUTION

        fired = sorted(self.due(now).collect(), key=lambda r: r.id)
        if not fired:
            return 0
        naive = now.astimezone(timezone.utc).replace(tzinfo=None)
        seq0 = self.executions.read().count() if self.executions.exists() else 0
        rows = []
        for i, a in enumerate(fired):
            sid, status, error = run(a) if run else (None, "success", None)
            rows.append(
                (
                    f"{a.id}@{naive.isoformat()}",
                    a.id,
                    sid,
                    naive,
                    status,
                    error,
                    seq0 + i + 1,
                )
            )
        self.record_execution(
            local_frame(self.automations.spark, rows, EXECUTION), now
        )
        return len(rows)


def execution_history(
    executions: DataFrame, automation_id: str, offset: int = 0, limit: int = 50
) -> DataFrame:
    """CR4/J6/O2: one automation's executions, newest first, paged on a
    total order (executed_at desc, id desc tie-break)."""
    from lakehouse_spark.operators import sorts

    hist = executions.filter(F.col("automation_id") == automation_id)
    return sorts.page(
        hist, [F.desc("executed_at"), F.desc("id")], offset, limit
    )
