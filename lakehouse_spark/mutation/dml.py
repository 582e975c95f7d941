"""DML plane of :class:`~lakehouse_spark.mutation.store.TableStore`:
append/init, overwrite/restore, and the targeted statements. Split out of
store.py. Every targeted statement is **target → compute → commit**:
one targeting step (:meth:`DmlMixin._key_targets` by the source's keys,
or :meth:`DmlMixin._pred_targets` by a predicate, through the file
selection ``read()`` uses) picks the touched segments and reads them
aligned; the statement computes its rows from that base; and one of two
commit shapes lands them — copy-on-write (:meth:`DmlMixin._commit_cow`:
rewrite the touched segments) or merge-on-read
(:meth:`DmlMixin._commit_mor`: mask old images with a deletion vector,
add new rows as new segments).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lakehouse_spark.mutation.manifest import SchemaMismatchError, _predicate_expr
from lakehouse_spark.mutation.reads import _logical_recorded_schema

# Merge-on-read masks every row of a key, so it refuses partial-key matches.
_PARTIAL_KEY = (
    "mode='dv' masks by key, but the condition matches only SOME rows of "
    "at least one key — a dv would also delete the rows the WHERE spared; "
    "use mode='rewrite' for row-exact statements on duplicate-key tables"
)


def _check_mode(mode: str) -> None:
    if mode not in ("rewrite", "dv"):
        raise ValueError(f"mode must be 'rewrite' or 'dv', got {mode!r}")


def _matches(predicate: dict | None, where: str | None):
    """The row condition of a predicated statement: ``predicate`` (the
    :meth:`read` dict form, logical names) AND ``where`` (SQL), with NULL
    counting as not matched. Neither given matches every row."""
    cond = _predicate_expr(predicate) if predicate else None
    if where is not None:
        w = F.expr(where)
        cond = w if cond is None else (cond & w)
    return F.lit(True) if cond is None else F.coalesce(cond, F.lit(False))


def _align_to_fields(df: DataFrame, fields) -> DataFrame:
    """Conform ``df`` to exactly ``fields`` (a StructType's fields, full
    logical schema): missing columns appear as typed nulls — the union-read
    semantics of schema evolution — and the output carries the schema's
    column order. The single alignment choke point for targeted DML
    (aligned base reads and UPDATE's pruned matched set)."""
    missing = [f for f in fields if f.name not in df.columns]
    if missing:
        df = df.select(
            "*",
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in missing],
        )
    return df.select(*[f.name for f in fields])


class _Targets(NamedTuple):
    """A targeted statement's reads at ``version``: the ``touched``
    segments (the rest ride by reference), the physical-name rebase proof
    (None: any interleaved commit conflicts), and ``base``, their rows
    aligned to the full logical schema. Keyed targeting adds the sorted
    non-null source ``keys`` and the key set ``rel`` to join against
    (broadcast LocalRelation; above the cap, keys None and ``rel`` the
    distributed key frame), the source ``rows`` / ``null_rows``, and
    ``dup``, the least non-null key the source holds more than once."""

    version: int
    manifest: dict
    touched: list[str]
    rebase_pred: dict | None
    base: DataFrame
    keys: list | None = None
    rel: DataFrame | None = None
    rows: int | None = None
    null_rows: int | None = None
    dup: object = None


class DmlMixin:
    """All mutating row operations and their file-skipping helpers."""

    # -- targeting: which segments a statement reads and replaces ------------

    # Above this many distinct source keys, skip targeting: collecting the
    # key set to the driver would cost more than it saves, and a source that
    # large usually touches most files anyway. Delta's file-skipping DML has
    # the same shape (join the source against add-file stats; degrade to a
    # full rewrite when everything matches). The same bound caps the
    # broadcast key relation the targeted joins use.
    max_targeted_keys = 200_000

    def _dml_head(self) -> int:
        """The head version a statement targets (raises on a table with
        no committed version)."""
        v = self.current_version()
        if v is None:
            raise FileNotFoundError(f"table {self.root} has no committed version")
        return v

    def _key_targets(
        self, source: DataFrame, v0: int, relation: bool = True
    ) -> _Targets:
        """Keyed targeting: the source's keys, collected once as Arrow row
        counts per key, pick the touched segments
        (:meth:`_split_by_key_overlap`), prove the rebase (an interleaved
        append commutes iff it holds none of them), and enter Spark as a
        broadcast LocalRelation (unless not ``relation``). Above
        ``max_targeted_keys`` every segment is touched and joins use the
        distributed key frame, unhinted. NULL keys identify no segment."""
        import pyarrow.compute as pc

        counts = source.groupBy(self.key).count()
        tbl = counts.limit(self.max_targeted_keys + 2).toArrow()
        keyed = tbl.filter(pc.is_valid(tbl.column(0)))
        keys = rows = null_rows = dup = None
        if keyed.num_rows <= self.max_targeted_keys:
            keys = sorted(keyed.column(0).to_pylist())
            rows = pc.sum(tbl.column(1)).as_py() or 0
            null_rows = rows - (pc.sum(keyed.column(1)).as_py() or 0)
            many = keyed.filter(pc.greater(keyed.column(1), 1)).column(0)
            dup = min(many.to_pylist(), default=None)
        rel = None
        if keys is None:
            rel = counts.select(self.key).filter(F.col(self.key).isNotNull())
        elif relation:
            rel = F.broadcast(
                self._key_relation(keyed.select([0]), counts.schema[self.key])
            )
        # Key-range shard pruning: selection scans only the checkpoint
        # shards whose key bounds overlap the keys (falls back to the full
        # snapshot when there is no sharded checkpoint).
        manifest = self._dml_manifest(
            v0, {self.key: (keys[0], keys[-1])} if keys else None
        )
        if keys is None:
            touched = manifest["segments"]
        else:
            touched, _ = self._split_by_key_overlap(manifest, keys)
        # The key column is rename-guarded: the logical name IS physical.
        rebase = None if keys is None else {self.key: keys}
        base = self._aligned_base(manifest, touched, v0)
        return _Targets(
            v0, manifest, touched, rebase, base, keys, rel, rows, null_rows, dup
        )

    def _pred_targets(self, v0: int, predicate: dict | None) -> _Targets:
        """Predicated targeting: the segments :meth:`_segments_matching`
        keeps for ``predicate`` (all of them without one). Interleaved
        appends provably disjoint from the predicate commute."""
        manifest = self._dml_manifest(v0, predicate)
        # Stats, partition values and blooms are keyed by PHYSICAL names;
        # row conditions stay logical (the base is read logical too).
        phys = self._pred_to_physical(predicate) if predicate else None
        touched = manifest["segments"]
        if phys:
            touched = self._segments_matching(manifest, phys)
        base = self._aligned_base(manifest, touched, v0)
        return _Targets(v0, manifest, touched, phys, base)

    def _survivors(self, t: _Targets, kept: DataFrame) -> DataFrame:
        """``kept``, the touched rows a rewrite carries over, coalesced to
        the touched segments' size (:meth:`_rewrite_partitions`) so a small
        rewrite stays one file."""
        return kept.coalesce(
            self._rewrite_partitions(t.touched, t.manifest["segments"])
        )

    # -- commit: copy-on-write or merge-on-read ------------------------------

    def _commit_cow(
        self,
        out: DataFrame,
        touched: list[str],
        v0: int,
        rebase_pred: dict | None,
        txn: tuple[str, int] | None = None,
        meta: dict | None = None,
    ) -> int:
        """The copy-on-write commit: ``out`` replaces the ``touched``
        segments, the rest ride by reference (O(touched) manifest state).
        ``base_version=v0`` pins the snapshot ``out`` came from; appends
        provably disjoint from ``rebase_pred`` rebase through. The schema
        cache rolls forward. Returns the new version."""
        nv = self._transact(
            None,
            meta,
            txn,
            base_version=v0,
            rebase_predicate=rebase_pred,
            mutate_make=(touched, lambda v: self._write_partitioned(out, v)),
        )
        self._carry_schema(nv)
        return nv

    def _commit_mor(
        self,
        pre: DataFrame,
        touched: list[str],
        v0: int,
        rebase_pred: dict | None,
        txn: tuple[str, int] | None = None,
        new_rows: DataFrame | None = None,
        guard=None,
    ) -> tuple[int | None, int]:
        """The merge-on-read commit: mask ``pre`` (the old images: they
        fund the change feed's delete/update records AND define the
        read-time mask) with a deletion vector scoped to the ``touched``
        segments only — the mask is never tested against files the keys
        provably aren't in, and the commit record stays O(touched) — and
        write ``new_rows`` as new segments; prior segments ride by
        reference. ``pre`` is persisted, so the key collection (the masked
        row count, and the new dv's key-cache entry) and the dv write share
        one evaluation. ``guard(keys)`` may raise before anything is
        written. ``base_version=v0`` pins the dv's pre-images to the
        segment list they were computed from (provably-disjoint appends
        rebase through unmasked). The schema cache rolls forward. Returns
        ``(new version, masked rows)``, or ``(None, 0)`` with no commit
        when there is nothing to mask or write."""
        pre = pre.persist()
        try:
            keys = pre.select(self.key).toArrow() if touched else None
            masked = 0 if keys is None else keys.num_rows
            if not masked and new_rows is None:
                return None, 0
            if guard is not None:
                guard(keys)

            def _make(v: int) -> list[str]:
                segs = [] if new_rows is None else self._write_partitioned(new_rows, v)
                if masked:
                    name = f"_dv{v:06d}"
                    pre.write.mode("overwrite").parquet(self._dv_path(name))
                    self._pending_dv[name] = list(touched)
                return segs

            nv = self._transact(
                None,
                txn=txn,
                base_version=v0,
                rebase_predicate=rebase_pred,
                mutate_make=([], _make),
            )
        finally:
            pre.unpersist()
        if masked:  # committed: only now is the dv name final
            self._cache_dv_keys(f"_dv{nv:06d}", keys)
        self._carry_schema(nv)
        return nv, masked

    def _commit_delete(
        self,
        t: _Targets,
        rows: DataFrame,
        hit,
        mode: str,
        txn: tuple[str, int] | None = None,
        guard=None,
    ) -> int:
        """The delete tail: ``rows`` is ``t.base`` plus any columns the
        match condition ``hit`` reads. ``dv`` masks the matched rows;
        ``rewrite`` persists ``rows`` (one base read, one key broadcast),
        counts the removed rows once, and rewrites the survivors. Nothing
        removed commits nothing. Returns the deleted row count."""
        if not t.touched:
            return 0  # provably nothing matches
        cols = t.base.columns
        matched = rows.filter(hit).select(*cols)
        if mode == "dv":
            return self._commit_mor(
                matched, t.touched, t.version, t.rebase_pred, txn, guard=guard
            )[1]
        rows = rows.persist()
        try:
            removed = matched.count()
            if removed:
                kept = self._survivors(t, rows.filter(~hit).select(*cols))
                self._commit_cow(kept, t.touched, t.version, t.rebase_pred, txn)
            return removed
        finally:
            rows.unpersist()

    def _split_by_key_overlap(
        self, manifest: dict, keys: list
    ) -> tuple[list[str], list[str]]:
        """Partition the manifest's segments into (touched, untouched):
        a segment is untouched only when its key min/max PROVABLY contains
        none of the source keys — then no source row can match a row in it,
        so the DML result leaves it byte-identical and the commit reuses it
        by reference. Segments without key stats (or with incomparable
        degraded types) are conservatively touched. Effective exactly when
        the layout clusters the key (compact(range_by=key) / z-order /
        naturally-ordered ingest keys) — the same precondition as Delta's
        stats-based file-skipping DML. Bloom sidecars (``bloom_cols``)
        extend the proof to UNCLUSTERED layouts: even when a segment's key
        range covers a source key, its bloom can still prove the exact
        keys absent."""
        import bisect

        from lakehouse_spark.mutation.bloom import hash_values, probe_family

        stats = manifest.get("stats", {})
        unset = object()
        hashes = unset  # hashed lazily, once, on the first bloom probe
        family = None
        touched: list[str] = []
        untouched: list[str] = []
        for s in manifest["segments"]:
            st = (stats.get(s) or {}).get(self.key)
            hit = True
            if st is not None and st[0] is not None and st[1] is not None:
                try:
                    i = bisect.bisect_left(keys, st[0])
                    hit = i < len(keys) and keys[i] <= st[1]
                except TypeError:  # degraded/incomparable stat types
                    hit = True
            if hit:
                if hashes is unset:
                    family = probe_family(keys)
                    hashes = hash_values(keys)
                if self._bloom_rules_out(s, self.key, hashes, family):
                    hit = False
            (touched if hit else untouched).append(s)
        return touched, untouched

    def _logical_schema(self, version: int, manifest: dict):
        """Full LOGICAL table schema at ``version``, cached per instance.
        Targeted DML needs it to align touched-segment reads to the full
        table even when schema-evolved columns live only in untouched
        segments — and re-unioning EVERY segment's footer per statement
        for that alignment is an O(table) footer-reading Spark job a 1-row
        targeted DELETE must not pay. DML itself never changes the schema
        (sources are projected to the target's columns; merge
        ``extra_cols='evolve'`` widens explicitly and invalidates), so
        :meth:`_carry_schema` rolls the cache forward across this
        instance's own DML commits; any other writer's commit changes the
        version and forces one rebuild."""
        cached = getattr(self, "_schema_cache", None)
        if cached is not None and cached[0] == version:
            return cached[1]
        sj = None if manifest is None else manifest.get("schema")
        if manifest is None and sj is None:
            manifest = self._snapshot(version)
            sj = manifest.get("schema")
        if sj is not None:
            # Recorded-schema fast path (tables written since round 11):
            # the manifest's schema scalar IS the footer union. Valid for
            # PRUNED manifests too: scalars ride the list doc complete.
            schema = _logical_recorded_schema(manifest)
            self._schema_cache = (version, schema)
            return schema
        if manifest.get("pruned"):
            # A predicate-scoped partial snapshot lists only matching
            # segments — the footer-union fallback must run over all.
            manifest = self._snapshot(version)
        full = self._to_logical_static(
            self._read_segments(manifest["segments"], {}, None),
            manifest.get("renames", {}),
            manifest.get("dropped", []),
        )
        self._schema_cache = (version, full.schema)
        return full.schema

    def _carry_schema(self, version: int | None) -> None:
        """Roll the schema cache forward to ``version`` after a DML commit
        that provably did not change the table schema."""
        cached = getattr(self, "_schema_cache", None)
        if cached is not None and version is not None:
            self._schema_cache = (version, cached[1])

    def _carry_schema_union(self, version: int | None, written) -> None:
        """Roll the schema cache forward across an APPEND: the new version's
        schema is the old one plus any columns the appended frame
        introduced (additive evolution — old segments read them as null,
        hence nullable). Type conflicts were already rejected, so the
        union is exact. A fresh StructType is built (StructType.add
        mutates the receiver)."""
        cached = getattr(self, "_schema_cache", None)
        if cached is None or version is None:
            return
        from pyspark.sql.types import StructField, StructType

        have = {f.name for f in cached[1].fields}
        extra = [f for f in written.fields if f.name not in have]
        if extra:
            self._schema_cache = (
                version,
                StructType(
                    list(cached[1].fields)
                    + [StructField(f.name, f.dataType, True) for f in extra]
                ),
            )
        else:
            self._schema_cache = (version, cached[1])

    def _dml_manifest(self, v: int, predicate: dict | None) -> dict:
        """Snapshot for DML file selection. With a selective predicate,
        prefer the two-level checkpoint's shard bounds (O(matched shards)
        — even on a WARM instance, where the full snapshot itself is a
        cache hit but the per-segment selection loop over it is O(table)
        Python per statement). The partial snapshot is a provable SUPERSET
        of the matching segments, carries their stats/partition values,
        and its dv/scalar planes are complete — exactly what the
        per-segment selection and :meth:`_aligned_base` consume. Tables
        without a sharded checkpoint (or pre-checkpoint versions) fall
        back to the full snapshot, the previous behavior."""
        if predicate:
            # Same gate as read() (shared helpers — see reads.py): a warm
            # SMALL snapshot's selection loop is cheaper than any
            # checkpoint IO; cold or large goes through shard bounds, with
            # the negative-result memo so tables without a sharded
            # checkpoint don't re-walk the chain per statement.
            from lakehouse_spark.mutation.reads import _WARM_PRUNE_MIN_SEGS

            warm_n = self._warm_seg_count(v)
            if warm_n is None or warm_n > _WARM_PRUNE_MIN_SEGS:
                m = self._try_pruned(v, predicate)
                if m is not None:
                    return m
        return self._snapshot(v)

    def _aligned_base(
        self, manifest: dict, touched: list[str], version: int
    ) -> DataFrame:
        """Read the touched segments (deletion vectors applied) aligned to
        the FULL table schema at ``version`` (per-version cache: only the
        touched segments are opened), so targeted DML behaves
        byte-identically to the full-table form even when schema-evolved
        columns live only in untouched segments. Returned in LOGICAL
        column names (renames applied, dropped columns gone): every DML
        path computes in logical space and _write_segment translates back
        to physical on write — which is also what physically purges
        dropped columns from any segment a rewrite touches."""
        schema = self._logical_schema(version, manifest)
        if not touched:
            return self.spark.createDataFrame([], schema)
        df = self._read_segments(
            touched, manifest.get("dv", {}), manifest.get("schema")
        )
        df = self._to_logical_static(
            df, manifest.get("renames", {}), manifest.get("dropped", [])
        )
        return _align_to_fields(df, schema.fields)

    # -- writes ----------------------------------------------------------------

    def init(
        self,
        df: DataFrame,
        meta: dict | None = None,
        txn: tuple[str, int] | None = None,
    ) -> None:
        self._transact(lambda v: self._write_partitioned(df, v), meta, txn)

    def append(
        self,
        rows: DataFrame,
        meta: dict | None = None,
        txn: tuple[str, int] | None = None,
    ) -> None:
        """SC4: append-only log write (the reference's open(...,'a')).
        O(new rows): one new segment, prior segments reused by reference.
        Safe under concurrent writers: the version slot is claimed before
        the segment write, so a racing append raises
        :class:`ConcurrentWriteError` instead of dropping a segment.
        ``txn=(app_id, version)`` stamps an exactly-once watermark (see
        :meth:`last_txn_version`)."""
        if not self.exists():
            self.init(rows, meta, txn)
            return
        rows = self._apply_generated(rows)
        self._reject_schema_conflicts(rows)
        # Delta lane, removing nothing: prior segments ride by reference
        # inside the claimed transaction (once v is claimed, v-1 is
        # immutable) and the commit touches O(new segments) manifest state
        # — the head mirror evolves in place, so ingest commit latency is
        # flat in table size.
        nv = self._transact(
            None,
            meta,
            txn,
            mutate_make=([], lambda v: self._write_partitioned(rows, v)),
        )
        self._carry_schema_union(nv, rows.schema)

    def _reject_schema_conflicts(self, rows: DataFrame, op: str = "append") -> None:
        """Schema enforcement (Delta's write-time contract): a written
        column whose TYPE differs from the table's poisons the shared
        parquet schema merge — every later read of every row would fail at
        scan planning, far from the write that caused it. Reject at the
        write instead (every DML path: append, upsert, merge,
        overwrite_where). New columns pass (additive evolution: old
        segments read them as null); missing columns pass (the new segment
        reads nulls for them); only same-name/different-type conflicts
        raise."""
        # simpleString drops nullability (recursively) on purpose: writing
        # non-null arrays/structs into nullable ones is exactly what
        # parquet's schema merge already reconciles — only TYPE conflicts
        # poison the merge. The target schema comes from the per-version
        # cache: re-unioning every segment's footer per WRITE is an
        # O(table) planning cost the hot append path must not pay.
        target = {
            f.name: f.dataType.simpleString()
            for f in self._logical_schema(self.current_version(), None).fields
        }
        conflicts = [
            (f.name, target[f.name], f.dataType.simpleString())
            for f in rows.schema
            if f.name in target and target[f.name] != f.dataType.simpleString()
        ]
        if conflicts:
            detail = "; ".join(
                f"{n}: table={t} vs source={a}" for n, t, a in conflicts
            )
            raise SchemaMismatchError(
                f"{op} to {self.root} changes column type(s) [{detail}]; "
                "cast the input, or overwrite() to redefine the schema"
            )


    def _rewrite(
        self,
        df: DataFrame,
        txn: tuple[str, int] | None = None,
        base_version: int | None = None,
    ) -> int:
        """Full compaction commit: one segment holding ``df``."""
        return self._transact(
            lambda v: self._write_partitioned(df, v),
            txn=txn,
            base_version=base_version,
        )

    def restore(self, version: int | None = None, as_of=None) -> int:
        """Delta-style RESTORE: roll the table back to ``version`` by
        committing a NEW version that references the old version's
        segments — history is preserved (the bad commits stay inspectable
        and the restore itself is an auditable commit with provenance
        meta), nothing is rewritten, and concurrent-writer safety is the
        ordinary claim protocol. Fails if ``version`` was vacuumed.
        ``as_of`` restores to the snapshot live at that instant
        (``RESTORE TABLE ... TO TIMESTAMP AS OF``)."""
        if (version is None) == (as_of is None):
            raise ValueError("pass exactly one of version= or as_of=")
        if as_of is not None:
            version = self.version_at(as_of)
        m = self._snapshot(version)  # raises FileNotFoundError if vacuumed
        v = self._transact(
            lambda _v: m["segments"],
            meta={"restored_from": version},
            # Pin the restored version's FULL state, not just its data:
            # deletion vectors (carrying the head's would keep masking
            # rows the restored state had), per-segment stats/partition
            # values (the head's carry-forward doesn't know segments it no
            # longer references), and the logical-schema plane —
            # constraints, generated columns, column mapping, partition
            # layout. Restoring across a RENAME/DROP COLUMN or a
            # repartition_table must bring the old schema and layout back,
            # exactly Delta's RESTORE contract (data AND metadata roll
            # back; the bad commits stay inspectable in history).
            planes={
                k: m[k]
                for k in (
                    "constraints", "generated", "renames", "dropped",
                    "partition_by", "schema", "stats", "partitions", "dv",
                )
            },
        )
        # Future writes from THIS instance follow the restored layout (the
        # same instance-state roll that repartition_table performs).
        self.partition_by = tuple(m.get("partition_by", []))
        return v

    def overwrite(
        self,
        df: DataFrame,
        meta: dict | None = None,
        txn: tuple[str, int] | None = None,
    ) -> None:
        """Full-replace commit (CREATE OR REPLACE): the new version holds
        exactly ``df``, with ``meta`` riding in the manifest. The refresh
        primitive for derived tables (materialized views) that must record
        provenance — e.g. which base version they reflect — atomically with
        their data."""
        df = self._apply_generated(df)
        self._transact(lambda v: self._write_partitioned(df, v), meta, txn)

    def overwrite_where(
        self,
        df: DataFrame,
        predicate: dict,
        meta: dict | None = None,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Delta's ``replaceWhere`` / dynamic-partition-overwrite: atomically
        replace exactly the rows matching ``predicate`` (same dict form as
        :meth:`read` — scalar equality or ``(lo, hi)`` ranges over
        stats-tracked columns) with ``df``. The idempotent-backfill
        primitive: re-running a day's pipeline swaps that day's rows in one
        commit, whatever state the previous run left.

        Every row of ``df`` must itself satisfy the predicate — writing
        outside the replaced region raises ValueError before anything
        commits, exactly Delta's "data would be written outside of
        replaceWhere" check.

        Cost shape: **O(affected segments)** — segments whose stats can't
        overlap the predicate are reused by reference; only overlapping
        segments are read, filtered to their surviving (non-matching) rows,
        and rewritten together with ``df``. On a layout banded by the
        predicate column (compact(range_by=...) / z-order), a daily backfill
        touches one band, not the table. Returns the new version."""
        df = self._apply_generated(df)
        self._reject_schema_conflicts(df, op="overwrite_where")
        cond = _predicate_expr(predicate)
        if cond is None:
            raise ValueError(
                "empty predicate would replace the whole table; call "
                "overwrite() for that"
            )
        hit = F.coalesce(cond, F.lit(False))
        if df.filter(~hit).limit(1).count():
            raise ValueError(
                f"replacement rows fall outside the predicate {predicate!r} "
                "(Delta's replaceWhere rejects this too) — fix the source "
                "or widen the predicate"
            )
        t = self._pred_targets(self._dml_head(), predicate)
        # Survivors = rows NOT matching (a null-valued predicate column
        # means "doesn't match" and therefore survives). Interleaved
        # appends provably OUTSIDE the replaced region commute (serial
        # order: replace, then append) — rebase instead of raising.
        out = self._survivors(t, t.base.filter(~hit))
        out = out.unionByName(df.select(*t.base.columns))
        return self._commit_cow(out, t.touched, t.version, t.rebase_pred, txn, meta)

    def upsert(
        self,
        rows: DataFrame,
        txn: tuple[str, int] | None = None,
        mode: str = "rewrite",
    ) -> None:
        """SC5: whole-row upsert keyed by ``self.key`` — the atomic
        tmp+rename document replace: every existing row of a source key
        (all of them, where the key repeats) is replaced by the source's
        rows for it. Delta form: MERGE WHEN MATCHED UPDATE WHEN NOT MATCHED
        INSERT. ``txn`` stamps an exactly-once watermark (see
        :meth:`last_txn_version`). The keyed skeleton: :meth:`_key_targets`,
        then :meth:`_commit_cow` or :meth:`_commit_mor`.

        ``mode="rewrite"`` (default) cost shape: **O(affected files), not
        O(table)** when the key is in ``stats_cols`` and the layout
        clusters it — segments whose key range provably contains no source
        key are reused by reference; only the overlapping files are read,
        merged, and rewritten (Delta's file-skipping MERGE). Unclustered
        layouts or >200k source keys degrade gracefully to the full
        rewrite.

        ``mode="dv"`` is **merge-on-read MERGE** (Delta's deletion-vector
        DML): NO segment is rewritten at all — the commit writes the
        source rows as one new segment and a deletion vector masking the
        OLD images of the matched keys in exactly the segments they could
        live in. Cost: O(matched pre-images + source rows) written,
        whatever the table size; reads pay one extra broadcast anti-join
        per outstanding dv until :meth:`compact`/:meth:`maybe_compact`
        folds them (run on a cadence, like Delta's OPTIMIZE after DV
        DML)."""
        _check_mode(mode)
        if not self.exists():
            self.init(rows, txn=txn)
            return
        rows = self._apply_generated(rows)
        self._reject_schema_conflicts(rows, op="upsert")
        # Rebase proof: an interleaved blind append commutes with this
        # upsert iff its segments provably hold NONE of the source keys
        # (else carried-through appended rows would duplicate keys the new
        # segment also carries).
        t = self._key_targets(rows, self._dml_head())
        new_rows = rows.select(*t.base.columns)
        if mode == "dv":
            # Pre-images of the keys being replaced; the commit writes
            # O(changed rows) data AND touches O(changed) manifest state.
            pre = t.base.join(t.rel, self.key, "left_semi")
            self._commit_mor(pre, t.touched, t.version, t.rebase_pred, txn, new_rows)
            return
        out = self._survivors(t, t.base.join(t.rel, self.key, "left_anti"))
        out = out.unionByName(new_rows)
        self._commit_cow(out, t.touched, t.version, t.rebase_pred, txn)

    def update(
        self,
        set: dict[str, str],
        where: str | None = None,
        predicate: dict | None = None,
        mode: str = "rewrite",
        txn: tuple[str, int] | None = None,
        keys: DataFrame | None = None,
    ) -> int:
        """Delta's ``UPDATE target SET <col> = <expr> [WHERE ...]``.

        ``set`` maps column names to SQL expressions evaluated per matched
        row (``{"x": "x + 1", "status": "'done'"}``). ``where`` is a SQL
        boolean over the row; ``predicate`` is the :meth:`read` dict form of
        (part of) the same condition and is what buys file skipping — a
        predicate over stats/partition/bloom-tracked columns means only the
        segments that can hold matches are even read, and the key-targeted
        rewrite underneath touches only the files the matched keys live in.
        ``mode="rewrite"`` (default) is row-exact: the touched segments are
        rewritten with each matched row replaced by its post-image and
        every other row — including rows the WHERE spared that share a
        matched row's key — carried over. ``mode="dv"`` is merge-on-read
        UPDATE: zero rewrites, old images masked by a deletion vector,
        post-images in one new segment; a dv masks by KEY, so it raises
        when a matched key has rows the condition spared (use rewrite
        mode on duplicate-key tables).

        ``keys`` is the DISTRIBUTED key-set form (``UPDATE ... WHERE key
        IN (SELECT ...)`` beyond any inline-literal cap): a one-column
        frame of key values; matched rows are found with a semi-join that
        never materializes the set on the driver, composing with ``where``
        /``predicate`` as an extra conjunct. The commit still applies
        key-stats file skipping (the matched rows' keys drive it);
        arbitrarily large key sets degrade gracefully to the full rewrite
        exactly like upsert. This is Delta's UPDATE-with-subquery cost
        shape.

        Cost: one collection of the matched rows' keys (with their row
        counts, which give the returned count), then the keyed skeleton —
        the commit reads and replaces only the segments those keys can
        live in. Rows whose key is NULL can't be located by key, so
        matching one raises.

        Generated columns are recomputed from the updated values (Delta's
        UPDATE contract); setting one directly, or the key, is an error.
        Returns the number of updated rows. Concurrency: derived from a
        pinned snapshot and committed with snapshot-conflict detection —
        an interleaved commit raises :exc:`ConcurrentWriteError`."""
        _check_mode(mode)
        v0 = self._dml_head()
        key = self.key or self._manifest_key()
        gen = self.generated_columns()
        full_schema = self._logical_schema(v0, None)
        cols = [f.name for f in full_schema.fields]
        for c in set:
            if c == key:
                raise ValueError(
                    f"cannot UPDATE the key column {key!r}; delete + insert "
                    "to change a row's identity"
                )
            if c in gen:
                raise ValueError(
                    f"column {c!r} is generated ({gen[c]}); update its "
                    "source columns and the formula recomputes it"
                )
            if c not in cols:
                raise KeyError(f"no column {c!r} (have {cols})")
        # Align to the FULL logical schema: a selective predicate can prune
        # the read to segments that predate an evolved column the WHERE
        # names (it reads null there, exactly as an unpruned read shows).
        matched = _align_to_fields(
            self.read(v0, predicate=predicate), full_schema.fields
        )
        if keys is not None:
            if len(keys.columns) != 1:
                raise ValueError(
                    f"keys frame must have exactly one column, got {keys.columns}"
                )
            kf = keys.toDF(key).filter(F.col(key).isNotNull()).distinct()
            matched = matched.join(kf, key, "left_semi")
        if where is not None:
            matched = matched.filter(F.expr(where))
        t = self._key_targets(matched, v0)
        if t.rows is None:  # above the key cap: count in one aggregate
            n, keyed = matched.agg(F.count(F.lit(1)), F.count(key)).first()
            nulls = n - keyed
        else:
            n, nulls = t.rows, t.null_rows
        if nulls:
            raise ValueError(
                f"UPDATE matches {nulls} row(s) whose key {key!r} is NULL; "
                "the store locates rows by key, so it cannot replace them"
            )
        if not n:
            return 0
        # Every matched row's key is in t.rel, and within those keys' rows
        # the statement's condition is exactly the row match (a keys frame
        # only admits keys t.rel already holds).
        hit = _matches(predicate, where)
        pre = t.base.join(t.rel, self.key, "left_semi")
        # SET expressions are cast to the column's existing type (Delta's
        # store-assignment rule): UPDATE changes values, never the schema.
        types = {f.name: f.dataType for f in full_schema.fields}

        def _set(df: DataFrame) -> DataFrame:
            out = df.select(
                *[
                    F.when(hit, F.expr(set[c]).cast(types[c]))
                    .otherwise(F.col(c))
                    .alias(c)
                    if c in set
                    else F.col(c)
                    for c in cols
                ]
            )
            if gen:  # recompute from the post-update values
                out = self._apply_generated(out.drop(*gen)).select(*cols)
            return out

        if mode == "dv":

            def _whole_keys(pre_keys) -> None:
                if pre_keys.num_rows != n:
                    raise ValueError(_PARTIAL_KEY)

            post = _set(pre.filter(hit))
            self._commit_mor(
                pre, t.touched, v0, t.rebase_pred, txn, post, guard=_whole_keys
            )
        else:
            out = self._survivors(t, t.base.join(t.rel, self.key, "left_anti"))
            out = out.unionByName(_set(pre))
            self._commit_cow(out, t.touched, v0, t.rebase_pred, txn)
        return n

    def _reject_merge_dups(self, source: DataFrame, t: _Targets | None = None):
        """Raise when ``source`` holds a non-null key twice: a duplicate
        key would fan matched target rows out. NULL keys never satisfy the
        equi-join, so they are exempt (two null-key source rows are legal;
        with insert=True each simply inserts, the standard MERGE outcome
        for unmatched rows). ``t``'s per-key row counts answer without a
        Spark job; with no table yet, or a source above the key cap, one
        job looks."""
        if t is not None and t.keys is not None:
            k = t.dup
        else:
            dup = (
                source.filter(F.col(self.key).isNotNull())
                .groupBy(self.key)
                .count()
                .filter(F.col("count") > 1)
                .limit(1)
                .collect()
            )
            k = dup[0][self.key] if dup else None
        if k is not None:
            raise ValueError(
                f"merge source has multiple rows for key {k!r}; a duplicate "
                "key would fan matched target rows out (Delta raises "
                "'multiple source rows matched' here too) — dedupe the "
                "source first"
            )

    def merge(
        self,
        source: DataFrame,
        update_cols: list[str] | None = None,
        update_cond: str | None = None,
        delete_cond: str | None = None,
        insert: bool = True,
        txn: tuple[str, int] | None = None,
        extra_cols: str = "error",
        mode: str = "rewrite",
    ) -> None:
        """Conditional MERGE keyed by ``self.key`` — the full Delta shape
        :meth:`upsert` is the unconditional special case of::

            MERGE INTO target t USING source s ON t.<key> = s.<key>
            WHEN MATCHED [AND <delete_cond>] THEN DELETE
            WHEN MATCHED [AND <update_cond>] THEN UPDATE SET <update_cols>
            WHEN NOT MATCHED [AND insert]    THEN INSERT *

        ``update_cond`` / ``delete_cond`` are SQL boolean expressions over
        ``t.<col>`` (current row) and ``s.<col>`` (incoming row); DELETE
        is evaluated before UPDATE, matching Delta's clause ordering.
        ``update_cols`` limits which target columns the update rewrites
        (default: every source column except the key). Unmatched target
        rows always survive; unmatched source rows insert when ``insert``.

        Source columns the target schema lacks are an error by default —
        Delta's MERGE rejects unknown columns rather than silently
        discarding their data. ``extra_cols`` picks the policy:
        ``"error"`` (default) raises; ``"evolve"`` widens the target
        schema Delta-autoMerge-style (existing rows read null for the new
        columns, matched updates and inserts carry them); ``"ignore"``
        explicitly discards them.

        Cost shape: one left-outer join against the (usually small) source
        plus a rewrite of **only the segments whose key stats can contain a
        source key** (untouched segments are reused by reference) — Delta's
        file-skipping MERGE. On a key-clustered layout that's O(affected
        files); without key stats or with >200k source keys it degrades to
        the classic O(table) rewrite.

        ``mode="dv"`` is merge-on-read MERGE (see :meth:`upsert`): NO
        segment is rewritten — deleted and updated rows' OLD images are
        masked by a deletion vector scoped to the segments they can live
        in, and one new segment carries the update post-images plus the
        inserts. Matched rows that neither clause touches stay in their
        original segments unmasked. O(changed + inserted rows) written."""
        if extra_cols not in ("error", "ignore", "evolve"):
            raise ValueError(
                f"extra_cols must be 'error', 'evolve' or 'ignore', got {extra_cols!r}"
            )
        _check_mode(mode)
        # Generated columns the source omits are computed up front so
        # INSERTs carry them; an UPDATE whose clause leaves a generated
        # column stale is caught by the write-time enforcement instead.
        source = self._apply_generated(source)
        if not self.exists():
            self._reject_merge_dups(source)
            if insert:
                self.init(source, txn=txn)
            return
        self._reject_schema_conflicts(source, op="merge")
        # Targeted (see upsert): only segments whose key stats can contain
        # a source key are read and replaced; the rest are reused by
        # reference. The aligned base carries the FULL table schema, so
        # the unknown-column check and clause evaluation below are
        # byte-identical to the untargeted form.
        t = self._key_targets(source, self._dml_head(), relation=False)
        self._reject_merge_dups(source, t)
        base = t.base
        unknown = [c for c in source.columns if c not in base.columns]
        if unknown and extra_cols == "error":
            raise ValueError(
                f"merge source has columns {unknown} absent from the "
                "target schema; their data would be silently dropped on "
                "both the UPDATE and INSERT paths. Pass "
                "extra_cols='evolve' to widen the target schema, or "
                "extra_cols='ignore' to discard them explicitly"
            )
        if unknown and extra_cols == "evolve":
            # Schema evolution: widen the target with the new columns
            # (null for every existing row) BEFORE the join, so the
            # ordinary update/insert machinery below carries them — the
            # same additive semantics as Delta's
            # spark.databricks.delta.schema.autoMerge.
            base = base.select(
                "*",
                *[
                    F.lit(None).cast(source.schema[c].dataType).alias(c)
                    for c in unknown
                ],
            )
        cols = base.columns
        upd = [
            c
            for c in (update_cols if update_cols is not None else source.columns)
            if c != self.key and c in cols and c in source.columns
        ]
        tb = base.alias("t")
        s = source.alias("s")
        joined = tb.join(
            s, F.col(f"t.{self.key}") == F.col(f"s.{self.key}"), "left"
        )
        matched = F.col(f"s.{self.key}").isNotNull()
        if delete_cond is not None:
            deleted = matched & F.coalesce(F.expr(delete_cond), F.lit(False))
        else:
            deleted = F.lit(False)
        updated = matched & ~deleted
        if update_cond is not None:
            updated = updated & F.coalesce(F.expr(update_cond), F.lit(False))
        ins = None
        if insert:
            new_rows = s.join(
                tb.select(F.col(f"t.{self.key}")),
                F.col(f"s.{self.key}") == F.col(f"t.{self.key}"),
                "left_anti",
            )
            missing = [c for c in cols if c not in source.columns]
            ins = new_rows.select(
                *[
                    F.col(c).alias(c)
                    if c in source.columns
                    else F.lit(None).alias(c)
                    for c in cols
                ]
            )
            if missing:
                ins = ins.select(
                    *[
                        F.col(c).cast(base.schema[c].dataType).alias(c)
                        for c in cols
                    ]
                )
        # The row a kept target row becomes: the update post-image, or
        # itself.
        image = [
            F.when(updated, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
            if c in upd
            else F.col(f"t.{c}").alias(c)
            for c in cols
        ]
        if mode == "dv":
            # Merge-on-read: old images of deleted/updated rows are masked
            # (their pre-images fund the dv file), update post-images and
            # inserts land in one new segment, and every matched-but-
            # untouched row stays in its original segment unmasked.
            pre = joined.filter(deleted | updated).select(
                *[F.col(f"t.{c}").alias(c) for c in cols]
            )
            post = joined.filter(updated).select(*image)
            new_seg_rows = post if ins is None else post.unionByName(ins)
            self._commit_mor(
                pre, t.touched, t.version, t.rebase_pred, txn, new_seg_rows
            )
        else:
            kept = joined.filter(~deleted).select(*image)
            out = kept if ins is None else kept.unionByName(ins)
            self._commit_cow(out, t.touched, t.version, t.rebase_pred, txn)
        if unknown and extra_cols == "evolve":
            self._schema_cache = None  # schema widened: rebuild

    def delete_where(
        self,
        where: str | None = None,
        predicate: dict | None = None,
        mode: str = "rewrite",
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Delta's ``DELETE FROM t WHERE ...``. ``where`` is a SQL boolean
        over the row; ``predicate`` is the :meth:`read` dict form of (part
        of) the same condition and is what buys file skipping — segments
        whose stats/partition values can't match are reused by reference,
        so a partition-scoped delete is O(affected segments). At least one
        of the two is required (deleting every row should be the explicit
        ``overwrite`` of an empty frame, not a DELETE with no WHERE).

        ``mode="rewrite"`` (default) deletes EXACT rows: the touched
        segments' survivors are rewritten. ``mode="dv"`` is merge-on-read:
        O(deleted rows) written, no segment rewritten — but this store's
        deletion vectors mask by KEY, so dv mode requires every matched
        key's rows to ALL match the condition (true on unique-key tables,
        always true for delete_keys); a partial-key match raises with
        instructions to use rewrite mode rather than silently deleting
        sibling rows the WHERE spared. Returns the number of deleted
        rows."""
        if where is None and predicate is None:
            raise ValueError(
                "DELETE with no condition would drop every row; call "
                "overwrite() with an empty frame if that is really meant"
            )
        _check_mode(mode)
        # Interleaved appends provably disjoint from the delete's predicate
        # commute (they land "after" the delete in the serial order, so
        # their rows correctly survive).
        t = self._pred_targets(self._dml_head(), predicate)
        hit = _matches(predicate, where)

        def _whole_keys(keys) -> None:
            # The guard inspects only the touched segments, which is why
            # the dv must be scoped to them: registered against ALL
            # segments it would silently mask a matched key's sibling rows
            # living in predicate-pruned segments.
            key_rows = t.base.join(
                F.broadcast(self._key_relation(keys, t.base.schema[self.key])),
                self.key,
                "left_semi",
            ).count()
            if key_rows != keys.num_rows:
                raise ValueError(_PARTIAL_KEY)

        return self._commit_delete(t, t.base, hit, mode, txn, _whole_keys)

    def delete_keys(self, keys: DataFrame, mode: str = "rewrite") -> int:
        """J4 target: delete all rows whose key appears in ``keys`` (feed
        with plans.closure.cascade_delete_targets for recursive deletes).

        ``mode="rewrite"`` (default) rewrites the survivors of only the
        segments whose key stats / blooms admit a deleted key — zero
        read-time cost after.

        ``mode="dv"`` is the merge-on-read path (Delta deletion vectors):
        the commit WRITES only the deleted rows (their full pre-images, so
        the change feed reads them back for free) into a ``_dv`` file
        scoped to the segments live at delete time; the table's segments
        are untouched. Reads anti-join the (broadcast-small) deleted keys
        against exactly those segments — keys re-inserted later land in
        newer segments no dv covers and correctly resurrect. Cost shape:
        delete writes O(deleted rows) instead of rewriting 100 TB; reads
        pay one broadcast anti-join per outstanding dv until
        :meth:`compact` folds them away. Run compaction on a cadence,
        exactly like Delta's OPTIMIZE after DML on deletion-vector
        tables."""
        _check_mode(mode)
        # Deleted rows can only live in segments whose key stats / blooms
        # admit a deleted key; appends provably free of the keys commute
        # (their rows survive either serial order).
        t = self._key_targets(keys, self._dml_head())
        flagged = t.base.join(
            t.rel.withColumn("__deleted", F.lit(True)), self.key, "left"
        )
        return self._commit_delete(
            t, flagged, F.col("__deleted").isNotNull(), mode
        )

    def delete_last_per_group(self, group: str, order_col: str) -> None:
        """O9 ← manager.py:293-325: drop the newest row per group (the
        reference's delete-last-transcript-line, as a versioned rewrite)."""
        v0 = self.current_version()
        base = self.read(v0)
        w = Window.partitionBy(group).orderBy(F.desc(order_col))
        out = (
            base.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") > 1)
            .drop("__rn")
        )
        self._rewrite(out, base_version=v0)

    def retention_sweep(
        self, ended_col: str, created_col: str, cutoff
    ) -> int:
        """F2 cleanup ← manager.py:472-498: delete rows with
        coalesce(ended, created) < cutoff; returns removed count (A7)."""
        v0 = self.current_version()
        base = self.read(v0)
        keep = base.filter(
            ~(F.coalesce(F.col(ended_col), F.col(created_col)) < F.lit(cutoff))
        )
        removed = base.count() - keep.count()
        self._rewrite(keep, base_version=v0)
        return removed

