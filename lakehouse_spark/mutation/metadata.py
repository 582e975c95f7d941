"""Table metadata plane of :class:`~lakehouse_spark.mutation.store.TableStore`:
CHECK constraints, generated columns, column mapping (metadata-only
RENAME/DROP COLUMN), CLONE, and DESCRIBE DETAIL. Split out of store.py.
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakehouse_spark.mutation.manifest import ConstraintViolationError


class MetadataMixin:
    """Constraints, generated columns, column mapping, clone, detail."""

    # -- CHECK constraints ---------------------------------------------------

    @staticmethod
    def _violation_cond(exprs: dict[str, str]):
        """Rows failing ANY constraint. SQL CHECK semantics: NULL passes —
        a row violates only when the expression evaluates to FALSE."""
        cond = None
        for e in exprs.values():
            term = ~F.coalesce(F.expr(e), F.lit(True))
            cond = term if cond is None else (cond | term)
        return cond

    def constraints(self) -> dict[str, str]:
        """The table's CHECK constraints ``{name: sql_expr}`` at HEAD."""
        v = self.current_version()
        if v is None:
            return {}
        return self._snapshot(v)["constraints"]

    def _enforce_constraints(self, df: DataFrame) -> None:
        """Every segment this store writes — new rows, merge post-images,
        compaction rewrites alike — is checked against the HEAD manifest's
        constraints before any data lands. Cost: one extra filter+limit(1)
        job per written segment, only when constraints exist; rewrites of
        already-valid data re-verify by design (the cheap, unskippable
        invariant). Raises before the parquet write, so the enclosing
        transaction aborts with the pointer unmoved."""
        cons = dict(self.constraints())
        # Generated columns enforce as implicit constraints: a provided
        # value must agree with its formula (NULL-safe equality). Frames
        # that lack the column entirely are exempt — set_generated already
        # proved those rows read back consistent (they surface as nulls
        # under mergeSchema, and declaration-time validation covered that).
        for col, expr in self.generated_columns().items():
            if col in df.columns:
                cons[f"generated:{col}"] = f"{col} <=> ({expr})"
        if not cons:
            return
        bad = df.filter(self._violation_cond(cons)).limit(1).collect()
        if bad:
            raise ConstraintViolationError(
                f"write to {self.root} violates CHECK constraint(s) "
                f"{sorted(cons)}; first offending row: {bad[0].asDict()}"
            )

    def add_constraint(self, name: str, expr: str) -> int:
        """ALTER TABLE ADD CONSTRAINT name CHECK (expr). Validates the LIVE
        table (deletion vectors applied) first — existing violations reject
        the constraint, exactly Delta's contract — then commits a
        metadata-only version carrying it, so every later write (append,
        upsert, merge, overwrite, compaction) enforces it. Conflict-safe:
        the commit claims base+1 or raises ConcurrentWriteError."""
        if not self.exists():
            raise ValueError(f"no table at {self.root}")
        cons = self.constraints()
        if name in cons:
            raise ValueError(f"constraint {name!r} already exists")
        cur = self.current_version()
        bad = self.read().filter(self._violation_cond({name: expr})).limit(
            1
        ).collect()
        if bad:
            raise ConstraintViolationError(
                f"existing rows violate {name!r} ({expr}); first offender: "
                f"{bad[0].asDict()}"
            )
        return self._transact(
            lambda v: self._segments(v - 1),
            planes={"constraints": {**cons, name: expr}},
            base_version=cur,
        )

    # -- generated columns ---------------------------------------------------

    def generated_columns(self) -> dict[str, str]:
        """The table's generated columns ``{col: sql_expr}`` at HEAD."""
        v = self.current_version()
        if v is None:
            return {}
        return self._snapshot(v)["generated"]

    def set_generated(self, col: str, expr: str) -> int:
        """Declare ``col`` GENERATED ALWAYS AS (expr) — Delta's generated
        columns. Appends/overwrites that omit the column get it computed;
        writes that DO provide it (including merge/upsert post-images) are
        validated to satisfy ``col <=> (expr)`` by the same enforcement
        pass as CHECK constraints, so a caller can never commit a value
        that disagrees with the formula. Existing rows are validated
        first, like add_constraint. Declare the column in ``stats_cols``
        too and derived-value predicates prune segments — the Delta
        generated-column partition-pruning story at manifest scale."""
        if not self.exists():
            raise ValueError(f"no table at {self.root}")
        gen = self.generated_columns()
        if col in gen:
            raise ValueError(f"column {col!r} is already generated")
        cur = self.current_version()
        check = f"{col} <=> ({expr})"
        bad = self.read().filter(
            self._violation_cond({col: check})
        ).limit(1).collect()
        if bad:
            raise ConstraintViolationError(
                f"existing rows violate GENERATED {col} AS ({expr}); "
                f"first offender: {bad[0].asDict()}"
            )
        return self._transact(
            lambda v: self._segments(v - 1),
            planes={"generated": {**gen, col: expr}},
            base_version=cur,
        )

    def drop_generated(self, col: str) -> int:
        """Remove the generated-column declaration (the data stays)."""
        gen = self.generated_columns()
        if col not in gen:
            raise KeyError(f"no generated column {col!r} on {self.root}")
        gen = {k: v for k, v in gen.items() if k != col}
        return self._transact(
            lambda v: self._segments(v - 1),
            planes={"generated": gen},
            base_version=self.current_version(),
        )

    def _apply_generated(self, rows: DataFrame) -> DataFrame:
        """Fill in any declared generated column the input omits. Columns
        the caller provided are left as-is — the enforcement pass will
        reject them if they disagree with the formula."""
        for col, expr in self.generated_columns().items():
            if col not in rows.columns:
                rows = rows.withColumn(col, F.expr(expr))
        return rows

    # -- column mapping: metadata-only RENAME / DROP COLUMN ------------------

    def renames(self) -> dict[str, str]:
        """Active column renames ``{physical_name: logical_name}`` at HEAD.
        Physical names are the column names actually stored in parquet
        (immutable once written); logical names are what every public read
        and write surface speaks. Empty for tables that never renamed."""
        v = self.current_version()
        if v is None:
            return {}
        return self._snapshot(v)["renames"]

    def dropped_columns(self) -> list[str]:
        """Physical names dropped from the logical schema at HEAD. The
        bytes stay in old segments (invisible to every read) until a
        rewrite (compact / DML) purges them — Delta's DROP COLUMN +
        REORG PURGE split."""
        v = self.current_version()
        if v is None:
            return []
        return self._snapshot(v)["dropped"]

    def _guard_col_mutation(self, logical: str) -> None:
        """Shared preconditions for rename/drop: the key column and any
        column a CHECK constraint or generated-column formula references
        are immovable (Delta blocks exactly these), because their
        expressions/joins are written against the name."""
        key = self.key or self._manifest_key()
        if logical == key:
            raise ValueError(
                f"cannot rename/drop the key column {logical!r}: deletion "
                "vectors, MERGE, and upsert join on it by name"
            )
        if logical in self.partition_cols():
            raise ValueError(
                f"cannot rename/drop partition column {logical!r}: the "
                "manifest's per-segment partition values are keyed on it"
            )
        pat = re.compile(rf"\b{re.escape(logical)}\b")
        for name, expr in self.constraints().items():
            if pat.search(expr):
                raise ValueError(
                    f"column {logical!r} is referenced by CHECK constraint "
                    f"{name!r} ({expr}); drop the constraint first"
                )
        for col, expr in self.generated_columns().items():
            if col == logical or pat.search(expr):
                raise ValueError(
                    f"column {logical!r} is a generated column or referenced "
                    f"by generated column {col!r} ({expr}); drop the "
                    "generation rule first"
                )

    def _manifest_key(self) -> str:
        v = self.current_version()
        if v is None:
            return ""
        return self._snapshot(v)["key"]

    def _logical_columns(self) -> list[str]:
        """Current logical schema's column names (physical schema with
        drops removed and renames applied)."""
        renames, dropped = self.renames(), set(self.dropped_columns())
        phys = self._read_segments_schema_cols()
        return [renames.get(c, c) for c in phys if c not in dropped]

    def _read_segments_schema_cols(self) -> list[str]:
        """Physical column names of the head version: the recorded
        schema's, or the footer union of a pre-scalar version."""
        m = self._snapshot(self.current_version())
        if m.get("schema") is not None:
            return [f["name"] for f in m["schema"]["fields"]]
        return self._read_segments(m["segments"], {}, None).columns

    def rename_column(self, old: str, new: str) -> int:
        """ALTER TABLE RENAME COLUMN, metadata-only — Delta's column
        mapping: no data file is touched (at 100 TB a rename that rewrote
        the table would be an outage), the manifest records
        ``physical → logical`` and every read/write surface translates at
        the boundary. Blocked for the key column and columns referenced by
        CHECK constraints or generated-column formulas (Delta's rule).
        ``new`` must not collide with any live logical OR physical name —
        physical names are forever (old segments carry them), so reusing
        one would make mergeSchema conflate two different columns."""
        if not self.exists():
            raise FileNotFoundError(f"no table at {self.root}")
        self._guard_col_mutation(old)
        logical = self._logical_columns()
        if old not in logical:
            raise KeyError(f"no column {old!r} (have {logical})")
        if new in logical:
            raise ValueError(f"column {new!r} already exists")
        renames, dropped = self.renames(), self.dropped_columns()
        phys_live = set(self._read_segments_schema_cols()) | set(dropped)
        inv = {log: phy for phy, log in renames.items()}
        phys_of_old = inv.get(old, old)
        if new in phys_live and new != phys_of_old:
            raise ValueError(
                f"{new!r} is the physical storage name of another column; "
                "pick a different name (physical names are immutable)"
            )
        renames = dict(renames)
        if new == phys_of_old:  # renaming back to the stored name
            renames.pop(phys_of_old, None)
        else:
            renames[phys_of_old] = new
        return self._transact(
            lambda v: self._segments(v - 1),
            meta={"rename_column": [old, new]},
            base_version=self.current_version(),
            planes={"renames": renames, "dropped": dropped},
        )

    def drop_column(self, col: str) -> int:
        """ALTER TABLE DROP COLUMN, metadata-only: the column vanishes from
        the logical schema instantly; the stored bytes die lazily as
        rewrites purge them (any compact / DML rewrite writes the logical
        schema, so purging is free where it matters). The name stays
        reserved — re-adding it would resurrect old segments' bytes via
        schema merge."""
        if not self.exists():
            raise FileNotFoundError(f"no table at {self.root}")
        self._guard_col_mutation(col)
        logical = self._logical_columns()
        if col not in logical:
            raise KeyError(f"no column {col!r} (have {logical})")
        renames, dropped = dict(self.renames()), list(self.dropped_columns())
        inv = {log: phy for phy, log in renames.items()}
        phys = inv.get(col, col)
        renames.pop(phys, None)
        dropped.append(phys)
        return self._transact(
            lambda v: self._segments(v - 1),
            meta={"drop_column": col},
            base_version=self.current_version(),
            planes={"renames": renames, "dropped": dropped},
        )

    def _to_physical(self, df: DataFrame) -> DataFrame:
        """Translate a LOGICAL frame (public input) to PHYSICAL storage
        names. Idempotent on already-physical frames. Rejects columns that
        collide with reserved physical names (a renamed column's storage
        name, or a dropped column's name) — writing them would conflate
        distinct columns at schema-merge time."""
        renames, dropped = self.renames(), self.dropped_columns()
        if not renames and not dropped:
            return df
        inv = {log: phy for phy, log in renames.items()}
        cols = []
        for c in df.columns:
            if c in dropped:
                raise ValueError(
                    f"column {c!r} was dropped from {self.root}; the name "
                    "is reserved (old segments still store those bytes) — "
                    "use a new name"
                )
            if c in renames and renames[c] != c and c not in inv:
                raise ValueError(
                    f"column {c!r} is the physical storage name of renamed "
                    f"column {renames[c]!r}; write it as {renames[c]!r}"
                )
            cols.append(F.col(c).alias(inv.get(c, c)))
        return df.select(cols)

    @staticmethod
    def _to_logical_static(
        df: DataFrame, renames: dict[str, str], dropped: list[str]
    ) -> DataFrame:
        if not renames and not dropped:
            return df
        cols = [
            F.col(c).alias(renames.get(c, c))
            for c in df.columns
            if c not in dropped
        ]
        return df.select(cols)

    def _to_logical(self, df: DataFrame) -> DataFrame:
        """Translate a PHYSICAL frame to the HEAD logical schema."""
        return self._to_logical_static(df, self.renames(), self.dropped_columns())

    def _pred_to_physical(self, predicate: dict | None) -> dict | None:
        """Map a logical predicate's column names to physical (stats,
        bloom sidecars, and stored files are all keyed physically)."""
        if not predicate:
            return predicate
        inv = {log: phy for phy, log in self.renames().items()}
        if not inv:
            return predicate
        return {inv.get(c, c): b for c, b in predicate.items()}

    def drop_constraint(self, name: str) -> int:
        """ALTER TABLE DROP CONSTRAINT: metadata-only commit without it."""
        cons = self.constraints()
        if name not in cons:
            raise KeyError(f"no constraint {name!r} on {self.root}")
        cons = {k: v for k, v in cons.items() if k != name}
        return self._transact(
            lambda v: self._segments(v - 1),
            planes={"constraints": cons},
            base_version=self.current_version(),
        )

    # -- schema-scalar backfill (round-12 ask #3) -----------------------------

    def _harvest_schema(self, snap: dict) -> dict | None:
        """PHYSICAL footer-union schema of ``snap``'s segments as a
        StructType.jsonValue dict — the exact content write paths stage
        into the manifest ``schema`` scalar, derived once from the parquet
        footers (mergeSchema: one Spark job per call, reading every
        segment's footer). None for a zero-segment snapshot (nothing to
        derive from)."""
        segments = snap.get("segments") or []
        if not segments:
            return None
        return self._read_segments(segments, {}, None).schema.jsonValue()

    def backfill_schema(self) -> int | None:
        """Seed the manifest ``schema`` scalar on a PRE-SCALAR table
        (written before the scalar plane existed) with the parquet-footer
        union — a METADATA-ONLY commit, no data rewrite. Pre-scalar tables
        otherwise stay schema-UNKNOWN until a full rewrite: the write
        lanes refuse to seed from a targeted commit's staged footers
        (which cover only the touched segments — seeding a subset would
        physically drop evolved columns from later DML rewrites), so the
        footer union over ALL segments is the only safe seed, and this op
        is where it happens exactly once. After it, logical-schema
        planning is O(1) (dml._logical_schema fast path) and the data
        source's cold plan skips the footer walk (load_scalars /
        schema-from-scalar).

        Returns the new version, or None when the scalar is already
        present (no commit — idempotent). The commit is a pure-metadata
        delta (no segments added or removed; the change feed classifies
        it as a no-op)."""
        v = self.current_version()
        if v is None:
            raise FileNotFoundError(
                f"table {self.root} has no committed version"
            )
        snap = self._snapshot(v)
        if snap.get("schema") is not None:
            return None
        harvested = self._harvest_schema(snap)
        if harvested is None:
            return None  # zero segments: nothing to derive, nothing to fix
        return self._transact(
            lambda w: self._segments(w - 1),
            meta={"backfill_schema": True},
            base_version=v,
            planes={"schema": harvested},
        )


    # -- clone / detail ------------------------------------------------------

    @staticmethod
    def _link_tree(src: str, dst: str, deep: bool) -> None:
        for dirpath, _dirnames, filenames in os.walk(src):
            rel = os.path.relpath(dirpath, src)
            tgt = dst if rel == "." else os.path.join(dst, rel)
            os.makedirs(tgt, exist_ok=True)
            for fn in filenames:
                s, d = os.path.join(dirpath, fn), os.path.join(tgt, fn)
                if deep:
                    shutil.copy2(s, d)
                else:
                    try:
                        os.link(s, d)
                    except OSError:
                        shutil.copy2(s, d)  # cross-device: degrade to copy

    def clone(
        self,
        dst_root: str,
        version: int | None = None,
        deep: bool = False,
    ) -> "TableStore":
        """CLONE (Delta's CREATE TABLE ... [SHALLOW|DEEP] CLONE): an
        independent table born from one source version. Shallow clones
        hardlink the immutable segment files — O(files) metadata ops and
        zero data copy on one filesystem (cross-device silently degrades
        to copies), the local-FS analog of Delta's by-reference shallow
        clone. Deep copies the bytes. The clone starts at version 0
        carrying the source version's segments, per-segment stats, Bloom
        sidecars (they live inside the linked segment dirs), live deletion
        vectors, key, CHECK constraints, generated columns, and column
        mapping (renames/drops); ``meta`` records the provenance. Writes, compaction, and vacuum on either side never
        disturb the other: segments are immutable, and hardlink refcounts
        keep shared files alive until BOTH tables drop them."""
        v = self.current_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"table {self.root} has no committed version")
        m = self._snapshot(v)
        from lakehouse_spark.mutation.store import TableStore

        dst = TableStore(
            self.spark,
            dst_root,
            key=self.key or m.get("key", ""),
            stats_cols=self.stats_cols,
            write_cdf=self.write_cdf,
            bloom_cols=self.bloom_cols,
        )
        if dst.exists():
            raise ValueError(f"clone target {dst_root} is already a table")
        live_dv = m.get("dv", {})
        # Everything carried is RENAMED into the clone's version-0
        # namespace: source segment names embed SOURCE version numbers
        # (_seg000005), and the clone starts at version 0 — its own later
        # commits would claim those very names and overwrite the linked
        # dirs (clobbering the clone's v0 while the source keeps its own
        # hardlinks — a silently wrong clone). _seg000000_<i> /
        # _dv000000_<i> parse as v0 artifacts for vacuum and can never be
        # re-claimed: _write_segment only emits names for versions >= 1 on
        # a table that already has a version 0.
        seg_map = {
            s: ("_seg000000" if i == 0 else f"_seg000000_{i}")
            for i, s in enumerate(m["segments"])
        }
        dv_map = {n: f"_dv000000_{j}" for j, n in enumerate(live_dv)}
        for src_name, dst_name in {**seg_map, **dv_map}.items():
            self._link_tree(
                os.path.join(self.root, src_name),
                os.path.join(dst_root, dst_name),
                deep,
            )

        # partition_by rides through _transact's creation path (a fresh
        # table records the instance's value), so the clone partitions
        # exactly like its source from version 0 on.
        dst.partition_by = tuple(m.get("partition_by", []))

        def _segments(_v: int) -> list[str]:
            # Seed carried state INSIDE the transaction so _transact's
            # abort-cleanup snapshot (taken at txn start) doesn't classify
            # it as leftovers from a previous attempt.
            for s, st in m.get("stats", {}).items():
                if s in seg_map:
                    dst._pending_stats[seg_map[s]] = st
            for s, p in m.get("partitions", {}).items():
                if s in seg_map:
                    dst._pending_parts[seg_map[s]] = p
            for n, ap in live_dv.items():
                dst._pending_dv[dv_map[n]] = [
                    seg_map[s] for s in ap if s in seg_map
                ]
            return [seg_map[s] for s in m["segments"]]

        dst._transact(
            _segments,
            meta={"cloned_from": self.root, "source_version": v},
            planes={
                k: m[k]
                for k in (
                    "constraints", "generated", "renames", "dropped", "schema"
                )
            },
        )
        return dst

    def detail(self) -> dict:
        """DESCRIBE DETAIL: one dict summarizing the table at HEAD —
        version, segment/deletion-vector counts, on-disk bytes of live
        segments, stats/bloom coverage, constraints, and key column."""
        v = self.current_version()
        if v is None:
            raise FileNotFoundError(f"table {self.root} has no committed version")
        m = self._snapshot(v)
        size = 0
        n_files = 0
        for s in m["segments"]:
            for dirpath, _d, files in os.walk(os.path.join(self.root, s)):
                for fn in files:
                    if fn.endswith(".parquet"):
                        n_files += 1
                    size += os.path.getsize(os.path.join(dirpath, fn))
        stats = m.get("stats", {})
        return {
            "location": self.root,
            "version": v,
            "key": m.get("key", ""),
            "num_segments": len(m["segments"]),
            "num_data_files": n_files,
            "size_bytes": size,
            "num_deletion_vectors": len(m.get("dv", {})),
            "constraints": dict(m.get("constraints", {})),
            "stats_columns": sorted(
                {c for st in stats.values() for c in st}
            ),
            "segments_with_stats": sum(1 for s in m["segments"] if s in stats),
            "generated": dict(m.get("generated", {})),
            "renames": dict(m.get("renames", {})),
            "dropped": list(m.get("dropped", [])),
            "partition_by": list(m.get("partition_by", [])),
            "num_partitions": len(
                {
                    json.dumps(p, sort_keys=True, default=str)
                    for p in m.get("partitions", {}).values()
                }
            ),
            "meta": m.get("meta", {}),
        }

