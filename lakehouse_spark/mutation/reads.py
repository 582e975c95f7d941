"""Read plane of :class:`~lakehouse_spark.mutation.store.TableStore`:
snapshot reads with stats/partition/bloom pruning, the Change Data Feed
(commit_kind / materialize_cdf / changes), and version diff. Split out of
store.py.
"""

from __future__ import annotations

import json
import os
import shutil
import threading

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from lakehouse_spark.mutation.manifest import (
    _predicate_expr,
    _segment_may_match,
    load_snapshot_pruned,
)
from lakehouse_spark.session import local_frame


# Warm snapshots at or under this many segments keep the zero-IO
# in-memory selection loop; above it (or cold) the shard-bounds route is
# cheaper per statement. Shared by read() and _dml_manifest.
_WARM_PRUNE_MIN_SEGS = 4096


def _logical_recorded_schema(manifest: dict) -> StructType | None:
    """``manifest``'s recorded schema presented LOGICALLY (renames
    applied, dropped columns filtered, every field nullable: evolved
    columns read null in older segments) — the columns its reads
    present; None for a pre-scalar version."""
    sj = manifest.get("schema")
    if sj is None:
        return None
    renames = manifest.get("renames", {})
    dropped = manifest.get("dropped", [])
    fields = [
        {**f, "name": renames.get(f["name"], f["name"]), "nullable": True}
        for f in sj["fields"]
        if f["name"] not in dropped
    ]
    return StructType.fromJson({"type": "struct", "fields": fields})


class ReadsMixin:
    """read()/_read_segments, CDF, diff."""

    def _warm_seg_count(self, v: int) -> int | None:
        """Segment count of version ``v`` if this instance has it
        materialized (snapshot cache or head mirror), else None (cold)."""
        cache = getattr(self, "_snap_cache", None) or {}
        if v in cache:
            return len(cache[v]["segments"])
        head = getattr(self, "_head", None)
        if head is not None and head.get("version") == v:
            return len(head["segments"])
        return None

    def _try_pruned(self, v: int, predicate: dict):
        """load_snapshot_pruned with a per-instance NEGATIVE-result memo:
        when the chain walk finds no sharded checkpoint under ``v`` (young
        table, legacy monolithic checkpoint), remember it and skip the
        re-walk — retrying only after a version where a new (always
        sharded) checkpoint could have been written, i.e. the next
        checkpoint_interval boundary. Without the memo every statement on
        such a table re-parsed the chain (or a whole monolithic
        checkpoint) from disk just to fall back to the cached snapshot."""
        from lakehouse_spark.mutation.manifest import load_snapshot_pruned

        miss = getattr(self, "_prune_miss_v", None)
        if miss is not None:
            interval = max(1, getattr(self, "checkpoint_interval", 32) or 1)
            if v >= miss and v // interval == miss // interval:
                return None
        sc = getattr(self, "_shard_cache", None)
        if sc is None:
            sc = self._shard_cache = {}
        tok = getattr(self, "_prune_tok", 0)
        m = load_snapshot_pruned(self.root, v, predicate, shard_cache=sc)
        if m is None:
            # Store the miss only if no checkpoint landed DURING the walk
            # (the writer bumps _prune_tok after the file is visible) — a
            # stale miss would disable shard pruning for the interval.
            if getattr(self, "_prune_tok", 0) == tok:
                self._prune_miss_v = v
        else:
            self._prune_miss_v = None
        return m


    # -- reads ----------------------------------------------------------------

    def _dv_path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _scan_files(
        self, paths: list[str], schema: StructType | None
    ) -> DataFrame:
        """Read parquet ``paths`` against ``schema`` (a recorded schema:
        missing columns read as null, Delta's additive evolution, and
        planning launches no Spark job). ``schema`` None — a pre-scalar
        version, or _harvest_schema deriving the scalar — infers it:
        mergeSchema unions every footer in one Spark job per call;
        without it Spark would take ONE footer as the schema and
        silently drop columns other files added."""
        r = self.spark.read
        if schema is None:
            r = r.option("mergeSchema", "true")
        else:
            r = r.schema(schema)
        return r.parquet(*paths)

    def _read_segments(
        self,
        segments: list[str],
        dv: dict[str, list[str]],
        schema: dict | None,
    ) -> DataFrame:
        """Union the segments, applying deletion vectors with merge-on-read
        semantics: a dv's deleted keys mask ONLY the segments in its
        applies_to list, so rows re-inserted after the delete (they live in
        newer segments no dv covers) survive. Segments are grouped by the
        set of dvs covering them — one broadcast anti-join per group, and
        the group count is bounded by the dv count (compaction folds dvs
        away, resetting it). Each group's keys enter the plan as a
        LocalRelation built from the per-instance dv key cache
        (:meth:`_dv_keys`): no distinct shuffle, a one-task broadcast, and
        a key filter on the read folds into the relation at optimization
        time — a point read on a key no dv holds drops the anti-join.
        ``schema`` is the version's manifest ``schema`` scalar: its
        PHYSICAL footer union, recorded at write time (None for a version
        written before the scalar existed)."""
        # Segments may carry evolved schemas (append with new columns —
        # see append's schema note); _scan_files reads them all against
        # the recorded schema, or footer-unions a pre-scalar version.
        struct = None if schema is None else StructType.fromJson(schema)

        def _scan(segs: list[str]) -> DataFrame:
            return self._scan_files(
                [os.path.join(self.root, s) for s in segs], struct
            )

        cache = getattr(self, "_dv_key_cache", None)
        if cache and not cache.keys() <= dv.keys():
            self._dv_key_cache = {n: t for n, t in cache.items() if n in dv}
        live_dv = {
            n: set(ap) & set(segments)
            for n, ap in dv.items()
            if set(ap) & set(segments)
        }
        if not live_dv:
            return _scan(segments)
        groups: dict[tuple[str, ...], list[str]] = {}
        for s in segments:
            key = tuple(sorted(n for n, ap in live_dv.items() if s in ap))
            groups.setdefault(key, []).append(s)
        parts = []
        for names, segs in groups.items():
            df = _scan(segs)
            if names:
                # Deletes are small between compactions: broadcast the
                # keys so the anti-join never shuffles the data side.
                keys = self._dv_keys(names, df.schema[self.key])
                df = df.join(F.broadcast(keys), self.key, "left_anti")
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    def _key_relation(self, keys, field) -> DataFrame:
        """One-column Arrow table ``keys`` as a LocalRelation typed like
        ``field`` (nullable): real size statistics, so Spark broadcasts it
        with a one-task job — never shuffles it — and folds filters into
        it while optimizing."""
        return local_frame(
            self.spark,
            keys,
            StructType([StructField(field.name, field.dataType, True)]),
        )

    def _cache_dv_keys(self, name: str, keys):
        """Remember dv ``name``'s deleted keys (one-column Arrow table,
        deduplicated here) and return the cached table. Callers pass only
        COMMITTED dvs: a dv directory is immutable once its commit lands,
        but an aborted attempt's name can be claimed again by another
        writer."""
        import pyarrow as pa
        import pyarrow.compute as pc

        cache = getattr(self, "_dv_key_cache", None)
        if cache is None:
            cache = self._dv_key_cache = {}
        cache[name] = tbl = pa.table({self.key: pc.unique(keys.column(0))})
        return tbl

    def _dv_keys(self, names, field) -> DataFrame:
        """The deleted keys of dvs ``names`` as one LocalRelation. Each
        dv's key column is read once per instance (one Spark job, Spark's
        own type mapping) or seeded by the DML that wrote it, then served
        from the cache (:meth:`_read_segments` prunes it to the live dv
        names). Duplicate keys across dvs are harmless on an anti-join's
        build side, so the union needs no distinct. A racing prune may drop
        an entry another thread just cached: that costs a re-read, never a
        wrong mask."""
        import pyarrow as pa

        tables = []
        for n in names:
            tbl = (getattr(self, "_dv_key_cache", None) or {}).get(n)
            if tbl is None:
                tbl = self._cache_dv_keys(
                    n,
                    self._scan_files([self._dv_path(n)], StructType([field]))
                    .select(self.key)
                    .toArrow(),
                )
            tables.append(tbl)
        return self._key_relation(pa.concat_tables(tables), field)

    def _bloom_rules_out(self, seg: str, col: str, hashes, family) -> bool:
        """True when the segment's bloom sidecar PROVES none of the hashed
        values is present (no sidecar / non-probeable values / probe
        ``family`` not matching the sidecar's recorded value type → False:
        the segment stays). A bloom False is definitive — no false
        negatives — so ruling a segment out can never change results."""
        if hashes is None or hashes.size == 0:
            return False
        from lakehouse_spark.mutation.bloom import load_bloom, might_contain_any

        bloom = load_bloom(os.path.join(self.root, seg), col, family)
        if bloom is None:
            return False
        return not might_contain_any(bloom, hashes)

    def _segments_matching(self, manifest: dict, predicate: dict) -> list[str]:
        """The file selection of ``read()``, ``overwrite_where`` and
        ``delete_where``: the segments whose manifest stats, partition
        values and bloom sidecars each allow a row matching ``predicate``
        (PHYSICAL names). Equality and IN-set terms probe the blooms
        (effective where min/max is not: unclustered keys; an IN-set rules
        a segment out only when ALL values are absent). Each test only
        rules out segments provably without a match."""
        from lakehouse_spark.mutation.bloom import hash_values, probe_family

        probes = []
        for c, bounds in predicate.items():
            if isinstance(bounds, tuple):
                continue
            vals = (
                [v for v in bounds if v is not None]
                if isinstance(bounds, (list, set, frozenset))
                else [bounds]
            )
            if vals:  # an empty IN: stats pruning already empties it
                probes.append((c, hash_values(vals), probe_family(vals)))
        stats = manifest.get("stats", {})
        parts = manifest.get("partitions", {})
        return [
            s
            for s in manifest["segments"]
            if _segment_may_match(stats.get(s), predicate)
            and self._partition_may_match(parts.get(s), predicate)
            and not any(
                self._bloom_rules_out(s, c, hv, fam) for c, hv, fam in probes
            )
        ]

    def read(
        self,
        version: int | None = None,
        predicate: dict | None = None,
        as_of=None,
    ) -> DataFrame:
        """Read a version. ``predicate`` maps stats-tracked columns to a
        scalar (equality), ``(lo, hi)`` range (either bound None =
        unbounded), or a LIST of values (IN-membership): segments whose manifest min/max can't overlap are
        skipped before Spark ever lists their files — Delta-style data
        skipping at manifest scale, on top of parquet's own row-group
        pruning within the surviving segments. Equality predicates also
        probe per-segment Bloom sidecars when present (``bloom_cols``),
        which prunes point lookups even on unclustered layouts where every
        segment's min/max overlaps. The exact filter is still
        applied to the surviving rows, so
        ``read(predicate=p)`` ≡ ``read().filter(p)`` always; segments
        without stats (or columns not tracked) are conservatively kept.

        ``as_of`` (epoch seconds, datetime, or ISO-8601 string) is
        ``TIMESTAMP AS OF``: the snapshot is the latest version committed
        at or before that instant (see :meth:`version_at`). Mutually
        exclusive with ``version``."""
        if as_of is not None:
            if version is not None:
                raise ValueError("pass version= or as_of=, not both")
            version = self.version_at(as_of)
        v = self.current_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"table {self.root} has no committed version")
        manifest = None
        if predicate:
            # Cold predicate planning is O(matched shards), not O(table):
            # when this instance has no materialized snapshot of v (no
            # cache entry, no head mirror), plan from the two-level
            # checkpoint — parse only the shards whose recorded bounds
            # overlap the predicate. The partial snapshot is a provable
            # superset of the matching segments; the per-segment pruning
            # below still applies. Warm instances keep using the cached
            # full snapshot (1000x cheaper than any parse).
            # Warm-but-LARGE snapshots go through shard pruning too: the
            # full snapshot is a dict hit, but the per-segment selection
            # loop below is O(table) Python per statement — above the
            # threshold the shard-bounds route (list doc + matched shards,
            # both cached across statements) is cheaper. Small warm tables
            # keep the zero-IO path.
            warm_n = self._warm_seg_count(v)
            if warm_n is None or warm_n > _WARM_PRUNE_MIN_SEGS:
                manifest = self._try_pruned(v, predicate)
        if manifest is None:
            manifest = self._snapshot(v)
        segments = manifest["segments"]
        dv = manifest.get("dv", {})
        # Scalars ride shard-pruned manifests complete.
        schema = manifest.get("schema")
        # Column mapping: the snapshot presents ITS OWN logical schema
        # (names as of version v, like Delta column mapping); predicates
        # arrive logical and translate to physical for stats, blooms, and
        # the stored files.
        renames = manifest.get("renames", {})
        dropped = manifest.get("dropped", [])
        inv = {log: phy for phy, log in renames.items()}
        predicate = (
            {inv.get(c, c): b for c, b in predicate.items()}
            if predicate and inv
            else predicate
        )
        cond = None
        if predicate:
            segments = self._segments_matching(manifest, predicate)
            cond = _predicate_expr(predicate)

        def _logical(df: DataFrame) -> DataFrame:
            return self._to_logical_static(df, renames, dropped)

        def _all_segments() -> list[str]:
            # The UNPRUNED list — a shard-pruned manifest carries a
            # partial one, so the rare fallbacks materialize the full
            # snapshot.
            if manifest.get("pruned"):
                return self._snapshot(v)["segments"]
            return manifest["segments"]

        if predicate and not segments:
            # The version's schema: recorded, or else the unpruned
            # segments' footer union.
            empty = self._read_segments(
                [] if schema is not None else _all_segments(), dv, schema
            )
            out = empty if cond is None else empty.filter(cond)
            return _logical(out.limit(0))
        out = self._read_segments(segments, dv, schema)
        if cond is None:
            return _logical(out)
        if schema is None and any(c not in out.columns for c in predicate):
            # Pre-scalar version: pruning removed every segment that
            # carried a schema-evolved predicate column, so the
            # survivors' footer union can't even resolve the filter.
            # Fall back to the unpruned read so read(predicate=p) ≡
            # read().filter(p) holds exactly. (With the recorded schema
            # the pruned read already carries every column.)
            full = self._read_segments(_all_segments(), dv, None)
            return _logical(full.filter(cond))
        return _logical(out.filter(cond))


    def _cdc_path(self, v: int) -> str:
        return os.path.join(self.root, f"_cdc{v:06d}")

    def commit_kind(self, v: int) -> tuple[str, list[str]]:
        """Classify commit ``v`` from the manifests alone (no data read):
        ``("append", added_segments)`` when every prior segment is reused
        and deletion vectors are unchanged, ``("delete_dv", new_dv_names)``
        for a merge-on-read delete (segments untouched, dv added),
        ``("noop", [])`` for pointer-only commits (restore to an identical
        state), ``("rewrite", [])`` otherwise (upsert / merge / delete /
        overwrite / compact / mixed). O(1) for delta manifests (the delta
        IS the classification); full manifests diff against the previous
        snapshot."""
        from lakehouse_spark.mutation.manifest import commit_kind_from_files

        return commit_kind_from_files(self.root, v, snapshot=self._snapshot)

    def has_cdf(self, v: int) -> bool:
        """True when commit ``v``'s changes are readable without a snapshot
        diff: append/noop commits always are; rewrite commits once their
        ``_cdc`` dir is materialized."""
        return self.commit_kind(v)[0] != "rewrite" or os.path.isdir(
            self._cdc_path(v)
        )

    def materialize_cdf(
        self,
        v: int,
        _raw: dict | None = None,
        _prefinalize: bool = False,
    ) -> bool:
        """Compute and store commit ``v``'s change file (idempotent; no-op
        for append/noop commits, which need none). Returns True when a
        ``_cdc`` dir exists after the call. Write is atomic (tmp dir +
        rename), so a concurrent reader never sees a partial change file.
        ``_raw`` marks a claim-held COMMIT call and hands over the
        manifest doc the lane just wrote (no manifest file read inside
        the critical section). ``_prefinalize`` marks the delta-manifest
        commit's call BEFORE the manifest finalizes: there an
        already-existing dir is a crashed earlier claimant's poison (its
        content described THAT attempt's doc) and is strictly rewritten.
        Post-finalize callers — full-manifest commits and all
        recovery/repair paths — keep the idempotent short-circuit,
        which is sound for them because a finalized manifest implies
        its change file came from the same attempt (_recover_slot
        purges a stolen slot's debris to uphold exactly that; a dir
        appearing under a held claim post-finalize is a roll-forward
        racer's identical-content materialization).

        Requires manifest ``v-1`` (not yet vacuumed) on first
        materialization — the same retention constraint Delta places on
        CDF reads; once stored, the change file itself survives until
        :meth:`vacuum` drops version ``v``."""
        from lakehouse_spark.mutation.manifest import commit_kind_from_files

        if commit_kind_from_files(
            self.root, v, snapshot=self._snapshot, raw=_raw
        )[0] != "rewrite":
            return False
        dst = self._cdc_path(v)
        if os.path.isdir(dst):
            if not _prefinalize:
                # Idempotent short-circuit. Recovery/repair callers: a
                # finalized manifest implies a same-attempt change file
                # (_recover_slot purges stolen slots' debris).
                # Full-manifest commits materialize POST-finalize, so an
                # existing dir there can only be a roll-forward racer's
                # materialization of the SAME finalized manifest —
                # identical content; removing and recomputing it would
                # open a pointer-visible has_cdf=false window for the
                # duration of the diff job (pass-5 #2 / pass-6 #1).
                return True
            # PRE-finalize delta-manifest commits (no racer can exist — the
            # claim is held and nothing is finalized), so an existing
            # dir is a crashed earlier claimant's poison. STRICT
            # removal: publishing over any remnant would advance the
            # pointer to a version whose change file describes a
            # different attempt — better to abort this commit (the
            # zero-length claim is released by the caller's cleanup).
            shutil.rmtree(dst)
        tmp = f"{dst}.tmp.{os.getpid()}.{threading.get_ident()}"
        self._changes_one(v, raw=_raw).write.mode("overwrite").parquet(tmp)
        try:
            os.replace(tmp, dst)  # atomic publish; loser of a race cleans up
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.isdir(dst):
                raise
        return True

    def _changes_one(self, v: int, raw: dict | None = None) -> DataFrame:
        """Row-level changes of the single commit ``v``. DELTA-manifest
        rewrites (targeted DML, compaction, overwrite) take the RESTRICTED
        diff — only the commit's touched segments are read, O(affected)
        data, which is what lets ``write_cdf=True`` stores keep the delta
        commit's O(affected) per-statement cost (round-12 ask #1).
        FULL-manifest rewrites (restore, reordering rebases) keep the
        whole-snapshot diff."""
        from lakehouse_spark.mutation.manifest import read_manifest_file

        if raw is None:
            raw = read_manifest_file(self.root, v)
        if "segments" not in raw:
            return self._changes_delta(v, raw)
        return self._diff_versions(v)

    def _diff_versions(self, v: int) -> DataFrame:
        """Keyed full-outer snapshot diff of ``v-1`` vs ``v`` (see
        :meth:`changes` for semantics). Version 0 has no predecessor: its
        visible rows are all inserts (a clone's version 0 carries the
        source's live deletion vectors, so it is not a plain append)."""
        cur = self.read(v)
        if v == 0:
            return cur.select(
                "*",
                F.lit("insert").alias("_change_type"),
                F.lit(v).alias("_commit_version"),
            )
        return self._diff_frames(self.read(v - 1), cur, v)

    def _changes_delta(self, v: int, raw: dict) -> DataFrame:
        """Restricted diff for a DELTA-manifest rewrite: under the store's
        keyed contract (one visible row per key per snapshot — the same
        assumption the full rewrite diff makes, see :meth:`changes`), a
        key whose visible row changed in commit ``v`` must have its
        pre-image in a segment this commit removed or newly dv-masked,
        and its post-image in a segment this commit added (or a retained
        segment whose dv coverage changed) — an untouched segment's rows
        are bit-identical on both sides and cancel in the fingerprint
        diff. So diff ONLY the touched segments' visible rows: the same
        output as the full snapshot diff, reading O(affected) data. The
        touched set is a provable SUPERSET (extra segments only add
        identical rows to both sides)."""
        prev_snap = self._snapshot(v - 1)
        prev_segs = prev_snap["segments"]
        prev_live = set(prev_segs)
        prev_dv = prev_snap.get("dv", {})
        removed = set(raw.get("remove", ()))
        added = list(raw.get("add", ()))
        dv_set = raw.get("dv_set", {})
        dv_unset = list(raw.get("dv_unset", ()))
        touched: set = set(removed) | set(added)
        for n, ap in dv_set.items():
            touched |= set(ap)  # newly masked rows -> deletes
            touched |= set(prev_dv.get(n, ()))  # re-set name: old coverage
        for n in dv_unset:
            # Unsetting a dv makes its masked rows visible again unless the
            # segments are gone — include them so reappearances surface.
            touched |= set(prev_dv.get(n, ()))
        # Iterate the TOUCHED set, not the table's segment list: the whole
        # point is O(affected) per statement, including driver CPU at
        # 10^5-10^6 segments (segment order is irrelevant to a keyed
        # diff). Sorted for deterministic plans.
        added_set = set(added)
        pre_segs = sorted(s for s in touched if s in prev_live)
        post_touched = sorted(
            s
            for s in touched
            if (s in prev_live and s not in removed) or s in added_set
        )
        post_dv = {n: ap for n, ap in prev_dv.items() if n not in dv_unset}
        post_dv.update(dv_set)
        # Logical presentation: v-1's column mapping is v's unless the doc
        # carries one (rename_column / drop_column write it in the delta).
        renames = raw.get("renames", prev_snap.get("renames", {}))
        dropped = raw.get("dropped", prev_snap.get("dropped", []))

        def _side(segs: list[str], dv: dict, sj: dict | None):
            if not segs:
                return None
            return self._to_logical_static(
                self._read_segments(segs, dv, sj),
                renames,
                dropped,
            )

        pre = _side(pre_segs, prev_dv, prev_snap.get("schema"))
        post = _side(
            post_touched, post_dv, raw.get("schema", prev_snap.get("schema"))
        )
        tag = F.lit(v).alias("_commit_version")
        if pre is None and post is None:
            # v-1, not v: on the commit path this runs BEFORE manifest
            # ``v`` is finalized (and a both-empty rewrite can't change
            # the schema — a full replace always has a pre side).
            empty = self.read(v - 1).limit(0)
            return empty.select(
                "*", F.lit("insert").alias("_change_type"), tag
            ).limit(0)
        if pre is None:
            return post.select("*", F.lit("insert").alias("_change_type"), tag)
        if post is None:
            return pre.select("*", F.lit("delete").alias("_change_type"), tag)
        return self._diff_frames(pre, post, v)

    def _diff_frames(self, prev: DataFrame, cur: DataFrame, v: int) -> DataFrame:
        """The diff core shared by the full and restricted paths: null-safe
        key join, canonical-fingerprint changed-ness, Delta change-feed
        row shapes."""

        def _fp(df: DataFrame):
            # Canonical row fingerprint: sorted-column JSON → xxhash64.
            # to_json drops null fields, so a column going null reads the
            # same as the column not existing — exactly the union-read
            # semantics of schema evolution (missing column ≡ null).
            return F.xxhash64(
                F.to_json(F.struct(*[F.col(c) for c in sorted(df.columns)]))
            )

        tag = F.lit(v).alias("_commit_version")
        p = prev.select(
            F.col(self.key).alias("__k"),
            _fp(prev).alias("__fp_pre"),
            F.struct(*prev.columns).alias("__pre"),
        )
        c = cur.select(
            F.col(self.key).alias("__k"),
            _fp(cur).alias("__fp_post"),
            F.struct(*cur.columns).alias("__post"),
        )
        d = p.join(c, p["__k"].eqNullSafe(c["__k"]), "full_outer")
        changed = d.filter(
            F.col("__fp_pre").isNull()
            | F.col("__fp_post").isNull()
            | (F.col("__fp_pre") != F.col("__fp_post"))
        )
        pieces = []
        for side, when_other, ctype in (
            ("__pre", "__fp_post", "delete"),
            ("__post", "__fp_pre", "insert"),
        ):
            pieces.append(
                changed.filter(F.col(when_other).isNull())
                .select(f"{side}.*")
                .select("*", F.lit(ctype).alias("_change_type"), tag)
            )
        both = changed.filter(
            F.col("__fp_pre").isNotNull() & F.col("__fp_post").isNotNull()
        )
        for side, ctype in (
            ("__pre", "update_preimage"),
            ("__post", "update_postimage"),
        ):
            pieces.append(
                both.select(f"{side}.*")
                .select("*", F.lit(ctype).alias("_change_type"), tag)
            )
        out = pieces[0]
        for pc in pieces[1:]:
            out = out.unionByName(pc, allowMissingColumns=True)
        return out

    def changes(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Delta-style change data feed, computed on demand: every row-level
        change committed in versions ``from_version..to_version`` (both
        inclusive; ``to_version`` defaults to the head). Output = the table
        columns plus ``_change_type`` ('insert' / 'delete' /
        'update_preimage' / 'update_postimage') and ``_commit_version``.

        Cost shape per version step, chosen from the manifests alone:

        - **append commits** (every prior segment reused) are O(new rows):
          the added segments ARE the inserts — read just them, no join, no
          old-data scan. A 100 TB table ingesting via appends gets its
          change feed for free.
        - **rewrite commits** (upsert / merge / delete / restore /
          overwrite) pay one keyed full-outer diff of the two adjacent
          snapshots — a single shuffle join on the key, the same O(table)
          the rewrite itself paid. Row identity is null-safe on the key;
          changed-ness compares a canonical JSON fingerprint of each side's
          full row, so schema-evolved columns count as changes.
        - **no-op rewrites** (compact / OPTIMIZE / a restore to an
          identical state) emit nothing — layout changes are not data
          changes, exactly like Delta's CDF.

        Relationship to :meth:`diff`: diff compares exactly TWO versions
        with multiset except-both-ways semantics (no per-commit
        attribution, duplicates surface as count changes); changes walks
        every commit in the range and attributes each row-level change to
        its commit with update pre/post images — Delta's
        ``table_changes(...)`` contract. The rewrite-diff path assumes the
        store's keyed contract (one row per key per snapshot); duplicate
        keys introduced by raw appends are fine on the append path but
        would fan out a rewrite diff.

        Raises FileNotFoundError if a needed manifest was vacuumed: the
        feed needs version v-1 to describe v (Delta has the same
        retention-window constraint on CDF reads) — unless the commit's
        change file was materialized (``write_cdf=True`` or
        :meth:`materialize_cdf`), in which case the stored file is read
        directly."""
        head = self.current_version()
        if head is None:
            raise FileNotFoundError(f"table {self.root} has no committed version")
        to_version = head if to_version is None else to_version
        if not 0 <= from_version <= to_version <= head:
            raise ValueError(
                f"invalid change range [{from_version}, {to_version}] "
                f"(head is {head})"
            )

        pieces: list[DataFrame] = []
        for v in range(from_version, to_version + 1):
            tag = F.lit(v).alias("_commit_version")
            kind, added = self.commit_kind(v)
            if kind == "noop":
                continue  # pointer-only commit (e.g. restore to self)
            if kind == "delete_dv":
                # The dv file IS the delete pre-image set — O(deleted) read.
                # _to_logical: stored files carry names as written
                # (physical for segments; dv/cdc carry write-time names —
                # a dv holds rows of v's logical schema), the feed speaks
                # the current logical schema.
                rows = self._to_logical(
                    self._scan_files(
                        [self._dv_path(n) for n in added],
                        _logical_recorded_schema(self._snapshot(v)),
                    )
                )
                pieces.append(
                    rows.select("*", F.lit("delete").alias("_change_type"), tag)
                )
                continue
            if kind == "append":
                inserts = self._to_logical(
                    self._read_segments(
                        added, {}, self._snapshot(v).get("schema")
                    )
                )
                pieces.append(
                    inserts.select(
                        "*", F.lit("insert").alias("_change_type"), tag
                    )
                )
                continue
            if os.path.isdir(self._cdc_path(v)):
                # Stored change file: O(changes) read, no snapshot diff —
                # and usable even after manifest v-1 was vacuumed.
                pieces.append(
                    self._to_logical(self.spark.read.parquet(self._cdc_path(v)))
                )
                continue
            pieces.append(self._changes_one(v))
        if not pieces:
            empty = self.read(to_version).limit(0)
            return empty.select(
                "*",
                F.lit("insert").alias("_change_type"),
                F.lit(to_version).alias("_commit_version"),
            ).limit(0)
        out = pieces[0]
        for pc in pieces[1:]:
            out = out.unionByName(pc, allowMissingColumns=True)
        return out


    def diff(self, v_from: int, v_to: int | None = None) -> DataFrame:
        """Change-data-feed between two versions: every row added or removed
        going from ``v_from`` to ``v_to`` (default: current), tagged with a
        ``_change`` column ('insert' / 'delete'). Multiset semantics
        (exceptAll both ways), so duplicate-row count changes surface too.

        Fast path for the append-only history: when ``v_to`` reuses every
        ``v_from`` segment (the append case), the diff reads ONLY the new
        segments — O(new rows), no exceptAll over the base. Rewrite commits
        (upsert/delete/compact) fall back to the two-sided exceptAll, which
        is what a Delta CDF reader must do without a change log either."""
        v_to = self.current_version() if v_to is None else v_to
        m_from = self._snapshot(v_from)
        m_to = self._snapshot(v_to)
        old_segs, new_segs = m_from["segments"], m_to["segments"]
        # The append fast path also requires UNCHANGED deletion vectors: a
        # dv commit reuses every segment but removes rows, which the
        # added-segments read would miss entirely.
        if (
            set(old_segs) <= set(new_segs)
            and m_from.get("dv", {}) == m_to.get("dv", {})
        ):
            added = [s for s in new_segs if s not in set(old_segs)]
            if not added:
                return self.read(v_from).limit(0).withColumn(
                    "_change", F.lit("insert")
                )
            # Read like read(): appended segments may have introduced new
            # columns, and a single-footer view would silently drop them
            # from the CDF.
            rows = self._to_logical(
                self._read_segments(added, {}, m_to.get("schema"))
            )
            return rows.withColumn("_change", F.lit("insert"))
        # Both sides in v_to's LOGICAL names (physical names are immutable,
        # so mapping the old snapshot with the new map is exact) — a diff
        # across a rename compares data, not column labels.
        ren, drp = m_to.get("renames", {}), m_to.get("dropped", [])
        old = self._to_logical_static(
            self._read_segments(
                old_segs, m_from.get("dv", {}), m_from.get("schema")
            ),
            ren,
            drp,
        )
        new = self._to_logical_static(
            self._read_segments(new_segs, m_to.get("dv", {}), m_to.get("schema")),
            ren,
            drp,
        )
        return (
            new.exceptAll(old).withColumn("_change", F.lit("insert"))
            .unionByName(
                old.exceptAll(new).withColumn("_change", F.lit("delete"))
            )
        )
