"""Physical-layout plane of :class:`~lakehouse_spark.mutation.store.TableStore`:
partitioned writes with exact manifest-value pruning, OPTIMIZE-style
compaction (plain / range-clustered / Z-ordered), and the small-files
heuristic. Split out of store.py.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class LayoutMixin:
    """Partitioning and compaction."""

    # -- partitioning (Delta's partitionBy) -----------------------------------

    def partition_cols(self) -> tuple[str, ...]:
        """The table's partition columns — the committed manifest's record
        wins over the constructor (so a second instance opened without the
        arg still partitions correctly); a conflicting constructor value is
        an error, not a silent re-partition. Changing the layout of a live
        table goes through :meth:`repartition_table` (which sets the
        in-transaction override consulted first here)."""
        pending = getattr(self, "_pending_partition_by", None)
        if pending is not None:
            return pending
        v = self.current_version()
        if v is None:
            return self.partition_by
        committed = tuple(self._snapshot(v)["partition_by"])
        if self.partition_by and committed != self.partition_by:
            raise ValueError(
                f"table {self.root} is partitioned by {list(committed)}, "
                f"constructor said {list(self.partition_by)}; use "
                "repartition_table() to change a live table's layout"
            )
        return committed

    def repartition_table(
        self, new_cols: tuple[str, ...] | list[str], meta: dict | None = None
    ) -> int:
        """Partition evolution: re-lay the LIVE table out by ``new_cols``
        (empty tuple = un-partition) as ONE versioned full rewrite — the
        explicit analog of Delta/Iceberg REPLACE TABLE ... PARTITIONED BY.

        Contract (pytest-pinned):

        - history is preserved — every earlier version still time-travels
          with ITS OWN layout (each manifest carries its own partition_by
          and per-segment values), and under ``write_cdf`` the rewrite
          materializes an empty change set (same rows, new files), so CDF
          consumers see no phantom changes;
        - later writes split/prune on the NEW columns;
        - blocked when column mapping would orphan a partition column: a
          renamed column (logical ≠ physical) is rejected — per-segment
          partition values and the rename guard key on the name being
          stable — and a dropped/unknown column fails the existence check;
        - snapshot-conflict-safe: derived from the version it read
          (``base_version``), so an interleaved commit raises
          :class:`~lakehouse_spark.mutation.manifest.ConcurrentWriteError`
          instead of being clobbered.

        Cost: O(table) — one read + one partition-split write, exactly
        what re-laying data out requires. Returns the new version (or the
        current one when ``new_cols`` already matches — no empty commit).
        """
        new_cols = tuple(new_cols)
        v0 = self.current_version()
        if v0 is None:
            raise FileNotFoundError(
                f"table {self.root} has no committed version"
            )
        if new_cols == self.partition_cols():
            return v0
        snapshot = self.read(v0)  # logical columns, deletion vectors applied
        missing = [c for c in new_cols if c not in snapshot.columns]
        if missing:
            raise KeyError(
                f"partition column(s) {missing} not in table columns "
                f"{snapshot.columns}"
            )
        inv = {log: phy for phy, log in self.renames().items()}
        mapped = [c for c in new_cols if inv.get(c, c) != c]
        if mapped:
            raise ValueError(
                f"cannot partition by renamed column(s) {mapped}: column "
                "mapping would orphan the manifest's partition values "
                "(they are keyed by the stable name); compact the rename "
                "away or partition by an unmapped column"
            )
        self._pending_partition_by = new_cols
        try:
            v = self._transact(
                lambda nv: self._write_partitioned(snapshot, nv),
                meta=meta or {"repartitioned_to": list(new_cols)},
                base_version=v0,
                planes={"partition_by": list(new_cols)},
            )
        finally:
            self._pending_partition_by = None
        # Future writes from THIS instance follow the committed layout;
        # a stale ctor value would otherwise trip the drift check above.
        self.partition_by = new_cols
        return v

    def _write_partitioned(self, df: DataFrame, v: int) -> list[str]:
        """Write ``df`` as one segment per live partition-value tuple
        (single unsuffixed segment when the table isn't partitioned).
        Records each segment's exact partition values for manifest-level
        pruning and partition-wise compaction. Cost: one distinct() over
        the partition columns plus one filtered write per value tuple, off
        a persisted input — bounded by ``max_partitions_per_commit``, the
        same 'commits touch few partitions' contract Delta's layout
        assumes."""
        pcols = self.partition_cols()
        if not pcols:
            return [self._write_segment(df, v)]
        missing = [c for c in pcols if c not in df.columns]
        if missing:
            raise ValueError(
                f"write to {self.root} is missing partition column(s) "
                f"{missing}; partitioned tables require them on every row"
            )
        cap = self.max_partitions_per_commit
        cached = df.persist()  # distinct + per-value filters share one compute
        try:
            combos = cached.select(*pcols).distinct().limit(cap + 1).collect()
            if len(combos) > cap:
                raise ValueError(
                    f"commit touches more than {cap} distinct partition "
                    f"values of {list(pcols)}; partition by a lower-"
                    "cardinality column or raise max_partitions_per_commit"
                )
            if not combos:
                # Empty write: on the FIRST commit, one empty segment holds
                # the schema; afterwards, adding a value-less segment would
                # only burden every partition-pruned read and DML (no
                # partition entry → conservatively kept/touched forever).
                if self.current_version() is None:
                    return [self._write_segment(cached, v)]
                return []
            combos = sorted(
                (tuple(r[c] for c in pcols) for r in combos),
                key=lambda t: json.dumps(t, default=str),
            )
            segs = []
            for i, combo in enumerate(combos):
                cond = None
                for c, val in zip(pcols, combo):
                    term = F.col(c).eqNullSafe(F.lit(val))
                    cond = term if cond is None else (cond & term)
                seg = self._write_segment(
                    cached.filter(cond), v, part=i if len(combos) > 1 else None
                )
                self._pending_parts[seg] = dict(zip(pcols, combo))
                segs.append(seg)
            return segs
        finally:
            cached.unpersist()

    def partitions(self) -> list[dict]:
        """SHOW PARTITIONS: the live partition-value tuples with their
        segment counts, straight from the HEAD manifest — no data IO."""
        v = self.current_version()
        if v is None:
            raise FileNotFoundError(f"table {self.root} has no committed version")
        m = self._snapshot(v)
        out: dict[str, dict] = {}
        for s in m["segments"]:
            p = m.get("partitions", {}).get(s)
            if p is None:
                continue
            k = json.dumps(p, sort_keys=True, default=str)
            e = out.setdefault(k, {"values": p, "num_segments": 0})
            e["num_segments"] += 1
        return sorted(out.values(), key=lambda e: json.dumps(e["values"], default=str))

    @staticmethod
    def _canon_temporal(x):
        """A naive-comparable ``datetime`` for date/datetime/ISO-ish-string
        inputs, else None. Normalizes the two spellings the same instant
        arrives in — ``str(datetime)`` uses a space separator, ISO-8601
        uses 'T' — so pruning never compares them as raw strings (' '<'T'
        would wrongly prune)."""
        import datetime as _dt

        if isinstance(x, _dt.datetime):
            return x
        if isinstance(x, _dt.date):
            return _dt.datetime(x.year, x.month, x.day)
        if isinstance(x, str):
            try:
                return _dt.datetime.fromisoformat(x.replace(" ", "T"))
            except ValueError:
                return None
        return None

    @classmethod
    def _part_lt(cls, a, b) -> bool:
        """PROVABLY ``a < b`` for partition pruning; False whenever the
        ordering is ambiguous (pruning must stay conservative).

        The manifest stores date/timestamp partition values JSON-degraded
        to ``str(value)`` (space separator) while probe bounds arrive as
        ISO-'T' strings or date/datetime objects — raw string order
        compares ``' ' < 'T'`` and would wrongly prune the matching
        segment. Rules:

        - both strings, both parse temporally → prune only when the raw
          AND canonical orders agree (sound for degraded timestamps AND
          for genuine string columns holding timestamp-like text);
        - both strings, exactly one parses → ambiguous, keep;
        - string vs native temporal (TypeError) → canonical order alone
          (the probe type proves the column is temporal);
        - natively comparable → plain ``<``."""
        if isinstance(a, str) and isinstance(b, str):
            ca, cb = cls._canon_temporal(a), cls._canon_temporal(b)
            if ca is not None and cb is not None:
                try:
                    return ca < cb and a < b
                except TypeError:
                    return False  # aware vs naive: incomparable
            if ca is not None or cb is not None:
                return False  # temporal vs junk: proves nothing
            return a < b
        try:
            return a < b
        except TypeError:
            ca, cb = cls._canon_temporal(a), cls._canon_temporal(b)
            if ca is None or cb is None:
                return False
            try:
                return ca < cb
            except TypeError:
                return False

    @classmethod
    def _partition_may_match(cls, part: dict | None, predicate: dict) -> bool:
        """Exact manifest-value pruning for partitioned segments: a segment
        holds exactly one partition-value tuple, so an equality or range
        term on a partition column either matches it or provably doesn't.
        Segments without recorded values (pre-partitioning history) are
        kept — pruning must never change results."""
        if not part:
            return True
        for col, bounds in predicate.items():
            if col not in part:
                continue
            val = part[col]
            if val is None:
                continue  # null partition values are never pruned
            if isinstance(bounds, (list, set, frozenset)):
                # IN-set: keep the segment when ANY value may equal the
                # partition value ("may equal" = neither side provably
                # smaller — incomparable stays conservative).
                if not any(
                    not cls._part_lt(val, v) and not cls._part_lt(v, val)
                    for v in bounds
                    if v is not None
                ):
                    return False
                continue
            lo, hi = bounds if isinstance(bounds, tuple) else (bounds, bounds)
            if lo is not None and cls._part_lt(val, lo):
                return False
            if hi is not None and cls._part_lt(hi, val):
                return False
        return True


    def compact(
        self,
        zorder_by: tuple[str, ...] | None = None,
        bits: int = 8,
        n_segments: int = 8,
        range_by: str | None = None,
        where: dict | None = None,
    ) -> int:
        """OPTIMIZE analog: fold all live segments into one (append-heavy
        tables accumulate small segments; run this on a cadence).

        ``zorder_by=(col_a, col_b, ...)`` is OPTIMIZE ZORDER BY over any
        N >= 2 columns (Delta takes a column list too): rows are
        Morton-clustered on the N columns (operators.layout, per-dimension
        ``bits`` — N*bits must fit a signed long) and written as
        ``n_segments`` z-range-banded segments instead of one. Each band
        covers a compact hyper-rectangle of the N-D key space, so with the
        same columns in ``stats_cols`` the manifest's per-segment min/max
        lets ``read(predicate=...)`` skip most bands on a box predicate
        over ANY of the columns — manifest-level data skipping on top of
        the parquet row-group pruning the z-sort already buys. One full
        rewrite, same as Delta's OPTIMIZE; the banded writes read the keyed
        snapshot from a persisted cache, not n_segments recomputes of
        upstream lineage.

        ``range_by=col`` is single-column range clustering (any orderable
        type, strings included): rows land in ``n_segments`` contiguous
        bands of the column's value space, cut at sampled quantiles. This
        is the layout that makes the targeted-DML and
        :meth:`overwrite_where` paths O(affected files): after
        ``compact(range_by=key)``, a merge/upsert/delete whose source keys
        fall in one band rewrites one band.

        ``where`` (Delta's ``OPTIMIZE WHERE``, partitioned tables only;
        the :meth:`read` predicate dict form over partition columns)
        scopes the maintenance: only partitions whose recorded values may
        match are folded/clustered, everything else is carried by
        reference — so a daily job can optimize yesterday's partition
        without touching (or reading) the other 10 years."""
        if zorder_by is not None and range_by is not None:
            raise ValueError("pass zorder_by or range_by, not both")
        if zorder_by is not None and len(zorder_by) < 2:
            raise ValueError(
                "zorder_by needs at least two columns (one-column "
                "clustering is range_by=)"
            )
        v0 = self.current_version()
        pcols = self.partition_cols()
        if where is not None and not pcols:
            raise ValueError(
                "compact(where=...) scopes maintenance by PARTITION values; "
                "this table is unpartitioned (Delta's OPTIMIZE WHERE has "
                "the same restriction)"
            )
        if pcols:
            # Partition-wise: each partition folds/clusters independently
            # (Delta's OPTIMIZE [ZORDER BY] runs per partition too).
            return self._compact_partitions(
                v0,
                range_by=range_by,
                zorder_by=zorder_by,
                bits=bits,
                n_segments=n_segments,
                where=where,
            )
        if zorder_by is None and range_by is None:
            return self._rewrite(self.read(v0), base_version=v0)
        base = self.read(v0)
        if range_by is not None:
            keyed = base.withColumn("__z", F.col(range_by)).persist()
        else:
            from lakehouse_spark.operators.layout import zorder_key

            keyed = base.withColumn(
                "__z", zorder_key(base, *zorder_by, bits=bits)
            ).persist()
        try:
            n = max(1, n_segments)
            if range_by is not None:
                # Generic-type cut points from a bounded sample (
                # approxQuantile is numeric-only; a sorted ~100k-row sample
                # gives band edges for strings/dates too — edges shape
                # layout, never results, so sampling error only skews band
                # sizes).
                total = keyed.count()
                frac = min(1.0, 100_000 / max(total, 1))
                sample = sorted(
                    r[0]
                    for r in keyed.select("__z")
                    .dropna()
                    .sample(fraction=frac, seed=7)
                    .collect()
                )
                qs = (
                    [sample[len(sample) * i // n] for i in range(1, n)]
                    if sample
                    else []
                )
            else:
                qs = keyed.approxQuantile(
                    "__z", [i / n for i in range(1, n)], 0.001
                )
            bounds = sorted(set(qs))
            edges = [None, *bounds, None]  # half-open bands, ends unbounded

            def _bands(v: int) -> list[str]:
                segs = []
                for i in range(len(edges) - 1):
                    lo, hi = edges[i], edges[i + 1]
                    band = keyed
                    if lo is not None:
                        band = band.filter(F.col("__z") >= lo)
                    if hi is not None:
                        # NULL z (null zorder column) fails every range
                        # filter — route null rows into the FIRST band so
                        # the rewrite never loses them (Delta ZORDER keeps
                        # null rows too).
                        cond = F.col("__z") < hi
                        if lo is None:
                            cond = cond | F.col("__z").isNull()
                        band = band.filter(cond)
                    band = band.sortWithinPartitions("__z").drop("__z")
                    segs.append(self._write_segment(band, v, part=i))
                return segs

            meta = (
                {"range_by": range_by}
                if range_by is not None
                else {"zorder_by": list(zorder_by)}
            )
            return self._transact(_bands, meta=meta, base_version=v0)
        finally:
            keyed.unpersist()

    def _compact_partitions(
        self,
        v0: int,
        range_by: str | None = None,
        zorder_by: tuple[str, ...] | None = None,
        bits: int = 8,
        n_segments: int = 8,
        where: dict | None = None,
    ) -> int:
        """Partition-wise OPTIMIZE: fold each partition's segments, reading
        only that partition's files (never a cross-partition shuffle — at
        100 TB a partition is the unit of maintenance, like Delta's
        OPTIMIZE WHERE). Deletion vectors are applied during the fold and
        retired. Without a clustering arg, each partition folds to one
        segment and single-segment partitions with no outstanding dv are
        reused by reference (a no-op partition costs zero IO). With
        ``range_by``, each partition is rewritten as up to ``n_segments``
        contiguous bands of that column cut at sampled in-partition
        quantiles — the 'partition by day, cluster by key' layout that
        keeps targeted DML O(affected files) inside big partitions too.
        With ``zorder_by``, each partition is rewritten as Morton-key
        bands over the two columns (Delta's OPTIMIZE ZORDER BY runs per
        partition the same way), so 2-D box predicates prune bands
        WITHIN whatever the partition predicate already kept."""
        m = self._snapshot(v0)
        parts, dv = m.get("partitions", {}), m.get("dv", {})
        schema = m.get("schema")
        masked = {s for ap in dv.values() for s in ap}
        groups: dict[str, tuple[dict, list[str]]] = {}
        loose: list[str] = []  # segments without recorded values
        for s in m["segments"]:
            p = parts.get(s)
            if p is None:
                loose.append(s)
                continue
            k = json.dumps(p, sort_keys=True, default=str)
            groups.setdefault(k, (p, []))[1].append(s)

        clustered = range_by is not None or zorder_by is not None

        def _band_edges(df: DataFrame, key: str) -> list:
            """In-partition quantile cut points over ``key`` (generic
            orderable type, bounded sample — the compact(range_by=)
            approach; the Morton key is just a long and samples the same
            way)."""
            n = max(1, n_segments)
            total = df.count()
            frac = min(1.0, 100_000 / max(total, 1))
            sample = sorted(
                r[0]
                for r in df.select(key)
                .dropna()
                .sample(fraction=frac, seed=7)
                .collect()
            )
            qs = (
                [sample[len(sample) * i // n] for i in range(1, n)]
                if sample
                else []
            )
            return [None, *sorted(set(qs)), None]

        def _write_banded(df: DataFrame, v: int, i0: int, pvals) -> list[str]:
            if zorder_by is not None:
                from lakehouse_spark.operators.layout import zorder_key

                df, key, drop = df.withColumn(
                    "__z", zorder_key(df, *zorder_by, bits=bits)
                ), "__z", True
            else:
                key, drop = range_by, False
            df = df.persist()
            try:
                segs = []
                edges = _band_edges(df, key)
                for j in range(len(edges) - 1):
                    lo, hi = edges[j], edges[j + 1]
                    band = df
                    if lo is not None:
                        band = band.filter(F.col(key) >= lo)
                    if hi is not None:
                        cond = F.col(key) < hi
                        if lo is None:  # nulls ride in the first band
                            cond = cond | F.col(key).isNull()
                        band = band.filter(cond)
                    band = band.sortWithinPartitions(key)
                    if drop:
                        band = band.drop(key)
                    seg = self._write_segment(band, v, part=i0 + j)
                    if pvals is not None:
                        self._pending_parts[seg] = pvals
                    segs.append(seg)
                return segs
            finally:
                df.unpersist()

        # OPTIMIZE WHERE scope: a partition outside the predicate is
        # carried BY REFERENCE — zero IO, dv masks intact. Loose segments
        # (pre-partitioning history) have no values to match, so a scoped
        # run conservatively leaves them alone too.
        phys_where = self._pred_to_physical(where) if where else None

        def _in_scope(pvals) -> bool:
            return phys_where is None or self._partition_may_match(
                pvals, phys_where
            )

        # MUTATE-form plan (round 11): rewritten groups are REMOVED and
        # their replacements appended; untouched partitions and
        # already-optimal singles stay at their original manifest
        # positions. That keeps the commit delta-encodable — O(affected)
        # driver metadata AND checkpoint shard reuse survive a routine
        # partition-scoped OPTIMIZE on a 10^5-segment table (the previous
        # full-list form regrouped segments partition-sorted, which forced
        # an O(table) FULL manifest every run).
        removed: list[str] = []
        plan: list[tuple[dict | None, list[str]]] = []
        for k in sorted(groups):
            pvals, group = groups[k]
            if not _in_scope(pvals):
                continue
            if not clustered and len(group) == 1 and group[0] not in masked:
                # Already optimal: stays in place (stats / partition
                # values carried by the untouched-segment path).
                continue
            removed += group
            plan.append((pvals, group))
        fold_loose = bool(loose) and phys_where is None
        if fold_loose:
            removed += loose

        def _make_added(v: int) -> list[str]:
            segs: list[str] = []
            i = 0
            for pvals, group in plan:
                df_g = self._to_logical(self._read_segments(group, dv, schema))
                if not clustered:
                    seg = self._write_segment(df_g, v, part=i)
                    self._pending_parts[seg] = pvals
                    segs.append(seg)
                    i += 1
                else:
                    new = _write_banded(df_g, v, i, pvals)
                    segs += new
                    i += len(new)
            if fold_loose:
                df_l = self._to_logical(self._read_segments(loose, dv, schema))
                if not clustered:
                    segs.append(self._write_segment(df_l, v, part=i))
                else:
                    segs += _write_banded(df_l, v, i, None)
            return segs

        if phys_where is not None and not any(
            _in_scope(p) for p, _ in groups.values()
        ):
            return v0  # nothing in scope: no empty commit

        meta = {"compacted_partitions": len(groups)}
        if where is not None:
            meta["where"] = {k: v for k, v in where.items()}
        if range_by is not None:
            meta["range_by"] = range_by
        if zorder_by is not None:
            meta["zorder_by"] = list(zorder_by)
        return self._transact(
            None,
            meta=meta,
            base_version=v0,
            mutate_make=(removed, _make_added),
        )

    def _segment_bytes(self, segs: list[str], live: list[str]) -> dict[str, int]:
        """On-disk bytes of each of ``segs``. Segment directories are
        immutable once written (a rewrite gets a NEW name), so sizes cache
        safely by name — without it, every compact_small probe re-walks
        every live segment directory: O(table) filesystem metadata per
        call, at exactly the segment counts the feature targets. The cache
        is pruned to ``live`` so removed segments don't pin entries."""
        keep = set(live)
        cache = {
            s: b
            for s, b in (getattr(self, "_segsize_cache", None) or {}).items()
            if s in keep
        }
        out = {}
        for s in segs:
            total = cache.get(s)
            if total is None:
                total = 0
                for dirpath, _dirs, files in os.walk(os.path.join(self.root, s)):
                    for f in files:
                        try:
                            total += os.path.getsize(os.path.join(dirpath, f))
                        except OSError:
                            pass
                cache[s] = total
            out[s] = total
        self._segsize_cache = cache
        return out

    def _rewrite_partitions(self, touched: list[str], live: list[str]) -> int:
        """Output partitions for rewriting the survivors of ``touched``
        after a broadcast join: one per ``spark.sql.files.maxPartitionBytes``
        of their on-disk size. A broadcast join keeps the scan's
        partitioning, where every small file is its own split
        (openCostInBytes), so without this a 1-row targeted rewrite would
        add one file per rewritten input file on every statement. At scale
        this is the scan's own split count."""
        mpb = self.spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
        total = sum(self._segment_bytes(touched, live).values())
        return max(1, -(-total // mpb))

    def compact_small(
        self,
        max_bytes: int = 64 << 20,
        txn: tuple[str, int] | None = None,
    ) -> int | None:
        """The bin-packing half of Delta's OPTIMIZE: fold ONLY the live
        segments whose on-disk size is below ``max_bytes``, carrying every
        already-large segment by reference. :meth:`compact` is a full
        rewrite — correct for re-clustering, wrong as the routine
        small-files remedy at scale (a 100 TB ingest table must fold its
        tail of small append segments without rewriting the compacted
        bulk). Cost: O(small data) read+written, O(changed) manifest.

        Partitioned tables fold small segments within their partition
        values (the partitioned write splits the fold back out), so
        partition pruning is unaffected. Deletion-vector masks over the
        folded segments are applied by the rewrite — survivors escape the
        mask, and a dv also covering untouched segments keeps masking
        exactly those (the commit's housekeeping drops only fully-inert
        dvs). Returns the new version, or None when fewer than two small
        segments exist (nothing to fold, no commit)."""
        v0 = self.current_version()
        if v0 is None:
            return None
        manifest = self._snapshot(v0)
        segs = manifest["segments"]
        sizes = self._segment_bytes(segs, segs)
        small = {s for s in segs if sizes[s] < max_bytes}
        if len(small) < 2:
            return None
        folded = [s for s in segs if s in small]
        base = self._aligned_base(manifest, folded, version=v0)
        base = base.persist()
        try:
            # Copy-on-write of the folded segments: the commit touches
            # O(folded) driver metadata and stays a DELTA manifest —
            # checkpoint shard reuse survives routine small-files
            # maintenance on a 10^5-segment ingest table.
            return self._commit_cow(
                base, folded, v0, None, txn, meta={"compact_small": len(small)}
            )
        finally:
            base.unpersist()

    def maybe_compact(
        self,
        max_segments: int = 16,
        zorder_by: tuple[str, str] | None = None,
        range_by: str | None = None,
        n_segments: int = 8,
        max_dv: int = 8,
        small_bytes: int | None = None,
    ) -> bool:
        """Small-file policy: compact only when the live version holds more
        than ``max_segments`` segments OR more than ``max_dv`` outstanding
        deletion-vector files. Call it after appends and merge-on-read DML
        (streaming sinks, ingest loops) — amortized cost stays
        O(table/max_segments) per rewrite while reads never degrade past
        ``max_segments`` file groups or ``max_dv`` anti-join passes (each
        outstanding dv costs every read one broadcast anti-join, the
        merge-on-read tax Delta's OPTIMIZE-after-DV-DML cadence exists to
        bound). ``zorder_by`` / ``range_by`` forward to :meth:`compact`,
        so an ingest loop can keep the table key-clustered (and targeted
        DML cheap) with the same call. Returns True when a compaction ran.
        A concurrent writer winning the race simply surfaces
        ConcurrentWriteError like any other commit — the caller's next
        maybe_compact retries."""
        v = self.current_version()
        n_dv = 0
        if v is not None:
            n_dv = len(self._snapshot(v)["dv"])
        if self.n_segments() <= max_segments and n_dv <= max_dv:
            return False
        if (
            small_bytes is not None
            and n_dv <= max_dv
            and zorder_by is None
            and range_by is None
        ):
            # small_bytes opts into the scale-right remedy for pure count
            # pressure: bin-pack ONLY the sub-threshold tail (O(small
            # data)). A table whose many segments are all LARGE is healthy
            # — no rewrite then. dv pressure still takes the full fold
            # below (the masked segments are typically the big ones, and
            # folding is what retires the read-time anti-joins).
            #
            # When the probe found nothing foldable (<2 small segments)
            # the count pressure PERSISTS — remember the version so
            # repeated calls at the same head skip straight out instead of
            # re-probing sizes (size-cached, but still O(live segments)
            # dict work) every time. A new commit can change the small
            # set, so the skip resets the moment the head moves.
            if getattr(self, "_small_noop_version", None) == (
                v,
                small_bytes,
            ):
                return False
            ran = self.compact_small(max_bytes=small_bytes) is not None
            if not ran:
                self._small_noop_version = (v, small_bytes)
            return ran
        self.compact(
            zorder_by=zorder_by, range_by=range_by, n_segments=n_segments
        )
        return True

