"""Spark Python Data Source (Spark 4 `pyspark.sql.datasource` API) over
:class:`~lakehouse_spark.mutation.store.TableStore` tables — the
integration seam that makes the store a first-class `format(...)`:

- **batch**: ``spark.read.format("lakehouse").load(root)`` — snapshot
  reads with time travel (``option("version", n)``), manifest-stats
  segment pruning AND parquet row-group pruning via ``pushFilters``
  (Spark 4.1's Python data-source filter pushdown), Arrow-batch transfer
  (never row-at-a-time Python).
- **batch change feed**: ``.option("changes", "true")`` — the
  ``table_changes(...)`` surface: ``startingVersion``/``endingVersion``
  options, rows tagged ``_change_type`` / ``_commit_version``.
- **streaming**: ``spark.readStream.format("lakehouse")`` — tails the
  commit log with *versions as offsets*, so Structured Streaming's
  offset log gives exactly-once replay across restarts for free.
  Append commits stream their added segments as inserts (O(new rows),
  no old-data scan); rewrite commits stream their materialized change
  file (``TableStore(write_cdf=True)`` / ``materialize_cdf``) — a
  stream worker cannot run the snapshot diff itself, so an
  unmaterialized rewrite raises with the repair instruction instead of
  silently dropping changes.
- **write**: ``df.write.format("lakehouse").mode("append"|"overwrite")``
  — executors write parquet into a shared staging dir (Arrow batches in,
  parquet out, per-file min/max harvested from the parquet FOOTERS —
  free), and the driver-side ``commit()`` publishes them through the
  store's optimistic-concurrency manifest commit. An aborted job leaves
  only an unreferenced staging dir; readers never see a partial write.

KNOWN UPSTREAM CAVEAT (Spark 4.1, round-8 finding): the JVM caches the
planned read per relation (``PythonDataSourceV2.readInfo``) with NO keying
on pushed filters — ``getOrCreateReadInfo`` is a bare null-check and
``PythonScanBuilder.pushFilters`` overwrites the shared field. Reusing ONE
loaded DataFrame (or a temp view over it) across scans with DIFFERENT
filter sets silently executes the wrong partitions: an unfiltered query
after a filtered one returns the filtered rows, and a self-join runs the
last-pushed side's filter on both sides. Use a FRESH
``spark.read.format("lakehouse").load(root)`` per query (the pattern every
module here follows), and use :class:`lakehouse_spark.catalog.LakeCatalog`
for named views — it backs views with parquet-native ``TableStore.read()``
scans for exactly this reason (tests/test_sql_catalog.py pins the
mixed-filter-reuse scenarios).

Since round 12 the misuse FAILS LOUDLY instead of returning wrong rows:
the reader pins the first pushed-filter signature per relation (a token
stamped at DataSource construction, backed by a cross-worker tmpdir
sidecar — see ``_PUSHED_SIG``) and raises with the fresh-load
instruction when a second, different filter set is pushed onto the same
relation (tests/test_datasource_push_aliasing_guard.py). The one shape
no Python-side guard can intercept is a reused plan the JVM serves
ENTIRELY from its cache (same-or-no-filter re-execution after a
different push never re-enters Python) — the pin catches the poisoning
push itself, which precedes any such stale read.

Scale notes: the per-partition unit is one parquet *file*, so
parallelism matches the layout exactly as Delta's log-driven scans do;
all file IO is pyarrow.dataset (vectorized, row-group pruned). The
JVM-native path (``TableStore.read`` → ``spark.read.parquet``) remains
the hot path for pure snapshot scans — this source exists for the
format/stream/filter-pushdown integration, and its Arrow batches keep
the Python leg columnar.

Reference parity: the reference daemon streams session mutations over
SSE (amplifierd/amplifierd/routers/stream.py) and replays history from
its JSONL logs (amplifier_library/sessions/manager.py) — read, not
copied; here the same "tail the committed log" capability is expressed
as a Structured Streaming source with checkpointable offsets.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

_CDF_COLS = ("_change_type", "_commit_version")


# -- driver-side manifest access (no SparkSession: DataSource methods run in
# -- plain Python on the driver, and must stay picklable) ---------------------


def _pointer(root: str) -> int:
    path = os.path.join(root, "_CURRENT")
    try:
        with open(path) as f:
            return int(f.read().strip())
    except FileNotFoundError:
        raise FileNotFoundError(
            f"no lakehouse table at {root!r} (missing _CURRENT pointer)"
        ) from None


# Materialized-snapshot cache: a committed version's manifest chain is
# immutable, so (root, version) keys never invalidate. Bounded — reader
# instances are per-query and short-lived, the cache just spares the
# checkpoint+delta-tail replay across the schema()/partitions() calls of
# one plan (and across micro-batches of a stream on this driver).
_SNAPSHOT_CACHE: dict[tuple[str, int], dict] = {}


def _manifest(root: str, v: int) -> dict:
    """The FULL logical manifest (snapshot) of version ``v`` — manifests
    are per-commit deltas since round 9, so readers materialize through
    lakehouse_spark.mutation.manifest.load_snapshot (checkpoint + delta
    tail; see that module's format notes).

    Since round 11 this full parse is the FALLBACK, not the cold-plan
    path: schema/column-mapping come from _scalars (the sharded list doc,
    zero shard parses, plus the recorded schema scalar — no footer walk),
    and predicate-bearing partition planning goes through
    load_snapshot_pruned. The full parse remains for predicate-less
    snapshot listings and for pre-round-11 tables without the scalar."""
    key = (root, v)
    snap = _SNAPSHOT_CACHE.get(key)
    if snap is not None:
        # Vacuum can drop a version between uses: never serve a snapshot
        # whose manifest is gone (its segments may be gone too).
        if os.path.exists(os.path.join(root, f"_manifest_{v:06d}.json")):
            return snap
        _SNAPSHOT_CACHE.pop(key, None)
    from lakehouse_spark.mutation.manifest import load_snapshot

    snap = load_snapshot(root, v)
    _SNAPSHOT_CACHE[key] = snap
    while len(_SNAPSHOT_CACHE) > 64:
        _SNAPSHOT_CACHE.pop(next(iter(_SNAPSHOT_CACHE)))
    return snap


# Scalar-plane cache (round-11 cold-plan fast path): the list doc of a
# sharded checkpoint plus the delta tail carries schema/column-mapping/dv
# — everything needed BEFORE partition planning — without parsing a single
# shard. Same immutability argument as the snapshot cache.
_SCALARS_CACHE: dict[tuple[str, int], dict] = {}

# Checkpoint shard files are immutable by NAME (version+index, atomic
# rename, content seg_hash-checked on read), so pruned partition planning
# shares one module-level cache across reader instances and micro-batches.
_SHARD_CACHE: dict[str, dict] = {}

# Detect-and-raise guard for the Spark 4.1 pushFilters aliasing hazard
# (module docstring): pinned pushed-filter signature per RELATION — the
# token is stamped once at DataSource construction (i.e. per .load())
# and pickled with the plan, so every replanning of one relation carries
# the same token while a fresh .load() gets a new one. A second,
# DIFFERENT pushFilters application to the same relation is exactly the
# misuse pattern that silently executes wrong partitions upstream
# (shared readInfo, unkeyed by filters); with this registry it raises
# with the fresh-load instruction instead. Best-effort by construction:
# the registry lives in the planning worker's module globals, so a
# replanning served by a different worker process is not detected (and a
# fresh relation can never false-positive — its token is new). Bounded
# FIFO so a long-lived planner worker never grows without limit.
_PUSHED_SIG: dict[str, tuple] = {}
_PUSHED_SIG_MAX = 4096


def _effective_filters_sig(filters, names: set, col_map: dict) -> tuple:
    """Order-insensitive signature of the filters that actually CONTRIBUTE
    to this reader's pruning state (ranges / eq-value sets / null checks)
    — mirroring pushFilters' handling chain exactly. Filter types the
    reader declines (LIKE/StringStartsWith/Not/...) leave the planned
    read identical to unfiltered, so they MUST NOT enter the aliasing
    signature: two queries differing only in declined filters are
    reuse-safe (Spark re-applies them per query plan-side) and raising on
    them would be a false positive (round-12 review finding #3)."""
    out = []
    for f in filters:
        attr = getattr(f, "attribute", None)
        col = attr[-1] if attr else None
        if col not in names or (attr and len(attr) > 1):
            continue
        col = col_map.get(col, col)
        if isinstance(f, EqualTo):
            if f.value is not None:
                out.append(("EqualTo", col, repr(f.value)))
        elif isinstance(
            f, (GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)
        ):
            out.append((type(f).__name__, col, repr(f.value)))
        elif isinstance(f, In):
            if f.value and None not in f.value:
                out.append(("In", col, repr(sorted(f.value, key=repr))))
        elif isinstance(f, IsNotNull):
            out.append(("IsNotNull", col, ""))
    return tuple(sorted(out))


def _pin_dir() -> str:
    import tempfile

    return os.path.join(tempfile.gettempdir(), "lakehouse-pushsig")


def _read_pin_file(token: str) -> tuple | None:
    try:
        path = os.path.join(_pin_dir(), token)
        with open(path) as f:
            data = json.load(f)
        sig = tuple((a, b, c) for a, b, c in data)
        # Touch on use: the eviction sweep is mtime-FIFO, and a pin file
        # is write-once (re-pins hit the existing file) — without the
        # touch, a long-lived relation's pin would age out while still
        # live (round-12 pass-2 finding #3).
        try:
            os.utime(path)
        except OSError:
            pass
        return sig
    except (OSError, ValueError, TypeError):
        return None


def _write_pin_file(token: str, sig: tuple) -> tuple | None:
    """Publish ``sig`` write-once; returns the EXISTING sig if another
    planner worker won the race (caller compares), else None. Best
    effort — an unwritable tmpdir silently degrades to same-worker
    detection via _PUSHED_SIG."""
    d = _pin_dir()
    try:
        os.makedirs(d, exist_ok=True)
        # Bounded: over the cap, FIFO-evict the oldest half by mtime
        # instead of silently disabling the cross-worker layer forever on
        # a long-lived host. A pin is touched on every read (a relation
        # being replanned keeps its pin fresh), so eviction hits only
        # relations idle for the longest — and the in-process _PUSHED_SIG
        # still guards an evicted relation within each worker.
        entries = os.listdir(d)
        if len(entries) > _PUSHED_SIG_MAX:
            def _mt(name: str) -> float:
                try:
                    return os.stat(os.path.join(d, name)).st_mtime
                except OSError:
                    return 0.0

            for name in sorted(entries, key=_mt)[
                : len(entries) - _PUSHED_SIG_MAX // 2
            ]:
                try:
                    os.unlink(os.path.join(d, name))
                except OSError:
                    pass
        fd = os.open(
            os.path.join(d, token), os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o600
        )
    except FileExistsError:
        return _read_pin_file(token)
    except OSError:
        return None
    with os.fdopen(fd, "w") as f:
        json.dump([[a, b, c] for a, b, c in sig], f)
    return None


def _conflict(pinned: tuple, sig: tuple, racer: tuple | None = None) -> None:
    also = f"; a concurrent planner also pinned {racer}" if racer is not None else ""
    raise RuntimeError(
        "lakehouse relation reused across scans with DIFFERENT filter "
        f"sets (pinned {pinned}, now {sig}{also}). Spark 4.1 caches the "
        "planned Python data-source read per relation UNKEYED by "
        "pushed filters, so reuse silently executes the wrong "
        "partitions. Use a fresh spark.read.format('lakehouse')"
        ".load(<root>) per query, or bake a static filter into the "
        "relation with .option('predicate', ...) which is reuse-safe."
    )


def _pin_pushed_sig(token: str | None, sig: tuple) -> None:
    """Pin ``sig`` for ``token``, raising on a conflicting earlier pin.
    Two layers: the in-process _PUSHED_SIG dict, plus a write-once tmpdir
    sidecar so the pin survives Spark's planner-worker pooling (one
    relation's plannings are NOT guaranteed to land in one worker
    process; planning always runs on the driver host, so host-local tmp
    is the right scope)."""
    if token is None:
        return
    pinned = _PUSHED_SIG.get(token)
    if pinned is not None:
        # Keep the sidecar fresh on the dict-hit path too: eviction is
        # mtime-FIFO and the file is write-once, so a hot relation
        # replanned by one worker would otherwise age out of the
        # cross-worker layer — and if eviction already took the file,
        # RE-PUBLISH the pinned sig so cross-worker detection comes back
        # instead of silently staying dead (pass-4 finding #3).
        try:
            os.utime(os.path.join(_pin_dir(), token))
        except FileNotFoundError:
            # Evicted: re-publish. A racer winning the O_EXCL re-create
            # with a DIFFERENT sig means the relation genuinely has two
            # filter signatures in flight — raise on the disagreement
            # itself rather than adopting the racer's pin, which could
            # mask the conflict when the racer's sig equals THIS call's
            # (pass-6 finding #3): our in-process pin is still live
            # evidence of the other signature.
            other = _write_pin_file(token, pinned)
            if other is not None and other != pinned:
                _conflict(pinned, sig, racer=other)
        except OSError:
            pass
    if pinned is None:
        pinned = _read_pin_file(token)
    if pinned is None:
        pinned = _write_pin_file(token, sig)  # non-None = lost the race
    if pinned is not None and pinned != sig:
        _conflict(pinned, sig)
    _PUSHED_SIG[token] = sig
    while len(_PUSHED_SIG) > _PUSHED_SIG_MAX:
        _PUSHED_SIG.pop(next(iter(_PUSHED_SIG)))


def _scalars(root: str, v: int) -> dict:
    """Scalar planes (schema, renames/dropped, partition_by, key) + dv/txn
    of version ``v`` — served from an already-materialized full snapshot
    when one is cached, else the sharded list doc WITHOUT parsing shards
    (manifest.load_scalars), else the full load. This is what lets a cold
    ``format("lakehouse")`` plan at a 200k-segment table cost
    O(scalars + matched shards) instead of a full checkpoint parse."""
    key = (root, v)
    snap = _SNAPSHOT_CACHE.get(key)
    if snap is not None:
        return snap
    sc = _SCALARS_CACHE.get(key)
    if sc is not None:
        if os.path.exists(os.path.join(root, f"_manifest_{v:06d}.json")):
            return sc
        _SCALARS_CACHE.pop(key, None)
    from lakehouse_spark.mutation.manifest import load_scalars

    sc = load_scalars(root, v)
    if sc is None:
        return _manifest(root, v)  # no sharded checkpoint: full load
    _SCALARS_CACHE[key] = sc
    while len(_SCALARS_CACHE) > 64:
        _SCALARS_CACHE.pop(next(iter(_SCALARS_CACHE)))
    return sc


def _col_mapping(root: str, v: int) -> tuple[dict, list]:
    """Column mapping at version ``v``: (renames physical→logical,
    dropped physical names). Data files always store physical names; this
    source presents the logical schema and translates at the batch level."""
    m = _scalars(root, v)
    return m.get("renames", {}), m.get("dropped", [])


def _reject_column_mapped_write(root: str) -> None:
    """The format-writer paths stage raw parquet task files and commit them
    as segments verbatim — they can neither translate logical column names
    back to physical storage names nor split rows into per-partition
    segments. A table with live renames/drops or partitioning must be
    written through TableStore, so fail the commit with directions instead
    of poisoning the invariants every reader relies on."""
    try:
        v = _pointer(root)
    except FileNotFoundError:
        return  # first commit: no mapping/partitioning can exist
    renames, dropped = _col_mapping(root, v)
    if renames or dropped:
        raise ValueError(
            f"table {root} has active column renames/drops "
            f"(renames={renames}, dropped={dropped}); "
            "df.write.format('lakehouse') cannot translate staged files to "
            "physical column names — write via TableStore.append/overwrite"
        )
    pby = _scalars(root, v).get("partition_by", [])
    if pby:
        # Same verbatim-commit limitation: staged task files can't be
        # split into one segment per partition value, and an unsplit
        # segment would break partition-exact pruning and partition-wise
        # compaction for the whole table.
        raise ValueError(
            f"table {root} is partitioned by {pby}; "
            "df.write.format('lakehouse') cannot split staged files by "
            "partition value — write via TableStore.append/overwrite"
        )


def _resolve_version(root: str, options) -> int:
    """Snapshot selection for batch reads: explicit ``version`` wins, else
    ``timestampAsOf`` (epoch seconds or ISO-8601 — Delta's TIMESTAMP AS OF,
    resolved through TableStore.version_at's monotonized commit times),
    else the current pointer."""
    v = options.get("version")
    if v is not None:
        if options.get("timestampasof") is not None:
            raise ValueError("pass option version OR timestampAsOf, not both")
        return int(v)
    ts = options.get("timestampasof")
    if ts is not None:
        from lakehouse_spark.mutation.store import TableStore

        return TableStore(spark=None, root=root, key="").version_at(ts)
    return _pointer(root)


def _segment_files(root: str, seg: str) -> list[str]:
    d = os.path.join(root, seg)
    return sorted(
        os.path.join(d, n)
        for n in os.listdir(d)
        if n.endswith(".parquet") and not n.startswith((".", "_"))
    )


def _cdc_dir(root: str, v: int) -> str:
    return os.path.join(root, f"_cdc{v:06d}")


def _commit_kind(root: str, v: int) -> tuple[str, list[str]]:
    # O(1) for delta manifests (the file IS the classification); full
    # manifests diff against the cached previous snapshot.
    from lakehouse_spark.mutation.manifest import commit_kind_from_files

    return commit_kind_from_files(
        root, v, snapshot=lambda w: _manifest(root, w)
    )


def _unified_arrow_schema(files: list[str]):
    """Union of the files' parquet schemas, first-seen column order — the
    same additive semantics as ``mergeSchema`` (missing column ≡ null)."""
    import pyarrow.parquet as pq

    fields: list = []
    seen: set[str] = set()
    for f in files:
        for fld in pq.read_schema(f):
            if fld.name not in seen:
                seen.add(fld.name)
                fields.append(fld)
    import pyarrow as pa

    return pa.schema(fields)


def _staged_schema_json(staged: list[str]):
    """Spark StructType.jsonValue of the staged task files' unified arrow
    schema — stages the commit's schema scalar for the format-writer
    paths, which have no Spark DataFrame to read it from. O(new files)
    footer reads; returns None for an empty write (nothing to record)."""
    if not staged:
        return None
    from pyspark.sql.pandas.types import from_arrow_schema

    return from_arrow_schema(_unified_arrow_schema(staged)).jsonValue()


def _one_file_per_schema(
    root: str, segments: list[str], tolerate_missing: bool = False
) -> list[str]:
    """One representative file per segment — enough for schema union, since
    a segment is written in one Spark job and is schema-homogeneous.

    ``tolerate_missing`` (round-9 advisor fix: opt-in, NOT the default)
    skips segment dirs whose files are gone. Only the predicate-optioned
    relation passes True — such a relation may legitimately never read a
    pruned segment (archived cold partitions), and its DATA path still
    fails loudly if a planned partition can't be read. Everywhere else a
    missing segment must surface here rather than silently narrowing the
    derived schema (the missing segment could be the only carrier of an
    evolved column)."""
    out = []
    for s in segments:
        try:
            fs = _segment_files(root, s)
        except FileNotFoundError:
            if tolerate_missing:
                continue
            raise FileNotFoundError(
                f"segment {s!r} of table {root} is missing; refusing to "
                "derive a (possibly narrowed) schema without it — restore "
                "the files or read with .option('predicate', ...) that "
                "prunes it"
            ) from None
        if fs:
            out.append(fs[0])
    return out


@dataclass
class _ScanPart(InputPartition):
    """One parquet file; ``ctype`` non-None tags a change-feed read
    ('insert' for append-segment files, 'dv_delete' for deletion-vector
    pre-image files read as deletes, 'cdc' for stored change files that
    already carry the CDF columns). ``dv_files``/``dv_key`` carry the
    deletion vectors masking this file's segment (merge-on-read)."""

    files: tuple[str, ...]
    ctype: str | None = None
    commit_version: int | None = None
    dv_files: tuple[str, ...] = ()
    dv_key: str | None = None


def _arrow_filter(
    ranges: dict,
    null_checked: tuple[str, ...],
    in_sets: dict | None = None,
):
    """pyarrow dataset expression from pushed-down per-column ranges /
    IN-sets — drives row-group/page pruning inside the scan."""
    import pyarrow.dataset as ds

    expr = None
    for col, (lo, hi) in ranges.items():
        for bound, cmp in ((lo, "__ge__"), (hi, "__le__")):
            if bound is not None:
                term = getattr(ds.field(col), cmp)(bound)
                expr = term if expr is None else expr & term
    for col, values in (in_sets or {}).items():
        term = ds.field(col).isin(values)
        expr = term if expr is None else expr & term
    for col in null_checked:
        term = ds.field(col).is_valid()
        expr = term if expr is None else expr & term
    return expr


def _parse_predicate_option(
    options, col_map: dict, schema: StructType
) -> tuple[dict, dict]:
    """``.option("predicate", '<json>')`` — static filter pushdown for
    change reads. Spark 4.1 exposes no pushFilters seam to Python STREAM
    readers, so a filtered ``readStream`` otherwise ships every commit's
    files and re-filters post-Arrow; the option closes that gap (Delta
    users know it as partition-filtered CDF reads).

    JSON value forms per column: scalar = equality, ``{"between": [lo,
    hi]}`` = closed range (null end = unbounded), ``{"in": [...]}`` =
    membership. Semantics are EXACT row filtering (the pyarrow scan
    applies the predicate), plus IO pruning: whole segments are skipped
    via manifest stats and individual files via parquet footer stats when
    they provably can't match. Returns ``(ranges {phys: (lo, hi)},
    in_sets {phys: [values]})``."""
    raw = options.get("predicate")
    if not raw:
        return {}, {}
    spec = json.loads(raw)
    names = set(schema.fieldNames())
    ranges: dict = {}
    in_sets: dict = {}
    for col, v in spec.items():
        if col in _CDF_COLS:
            # Round-9 advisor fix: on change reads the read schema includes
            # the CDF metadata columns, so they'd pass the name check — but
            # the pyarrow scan filter then references a field absent from
            # append-segment/dv files (error or inconsistent footer skips
            # depending on commit kind). They're not data columns; filter
            # them Spark-side after tagging instead.
            raise ValueError(
                f"predicate on CDF metadata column {col!r} is not "
                "supported; filter _change_type/_commit_version with "
                ".filter(...) after the read (the predicate option prunes "
                "DATA columns)"
            )
        if col not in names:
            raise ValueError(
                f"predicate column {col!r} is not in the table schema "
                f"{sorted(names)}"
            )
        phys = col_map.get(col, col)
        if isinstance(v, dict) and set(v) == {"between"}:
            lo, hi = v["between"]
            ranges[phys] = (lo, hi)
        elif isinstance(v, dict) and set(v) == {"in"}:
            in_sets[phys] = list(v["in"])
        elif isinstance(v, dict):
            raise ValueError(
                f"predicate for {col!r} must be a scalar, "
                '{"between": [lo, hi]}, or {"in": [...]}; got '
                f"{sorted(v)}"
            )
        else:
            ranges[phys] = (v, v)
    return ranges, in_sets


def _file_may_match(path: str, ranges: dict, in_sets: dict) -> bool:
    """Conservative parquet-footer stats probe: False only when NO row
    group's [min, max] can satisfy the predicate. Driver-side metadata
    read, zero data IO — the same bound the manifest stats give, but
    available for files no manifest tracks (stored change files, dv
    pre-images). Any missing stats / unreadable footer / incomparable
    type keeps the file."""
    if not ranges and not in_sets:
        return True
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
        cols = {
            md.schema.column(i).name: i for i in range(md.num_columns)
        }
        for col in set(ranges) | set(in_sets):
            idx = cols.get(col)
            if idx is None:
                continue
            mn = mx = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    mn = mx = None
                    break
                mn = st.min if mn is None else min(mn, st.min)
                mx = st.max if mx is None else max(mx, st.max)
            if mn is None:
                continue
            if col in ranges:
                lo, hi = ranges[col]
                if (lo is not None and mx < lo) or (
                    hi is not None and mn > hi
                ):
                    return False
            if col in in_sets and not any(
                mn <= v <= mx for v in in_sets[col]
            ):
                return False
        return True
    except (TypeError, ValueError, OSError):
        return True  # incomparable predicate/stat types: keep the file


def _read_files(
    part: _ScanPart,
    spark_schema: StructType,
    ranges: dict | None = None,
    null_checked: tuple[str, ...] = (),
    col_map: dict | None = None,
    in_sets: dict | None = None,
):
    """Yield Arrow RecordBatches for one partition, conformed to the read
    schema (column order + missing-column nulls), with CDF tagging."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    from pyspark.sql.pandas.types import to_arrow_schema

    import pyarrow.compute as pc

    if not part.files:
        return
    target = to_arrow_schema(spark_schema)
    # Segment/dv files carry no CDF columns; tag them on the way out —
    # but only when the read schema wants them (an insert-only stream's
    # schema is the bare table schema).
    tag_cdf = part.ctype in ("insert", "dv_delete") and (
        "_change_type" in target.names
    )
    if tag_cdf:
        data_schema = pa.schema(
            [f for f in target if f.name not in _CDF_COLS]
        )
    else:
        data_schema = target
    # Merge-on-read: load this segment's deletion-vector keys once per
    # partition (dvs are broadcast-small by contract) and mask matching
    # rows. NULL keys never match — is_in(null)=false — matching the
    # store's anti-join semantics.
    deleted_keys = None
    if part.dv_files and part.dv_key:
        import pyarrow.dataset as dsm

        deleted_keys = (
            dsm.dataset(list(part.dv_files), format="parquet")
            .to_table(columns=[part.dv_key])
            .column(part.dv_key)
            .combine_chunks()
        )
    file_schema = _unified_arrow_schema(list(part.files))
    # Read with the files' own types, project/conform after: parquet
    # footers may carry e.g. int32 where the table schema says int64.
    dataset = ds.dataset(list(part.files), schema=file_schema, format="parquet")
    flt = (
        _arrow_filter(ranges or {}, null_checked, in_sets)
        if (ranges or null_checked or in_sets)
        else None
    )
    for batch in dataset.to_batches(filter=flt):
        if deleted_keys is not None and batch.num_rows:
            keep = pc.invert(
                pc.is_in(batch.column(part.dv_key), value_set=deleted_keys)
            )
            batch = batch.filter(pc.fill_null(keep, True))
            if not batch.num_rows:
                continue
        cols = []
        for fld in data_schema:
            # col_map: logical → physical (column mapping). Segment files
            # store physical names; stored cdc/dv files carry write-time
            # names, so fall back to the logical name itself.
            src = col_map.get(fld.name, fld.name) if col_map else fld.name
            if batch.schema.get_field_index(src) < 0 and src != fld.name:
                src = fld.name
            if batch.schema.get_field_index(src) >= 0:
                arr = batch.column(src)
                if arr.type != fld.type:
                    arr = arr.cast(fld.type)
            else:
                arr = pa.nulls(batch.num_rows, fld.type)
            cols.append(arr)
        if tag_cdf:
            ctype = "delete" if part.ctype == "dv_delete" else "insert"
            cols.append(pa.array([ctype] * batch.num_rows, pa.string()))
            cols.append(
                pa.array([part.commit_version] * batch.num_rows, pa.int64())
            )
        yield pa.RecordBatch.from_arrays(cols, schema=target)


class LakehouseDataSource(DataSource):
    """``format("lakehouse")``. Options:

    - ``path`` — table root (required).
    - ``version`` — batch time travel to this committed version.
    - ``timestampAsOf`` — batch time travel to the snapshot live at this
      instant (epoch seconds or ISO-8601; mutually exclusive with
      ``version``).
    - ``changes`` — "true": batch reads return the change feed
      (``startingVersion`` default 0, ``endingVersion`` default head)
      and streams return full CDF rows; unset: batch reads snapshot,
      streams tail inserts only (append-only tables).
    - ``startingVersion`` — stream/changes start: first version whose
      changes are included (default 0; "latest" = only commits after
      stream start).
    - ``maxVersionsPerBatch`` — stream rate limit (default 10 commits
      per micro-batch).
    - ``predicate`` — JSON dict baking a static filter into the
      RELATION (snapshot reads, batch ``changes``, and streams):
      ``{"col": scalar}`` equality,
      ``{"col": {"between": [lo, hi]}}`` range (null end = unbounded),
      ``{"col": {"in": [...]}}`` membership. Rows are filtered exactly
      (pyarrow scan filter); segments/files that provably can't match
      are never read (manifest stats + Bloom sidecars on snapshots,
      manifest + parquet footer stats on change reads). Because options
      are part of the relation's identity, this is the CACHE-SAFE
      pruning path for long-lived/reused relations (temp views) where
      the pushFilters seam is unsafe (see the upstream caveat above);
      for streams it is the ONLY pushdown seam Spark offers Python
      sources.
    """

    def __init__(self, options):
        super().__init__(options)
        # Relation identity for the pushFilters aliasing guard: stamped
        # once per .load() and pickled with the plan (see _PUSHED_SIG).
        self._relation_token = uuid.uuid4().hex

    @classmethod
    def name(cls) -> str:
        return "lakehouse"

    def _root(self) -> str:
        root = self.options.get("path")
        if not root:
            raise ValueError("format('lakehouse') requires .load(<table root>)")
        return root

    def _changes_mode(self) -> bool:
        return str(self.options.get("changes", "")).lower() in ("true", "1", "yes")

    def schema(self) -> StructType:
        from pyspark.sql.pandas.types import from_arrow_schema

        from lakehouse_spark.mutation.reads import _logical_recorded_schema

        root = self._root()
        v = _resolve_version(root, self.options)
        sc = _scalars(root, v)
        # Recorded-schema fast path (tables written since round 11): no
        # footer walk at all.
        spark_schema = _logical_recorded_schema(sc)
        if spark_schema is None:
            renames = sc.get("renames", {})
            dropped = sc.get("dropped", [])
            segs = _manifest(root, v)["segments"]
            arrow = _unified_arrow_schema(
                _one_file_per_schema(
                    root,
                    segs,
                    tolerate_missing=bool(self.options.get("predicate")),
                )
            )
            # Present the LOGICAL schema: footers hold physical names.
            if renames or dropped:
                import pyarrow as pa

                arrow = pa.schema(
                    [
                        f.with_name(renames.get(f.name, f.name))
                        for f in arrow
                        if f.name not in dropped
                    ]
                )
            spark_schema = from_arrow_schema(arrow)
        if self._changes_mode():
            from pyspark.sql.types import LongType, StringType, StructField

            spark_schema = StructType(
                list(spark_schema.fields)
                + [
                    StructField("_change_type", StringType(), False),
                    StructField("_commit_version", LongType(), False),
                ]
            )
        return spark_schema

    def reader(self, schema: StructType) -> DataSourceReader:
        if self._changes_mode():
            return ChangesBatchReader(self._root(), self.options, schema)
        return SnapshotReader(
            self._root(),
            self.options,
            schema,
            relation_token=getattr(self, "_relation_token", None),
        )

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return ChangesStreamReader(
            self._root(), self.options, schema, cdf=self._changes_mode()
        )

    def writer(self, schema: StructType, overwrite: bool):
        return LakehouseWriter(self._root(), overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool):
        app_id = self.options.get("txnappid")
        if not app_id:
            raise ValueError(
                "writeStream.format('lakehouse') requires "
                ".option('txnAppId', <stable query id>): the exactly-once "
                "batch watermark is per-app, and an implicit shared "
                "default would let two queries silently skip each "
                "other's batches"
            )
        if overwrite:
            raise ValueError(
                "streaming writes append; complete/overwrite output mode "
                "is not supported (use foreachBatch + TableStore.overwrite)"
            )
        return LakehouseStreamWriter(self._root(), app_id)


class SnapshotReader(DataSourceReader):
    """Snapshot scan of one version: manifest-stats segment pruning from
    pushed filters, then one partition per parquet file with the residual
    pyarrow filter applied inside the scan. All pushed filters are also
    RETURNED to Spark (pruning here is conservative, Spark's re-check
    keeps results exact — the same contract as parquet row-group stats)."""

    def __init__(
        self,
        root: str,
        options,
        schema: StructType,
        relation_token: str | None = None,
    ):
        self.root = root
        self.schema = schema
        self.version = _resolve_version(root, options)
        # Aliasing-guard identity (see _PUSHED_SIG): which .load() this
        # reader plans for; None when constructed outside the DataSource.
        self._relation_token = relation_token
        renames, _dropped = _col_mapping(root, self.version)
        # logical → physical, for pushed filters (stats/blooms/files are
        # physical) and for batch conform in _read_files.
        self.col_map = {log: phy for phy, log in renames.items()}
        self._phys2log = renames  # for shard-pruned planning (logical in)
        self.ranges: dict[str, tuple] = {}
        self.null_checked: tuple[str, ...] = ()
        # Exact value sets from EqualTo/In filters: probed against the
        # segments' Bloom sidecars (mutation/bloom.py), which can prove a
        # point lookup absent even where min/max ranges span everything.
        self.eq_values: dict[str, list] = {}
        # OPTION-pinned predicate (the cache-safe pruning path): options
        # are part of the relation's identity, so a long-lived/reused
        # relation with .option("predicate", ...) prunes WITHOUT touching
        # the pushFilters seam that Spark 4.1's shared readInfo cache
        # makes unsafe under relation reuse (see the module docstring).
        # Rows are filtered exactly in-scan — the option behaves like a
        # .filter baked into the relation.
        self.opt_in: dict[str, list] = {}
        opt_ranges, self.opt_in = _parse_predicate_option(
            options, self.col_map, schema
        )
        self.ranges.update(opt_ranges)
        for col, (lo, hi) in opt_ranges.items():
            if lo is not None and lo == hi:
                self.eq_values.setdefault(col, []).append([lo])
        for col, values in self.opt_in.items():
            self.eq_values.setdefault(col, []).append(list(values))

    def pushFilters(self, filters: list[Filter]):
        if self.opt_in or any(
            v != (None, None) for v in self.ranges.values()
        ):
            # An option-pinned predicate makes this relation REUSE-SAFE by
            # keeping its planned read identical for every query — so
            # per-query filters must NOT narrow it (Spark 4.1 caches the
            # planned read per relation unkeyed by pushed filters; a
            # narrowed readInfo from one query would poison the next, see
            # the module docstring). Decline everything: Spark applies the
            # filters itself, the option still prunes — and the aliasing
            # guard below does not apply (no per-query plan state).
            return filters
        # Aliasing guard (round-12 ask #2): a second filter set with a
        # DIFFERENT pruning contribution pushed for the same relation is
        # the documented silent-wrong-rows misuse — raise with the
        # fresh-load instruction instead of executing it. The signature
        # covers only filters the chain below actually folds into plan
        # state; declined filters are re-applied by Spark per query and
        # can differ freely. Pin BEFORE mutating state so an identical
        # replay of the same plan stays legal and idempotent.
        names = set(self.schema.fieldNames())
        sig = _effective_filters_sig(filters, names, self.col_map)
        _pin_pushed_sig(self._relation_token, sig)
        if getattr(self, "_instance_sig", None) == sig:
            return filters  # same effective plan replayed onto this instance
        self._instance_sig = sig

        def _narrow(col, lo=None, hi=None):
            cur_lo, cur_hi = self.ranges.get(col, (None, None))
            if lo is not None:
                cur_lo = lo if cur_lo is None else max(cur_lo, lo)
            if hi is not None:
                cur_hi = hi if cur_hi is None else min(cur_hi, hi)
            self.ranges[col] = (cur_lo, cur_hi)

        nulls = []
        for f in filters:
            attr = getattr(f, "attribute", None)
            col = attr[-1] if attr else None
            if col not in names or (attr and len(attr) > 1):
                continue  # nested / unknown column: Spark-side only
            # Filters arrive in logical names; everything below (manifest
            # stats, bloom sidecars, the pyarrow scan filter) is physical.
            col = self.col_map.get(col, col)
            if isinstance(f, EqualTo) and f.value is not None:
                _narrow(col, lo=f.value, hi=f.value)
                self.eq_values.setdefault(col, []).append([f.value])
            elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                _narrow(col, lo=f.value)
            elif isinstance(f, (LessThan, LessThanOrEqual)):
                _narrow(col, hi=f.value)
            elif isinstance(f, In) and f.value and None not in f.value:
                try:
                    _narrow(col, lo=min(f.value), hi=max(f.value))
                except TypeError:
                    pass
                self.eq_values.setdefault(col, []).append(list(f.value))
            elif isinstance(f, IsNotNull):
                nulls.append(col)
        self.null_checked = tuple(nulls)
        # Pruning here is range-conservative (stats overlap ≠ row match),
        # so EVERY filter goes back to Spark for exact re-application.
        return filters

    def _surviving_segments(self) -> list[str]:
        pred = {**self.ranges, **self.opt_in}  # IN-lists prune stats too
        if not pred:
            return _manifest(self.root, self.version)["segments"]
        # Shard-pruned planning (round-11 cold-plan fast path): with
        # pushed/option predicates, plan from the two-level checkpoint's
        # shard bounds — only the matching shards are parsed, so a cold
        # first plan is O(matched), not a full checkpoint parse. The
        # pruned snapshot is a provable superset; the per-segment loop
        # below still applies. Falls back to the full manifest when no
        # sharded checkpoint exists.
        from lakehouse_spark.mutation.manifest import load_snapshot_pruned

        lp = {self._phys2log.get(c, c): b for c, b in pred.items()}
        m = load_snapshot_pruned(
            self.root, self.version, lp, shard_cache=_SHARD_CACHE
        )
        if m is None:
            m = _manifest(self.root, self.version)
        segs, stats = m["segments"], m.get("stats", {})
        # Local import keeps driver/executor import graphs decoupled.
        from lakehouse_spark.mutation.store import _segment_may_match

        segs = [
            s for s in segs if _segment_may_match(stats.get(s), pred)
        ]
        if self.eq_values:
            from lakehouse_spark.mutation.bloom import (
                hash_values,
                load_bloom,
                might_contain_any,
                probe_family,
            )

            for col, value_sets in self.eq_values.items():
                for values in value_sets:
                    fam = probe_family(values)
                    hashes = hash_values(values)
                    if hashes is None:
                        continue  # non-probeable types: keep everything

                    def _keeps(seg: str) -> bool:
                        bloom = load_bloom(
                            os.path.join(self.root, seg), col, fam
                        )
                        # For an In(...) set, ALL values absent -> the
                        # conjunctive filter can't match in this segment.
                        return bloom is None or might_contain_any(
                            bloom, hashes
                        )

                    segs = [s for s in segs if _keeps(s)]
        return segs

    def partitions(self):
        if not self.opt_in and not any(
            v != (None, None) for v in self.ranges.values()
        ) and getattr(self, "_instance_sig", None) is None:
            # Planning with NO pushed filters: pin the empty signature so
            # a later filtered push onto this same relation raises instead
            # of silently poisoning the cached unfiltered plan (the
            # unfiltered-then-filtered reuse order).
            _pin_pushed_sig(self._relation_token, ())
        m = _scalars(self.root, self.version)
        dv, key = m.get("dv", {}), m.get("key")
        if dv and not key:
            raise ValueError(
                f"{self.root} has deletion vectors but its manifest "
                "predates the advertised key column; rewrite (compact) the "
                "table once to upgrade"
            )

        def _dv_for(seg: str) -> tuple[str, ...]:
            return tuple(
                f
                for n, ap in sorted(dv.items())
                if seg in ap
                for f in _segment_files(self.root, n)
            )

        return [
            _ScanPart(
                files=(f,),
                dv_files=_dv_for(s),
                dv_key=key if _dv_for(s) else None,
            )
            for s in self._surviving_segments()
            for f in _segment_files(self.root, s)
        ] or [_ScanPart(files=())]

    def read(self, partition: _ScanPart):
        yield from _read_files(
            partition, self.schema, self.ranges, self.null_checked,
            col_map=self.col_map, in_sets=self.opt_in,
        )


def _changes_ready(root: str, v: int) -> bool:
    """Whether commit ``v``'s changes can be planned right now: always for
    append/noop/dv commits, and once the ``_cdc`` dir exists for rewrites.
    The stream's offset logic uses this to hold back from a HEAD whose
    writer finalized the manifest but hasn't published the change file
    (a crashed-writer pointer roll-forward can expose that state)."""
    try:
        kind, _ = _commit_kind(root, v)
    except FileNotFoundError:
        return False
    return kind != "rewrite" or os.path.isdir(_cdc_dir(root, v))


def _change_parts(
    root: str,
    v: int,
    cdf: bool,
    ranges: dict | None = None,
    in_sets: dict | None = None,
) -> list[_ScanPart]:
    """Partitions for one commit's changes. Raises on an unmaterialized
    rewrite — silently skipping it would corrupt every downstream sink.

    ``ranges``/``in_sets`` (from the ``predicate`` option) prune the
    plan: appended segments are dropped via MANIFEST stats first (zero
    per-file IO — at scale a commit may add thousands of files), then
    every surviving file — segment, dv pre-image, or stored change file —
    via its parquet footer. Conservative both times; the exact predicate
    is re-applied inside the scan."""
    ranges, in_sets = ranges or {}, in_sets or {}

    def _files(seg: str) -> list[str]:
        return [
            f
            for f in _segment_files(root, seg)
            if _file_may_match(f, ranges, in_sets)
        ]

    kind, added = _commit_kind(root, v)
    if kind == "noop":
        return []
    if kind == "append":
        if ranges or in_sets:
            # manifest stats: cheapest prune, whole segments at a time.
            # Raw per-version manifest, NOT the materialized snapshot: the
            # added segments' stats ride in the commit's own file (delta
            # "stats" carries exactly the additions; a full manifest's map
            # is a superset), so a stream stays O(commit) per version.
            from lakehouse_spark.mutation.manifest import read_manifest_file
            from lakehouse_spark.mutation.store import _segment_may_match

            stats = read_manifest_file(root, v).get("stats", {})
            pred = {**ranges, **in_sets}
            added = [
                s for s in added if _segment_may_match(stats.get(s), pred)
            ]
        return [
            _ScanPart(files=(f,), ctype="insert", commit_version=v)
            for s in added
            for f in _files(s)
        ]
    if kind == "delete_dv":
        if not cdf:
            raise ValueError(
                f"version {v} of {root} is a deletion-vector commit; an "
                "insert-only stream cannot represent deletes — restart "
                "the read with .option('changes', 'true')"
            )
        # The dv files ARE the delete pre-images — O(deleted) read.
        return [
            _ScanPart(files=(f,), ctype="dv_delete", commit_version=v)
            for n in added
            for f in _files(n)
        ]
    cdc = _cdc_dir(root, v)
    if not os.path.isdir(cdc):
        raise ValueError(
            f"version {v} of {root} is a rewrite commit without a "
            "materialized change file; create the table with "
            "TableStore(write_cdf=True) or run materialize_cdf"
            f"({v}) before reading changes through this source"
        )
    if not cdf:
        raise ValueError(
            f"version {v} of {root} is a rewrite commit; an insert-only "
            "stream cannot represent updates/deletes — restart the read "
            "with .option('changes', 'true')"
        )
    return [
        _ScanPart(files=(f,), ctype="cdc", commit_version=v)
        for f in _files(f"_cdc{v:06d}")
    ]


class ChangesBatchReader(DataSourceReader):
    """Batch `table_changes(start, end)`: one partition per change file."""

    def __init__(self, root: str, options, schema: StructType):
        self.root = root
        self.schema = schema
        renames, _d = _col_mapping(root, _pointer(root))
        self.col_map = {log: phy for phy, log in renames.items()}
        self.start = int(options.get("startingversion", 0))
        self.end = int(options.get("endingversion", _pointer(root)))
        self.pred_ranges, self.pred_in = _parse_predicate_option(
            options, self.col_map, schema
        )
        if not 0 <= self.start <= self.end <= _pointer(root):
            raise ValueError(
                f"invalid change range [{self.start}, {self.end}] "
                f"(head is {_pointer(root)})"
            )

    def partitions(self):
        return [
            p
            for v in range(self.start, self.end + 1)
            for p in _change_parts(
                self.root, v, cdf=True,
                ranges=self.pred_ranges, in_sets=self.pred_in,
            )
        ] or [_ScanPart(files=())]

    def read(self, partition: _ScanPart):
        yield from _read_files(
            partition, self.schema, self.pred_ranges,
            col_map=self.col_map, in_sets=self.pred_in,
        )


class ChangesStreamReader(DataSourceStreamReader):
    """Tail the commit log. Offset = ``{"version": last fully processed
    commit}``; a micro-batch (start, end] covers whole commits, so replay
    from the checkpointed offset is exact — the store's immutable
    segments/change files make every batch deterministic.

    Schema evolution mid-stream (round-9 pinned contract,
    tests/test_stream_schema_evolution.py): a live stream serves its
    REGISTRATION-TIME logical schema for its whole life — Spark fixes a
    streaming query's schema at start, so adapting is the only non-silent
    option. Concretely: columns appended later are invisible until a
    restart (which re-derives the schema from the head); a metadata-only
    RENAME changes nothing mid-stream (physical names are immutable and
    the pinned logical→physical map keys on them); a DROP makes
    post-drop commits read null for that column (post-drop segments are
    physically purged — the same union-read semantics as batch). Batches
    are conformed BY NAME (_read_files), so no evolution can misalign
    values positionally; type changes are rejected at write time before
    any manifest commits."""

    def __init__(self, root: str, options, schema: StructType, cdf: bool):
        self.root = root
        self.schema = schema
        # Mapping pinned at stream start: the query's schema (logical names
        # as of now) is fixed for the stream's life, and physical names are
        # immutable — so this translation stays correct even if the table
        # is renamed again mid-stream.
        try:
            renames, _d = _col_mapping(root, _pointer(root))
        except FileNotFoundError:
            renames = {}  # stream may start before the table's first commit
        self.col_map = {log: phy for phy, log in renames.items()}
        self.cdf = cdf
        self.pred_ranges, self.pred_in = _parse_predicate_option(
            options, self.col_map, schema
        )
        self.max_versions = int(options.get("maxversionsperbatch", 10))
        start = str(options.get("startingversion", "0"))
        if start == "latest":
            self._initial = _pointer(root)
        else:
            self._initial = int(start) - 1

    def initialOffset(self) -> dict:
        return {"version": self._initial}

    def latestOffset(self) -> dict:
        # Rate limit by commit count (steady-state): a busy table drains in
        # bounded micro-batches instead of one giant batch. The FIRST call
        # after (re)start must return the head unlimited: Spark restores
        # the committed offset from the checkpoint but never tells this
        # reader (setLatestSeenOffset is not forwarded to Python sources),
        # so a rate-limited first answer could lie BELOW the restored
        # offset — and the engine would then walk offsets backwards,
        # replaying already-committed versions into the sink.
        head = _pointer(self.root)
        last = getattr(self, "_last", None)
        if last is None:
            self._last = head
        else:
            cand = min(head, last + self.max_versions)
            # Don't step ONTO a head whose change file isn't readable yet
            # (writer mid-commit after a pointer roll-forward): wait one
            # poll instead of terminally failing the plan. Only the head
            # can be transient — a missing change file BELOW head is
            # permanent (the writer moved on) and planning raises as
            # before so the gap is repaired, not silently skipped.
            if (
                self.cdf
                and cand == head
                and cand > last
                and not _changes_ready(self.root, cand)
            ):
                cand -= 1
            self._last = max(last, cand)
        return {"version": self._last}

    def partitions(self, start: dict, end: dict):
        # The steady-state limiter can also learn real progress here.
        self._last = max(getattr(self, "_last", end["version"]), end["version"])
        return [
            p
            for v in range(start["version"] + 1, end["version"] + 1)
            for p in _change_parts(
                self.root, v, self.cdf,
                ranges=self.pred_ranges, in_sets=self.pred_in,
            )
        ] or [_ScanPart(files=())]

    def read(self, partition: _ScanPart):
        yield from _read_files(
            partition,
            self.schema,
            getattr(self, "pred_ranges", None),
            col_map=getattr(self, "col_map", None),
            in_sets=getattr(self, "pred_in", None),
        )

    def commit(self, end: dict) -> None:
        pass  # offsets live in the query checkpoint; nothing to ack

    def stop(self) -> None:
        pass


@dataclass
class _WroteFile(WriterCommitMessage):
    name: str
    stats: dict


def _write_task_file(iterator, staging: str) -> _WroteFile:
    """One executor task: stream Arrow batches into a parquet file in the
    shared staging dir, harvesting per-column min/max for int/float/string
    columns from the footer statistics the write already produced — stats
    cost zero extra IO."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyarrow.types as pt

    name = f"part-{uuid.uuid4().hex}.parquet"
    path = os.path.join(staging, name)
    writer = None
    try:
        for batch in iterator:
            if writer is None:
                writer = pq.ParquetWriter(path, batch.schema)
            writer.write_table(pa.Table.from_batches([batch]))
    finally:
        if writer is not None:
            writer.close()
    if writer is None:
        return _WroteFile(name="", stats={})
    meta = pq.ParquetFile(path).metadata
    stats: dict = {}
    arrow_schema = pq.read_schema(path)
    for rg in range(meta.num_row_groups):
        for ci in range(meta.num_columns):
            col = meta.row_group(rg).column(ci)
            st = col.statistics
            field_name = col.path_in_schema
            if (
                st is None
                or not st.has_min_max
                or "." in field_name  # nested leaves: skip
            ):
                continue
            typ = arrow_schema.field(field_name).type
            if not (
                pt.is_integer(typ) or pt.is_floating(typ) or pt.is_string(typ)
            ):
                continue  # keep manifest stats JSON-exact
            mn, mx = st.min, st.max
            if isinstance(mn, bytes):
                mn, mx = mn.decode("utf-8", "replace"), mx.decode(
                    "utf-8", "replace"
                )
            cur = stats.get(field_name)
            if cur is None:
                stats[field_name] = [mn, mx]
            else:
                stats[field_name] = [min(cur[0], mn), max(cur[1], mx)]
    return _WroteFile(name=name, stats=stats)


def _merged_stats(messages) -> dict:
    merged: dict = {}
    for m in messages:
        if m is None or not m.name:
            continue
        for c, (mn, mx) in m.stats.items():
            cur = merged.get(c)
            merged[c] = (
                [mn, mx] if cur is None else [min(cur[0], mn), max(cur[1], mx)]
            )
    # A column some files lack has unknown range in those files: its
    # min/max would lie about the nulls — drop it unless every file
    # reported it. (Null rows can't match a range predicate anyway,
    # but a file written from an evolved schema could mix.)
    per_file_cols = [set(m.stats) for m in messages if m is not None and m.name]
    if per_file_cols:
        common = set.intersection(*per_file_cols)
        merged = {c: v for c, v in merged.items() if c in common}
    return merged


def _reject_staged_schema_conflicts(root: str, paths: list[str]) -> None:
    """Write-time schema enforcement for the format-writer commit paths
    (mirrors TableStore._reject_schema_conflicts, but over parquet footers
    since the commit runner has no SparkSession): a staged column whose
    Arrow type conflicts with any live segment's would brick every later
    read at schema-merge time, so the commit is rejected instead. One
    footer per live segment + one per staged file — metadata reads only.
    New columns pass (additive evolution), missing columns pass."""
    import pyarrow.parquet as pq

    try:
        v = _pointer(root)
    except FileNotFoundError:
        return  # first commit defines the schema
    if not paths:
        return
    target: dict[str, object] = {}
    for seg in _manifest(root, v)["segments"]:
        files = _segment_files(root, seg)
        if files:
            # One footer per segment: a segment's files share a schema.
            for f in pq.read_schema(files[0]):
                target.setdefault(f.name, f.type)
    conflicts = []
    for p in paths:
        for f in pq.read_schema(p):
            if f.name in target and target[f.name] != f.type:
                conflicts.append(
                    f"{f.name}: table={target[f.name]} vs write={f.type}"
                )
    if conflicts:
        from lakehouse_spark.mutation.store import SchemaMismatchError

        raise SchemaMismatchError(
            f"write to {root} changes column type(s) "
            f"[{'; '.join(sorted(set(conflicts)))}]; cast the input, or "
            "overwrite to redefine the schema"
        )


def _enforce_staged_constraints(store, paths: list[str]) -> None:
    """CHECK-constraint gate for the format-writer commit paths: the staged
    parquet (exactly this commit's task files) is re-read and validated
    before the manifest transaction, mirroring what
    TableStore._write_segment does for store-native writes.

    The Python Data Source commit runner executes in a plain Python worker
    with NO SparkSession (see the driver-side manifest helpers above), so
    the check evaluates the constraint expressions with DuckDB over the
    staged files. That bounds the supported expressions to the ANSI subset
    both engines parse (comparisons, arithmetic, IS NULL, IN, string
    functions — what CHECK constraints are in practice); an expression
    DuckDB cannot evaluate fails CLOSED with a pointer to the store-native
    write paths, never committing unverified data. NULL results pass (SQL
    CHECK semantics), matching the Spark-side enforcement exactly."""
    cons = dict(store.constraints())
    gen = store.generated_columns()
    if (not cons and not gen) or not paths:
        return
    import duckdb
    import pyarrow.parquet as pq

    from lakehouse_spark.mutation.store import ConstraintViolationError

    if gen:
        # Generated columns can't be COMPUTED here (no Spark); the staged
        # files must carry them, and the values must match the formula —
        # checked below as implicit constraints.
        staged_cols = {
            f.name for p in paths for f in pq.read_schema(p)
        }
        missing = sorted(set(gen) - staged_cols)
        if missing:
            raise RuntimeError(
                f"table {store.root} declares generated column(s) "
                f"{missing} that this format('lakehouse') write omits; the "
                "commit runner cannot compute them — include the columns "
                "(with formula-consistent values), or write through "
                "TableStore.append which computes them"
            )
        for col, expr in gen.items():
            cons[f"generated:{col}"] = f"{col} IS NOT DISTINCT FROM ({expr})"

    files = ", ".join("'" + p.replace("'", "''") + "'" for p in paths)
    con = duckdb.connect()
    for name, expr in cons.items():
        try:
            bad = con.execute(
                f"SELECT count(*) FROM read_parquet([{files}]) "
                f"WHERE NOT coalesce(({expr}), TRUE)"
            ).fetchone()[0]
        except duckdb.Error as e:
            raise RuntimeError(
                f"cannot verify CHECK constraint {name!r} ({expr}) on the "
                f"format('lakehouse') write path ({e}); this path evaluates "
                "constraints with DuckDB — keep expressions in the ANSI "
                "subset, or write through TableStore.append/upsert/merge "
                "which enforce natively in Spark"
            ) from e
        if bad:
            raise ConstraintViolationError(
                f"write to {store.root} violates CHECK constraint "
                f"{name!r} ({expr}): {bad} offending row(s) in this commit"
            )


class LakehouseWriter(DataSourceArrowWriter):
    """Executor tasks stream Arrow batches into parquet files under a
    shared staging dir; the driver-side ``commit`` renames it into a
    segment and publishes a manifest through the store's
    optimistic-concurrency commit (claim slot → finalize → pointer swap)."""

    def __init__(self, root: str, overwrite: bool):
        self.root = root
        self.overwrite = overwrite
        self.staging = os.path.join(root, f"_staging_{uuid.uuid4().hex}")
        os.makedirs(self.staging, exist_ok=True)

    def write(self, iterator):
        return _write_task_file(iterator, self.staging)

    def commit(self, messages) -> None:
        from lakehouse_spark.mutation.store import TableStore

        kept = [m for m in messages if m is not None and m.name]
        # Drop empty tasks' zero-row placeholders; an all-empty write
        # still commits (an empty overwrite truncates, like Spark's own
        # parquet sink).
        store = TableStore(spark=None, root=self.root, key="")
        _reject_column_mapped_write(self.root)
        staged = [os.path.join(self.staging, m.name) for m in kept]
        if not self.overwrite:
            # Overwrite legitimately redefines the schema (Delta's
            # overwriteSchema); appends must not poison the merge.
            _reject_staged_schema_conflicts(self.root, staged)
        _enforce_staged_constraints(store, staged)
        # Schema scalar for the commit (union-forward on append, reset on
        # overwrite — the lane decides from the segment diff).
        store._pending_schema = _staged_schema_json(staged)

        def _segments(v: int) -> list[str]:
            seg = f"_seg{v:06d}"
            dst = os.path.join(self.root, seg)
            if os.path.isdir(dst):
                # Debris of a writer that died after renaming but before
                # finalizing this slot's manifest; we own the claim now.
                shutil.rmtree(dst)
            os.replace(self.staging, dst)
            stats = _merged_stats(kept)
            if stats:
                store._pending_stats[seg] = stats
            return [seg]

        if self.overwrite:
            store._transact(_segments)
        else:
            # An append removes nothing: the delta lane adds the segment on
            # top of whatever version this transaction claimed against.
            store._transact(None, mutate_make=([], _segments))

    def abort(self, messages) -> None:
        shutil.rmtree(self.staging, ignore_errors=True)


class LakehouseStreamWriter(DataSourceStreamArrowWriter):
    """``writeStream.format("lakehouse")``: exactly-once append sink.

    Each micro-batch commits through the store's manifest transaction
    carrying ``txn=(txnAppId, batchId)`` — the Delta SetTransaction
    idempotence protocol the store already implements. A replayed batch
    (failure between sink commit and engine checkpoint commit) sees its
    batchId at-or-below the recorded watermark and is skipped wholesale,
    so rows land exactly once no matter how many times the engine
    re-delivers. The ``txnAppId`` option is REQUIRED: the watermark is
    per-app, and letting two different queries share an accidental
    default would silently drop one query's batches.

    Tasks write parquet into a staging dir named DETERMINISTICALLY from
    the app id — the engine constructs separate writer instances for the
    write tasks and for the commit runner (streamWriter() is called more
    than once), so an instance-random staging path would strand the task
    files where commit can't see them. File names are uuid-fresh per
    task delivery, so replayed/aborted deliveries never collide; commit
    moves only the files named in this batch's messages, and a crashed
    delivery's orphans are swept opportunistically at the next commit."""

    def __init__(self, root: str, app_id: str):
        self.root = root
        self.app_id = app_id
        safe = "".join(c if c.isalnum() else "_" for c in app_id)
        self.staging = os.path.join(root, f"_staging_stream_{safe}")
        os.makedirs(self.staging, exist_ok=True)
        # One store instance per QUERY (this writer object lives across
        # micro-batches; only commit() runs on the driver): its snapshot
        # cache and delta-lane head mirror persist batch to batch, so the
        # per-batch commit touches O(new segments) manifest state instead
        # of replaying/copying the full segment list every batch — the
        # property that keeps a long-running ingest's commit cadence flat
        # as the table grows to 10^5-10^6 segments.
        self._store = None

    def write(self, iterator):
        return _write_task_file(iterator, self.staging)

    def commit(self, messages, batchId: int) -> None:
        from lakehouse_spark.mutation.store import TableStore

        kept = [m for m in messages if m is not None and m.name]
        if self._store is None:
            self._store = TableStore(spark=None, root=self.root, key="")
        store = self._store
        if (
            store.current_version() is not None
            and store.last_txn_version(self.app_id) >= batchId
        ):
            # Replayed batch already durable: drop this delivery's files.
            for m in kept:
                try:
                    os.unlink(os.path.join(self.staging, m.name))
                except FileNotFoundError:
                    pass
            return
        if not kept:
            # Empty batch: still advance the watermark so a replay of this
            # batchId stays a no-op even if re-delivered non-empty... it
            # can't be (batch content is deterministic from the offset
            # log), but the commit also keeps the version history 1:1 with
            # batches, which the txn carry-forward makes cheap. Skip the
            # segment, commit manifest-only — UNLESS the table has no
            # committed version yet: a zero-segment v0 manifest would make
            # the table unreadable (no parquet paths → no schema) until the
            # first data batch lands, blocking read() and even store-native
            # append (which reads for schema enforcement). The watermark
            # loses nothing by waiting: replaying an empty batch is a no-op
            # with or without it.
            if store.current_version() is None:
                return

            store._transact(
                None,
                txn=(self.app_id, batchId),
                mutate_make=([], lambda v: []),
            )
            return

        _reject_column_mapped_write(self.root)
        staged = [os.path.join(self.staging, m.name) for m in kept]
        _reject_staged_schema_conflicts(self.root, staged)
        _enforce_staged_constraints(store, staged)
        store._pending_schema = _staged_schema_json(staged)

        def _new_segment(v: int) -> list[str]:
            seg = f"_seg{v:06d}"
            dst = os.path.join(self.root, seg)
            if os.path.isdir(dst):
                shutil.rmtree(dst)  # dead writer's debris; we own the claim
            os.makedirs(dst)
            for m in kept:
                os.replace(
                    os.path.join(self.staging, m.name),
                    os.path.join(dst, m.name),
                )
            stats = _merged_stats(kept)
            if stats:
                store._pending_stats[seg] = stats
            return [seg]

        # Delta lane, removing nothing: prior segments ride by reference
        # (O(new segments) manifest work per batch; falls back to a full
        # first commit when the table has no version yet).
        store._transact(
            None, txn=(self.app_id, batchId), mutate_make=([], _new_segment)
        )
        # Sweep abandoned task files (a retried task that died before its
        # abort ran). Batches are sequential, so anything still in staging
        # after this batch committed and older than the grace window
        # belongs to no live delivery.
        import time as _time

        cutoff = _time.time() - 3600
        try:
            for n in os.listdir(self.staging):
                p = os.path.join(self.staging, n)
                if os.path.isfile(p) and os.path.getmtime(p) < cutoff:
                    os.unlink(p)
        except OSError:
            pass

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is not None and m.name:
                try:
                    os.unlink(os.path.join(self.staging, m.name))
                except FileNotFoundError:
                    pass
