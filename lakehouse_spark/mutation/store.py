"""Keyed table store: append / upsert / delete-last / retention sweep
(SURVEY.md §1.3 and §2 SC4, SC5, O9, J4, F2-cleanup).

The reference mutates state with append-only JSONL logs plus atomic
tmp+rename document rewrites (sessions/manager.py:282-283,519-525 — read,
not copied). The lakehouse-native equivalents are Delta `APPEND` and
`MERGE`; this container has no Delta package, so the same semantics are
implemented as a **segment-manifest table**, the same idea as Delta's
add-file transaction log:

- data lives in immutable segment directories ``_seg<nnn>/part-*.parquet``;
- a version is a MANIFEST file listing the segments that make it up;
- ``_CURRENT`` is a one-line pointer atomically renamed onto the newest
  manifest — readers always see a complete, consistent version.

Cost model (the part that matters at 100 TB):
- **append is O(new rows)** — write one segment, write a manifest that
  reuses every existing segment. The reference's open(...,'a') cost shape.
- **upsert / merge / delete are O(affected files)** when the key is in
  ``stats_cols`` and the layout clusters it (``compact(range_by=key)``):
  segments whose key range provably contains no source key are reused by
  reference — Delta's stats-targeted file-skipping DML. Unclustered
  layouts degrade to the classic O(table) single-segment rewrite;
  ``delete_keys/upsert/merge(mode="dv")`` are the merge-on-read paths —
  O(changed rows) written, ZERO segments rewritten: old images are masked
  by a deletion vector, new images land in one new segment.
- ``overwrite_where`` (Delta replaceWhere) swaps just the segments the
  predicate can touch — the idempotent-backfill primitive.
- every read-then-rewrite commit carries snapshot-conflict detection: a
  commit landing between the rewrite's read and its claim raises
  :class:`ConcurrentWriteError` instead of being silently clobbered.
- old versions remain readable (time travel) until :meth:`vacuum`.
- **concurrent writers are safe**: each commit claims its version slot with
  a filesystem put-if-absent before writing anything; a racing writer gets
  :class:`ConcurrentWriteError` (retry after re-read), never a lost segment —
  the same optimistic-concurrency contract as Delta's transaction log.

On a cluster with Delta/Iceberg available, `TableStore` maps 1:1 onto
append/`MERGE INTO`/`DELETE`/`OPTIMIZE` — call sites don't change.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession

# NOTE: no Delta/Iceberg binding ships here — this container has neither, and
# an untestable branch is worse than none. The module docstring documents the
# 1:1 operation mapping (append/MERGE/DELETE/OPTIMIZE) a production deployment
# would swap in behind the same TableStore method surface.

from lakehouse_spark.mutation.dml import DmlMixin
from lakehouse_spark.mutation.manifest import (  # noqa: F401 (public re-exports)
    ConcurrentWriteError,
    ConstraintViolationError,
    SchemaMismatchError,
    _CDC_RE,
    _DV_RE,
    _MANIFEST_RE,
    _POINTER,
    _SEG_RE,
    _harvest_dir_stats,
    _predicate_expr,
    _segment_may_match,
)
from lakehouse_spark.mutation.manifest import TxnMixin
from lakehouse_spark.mutation.metadata import MetadataMixin
from lakehouse_spark.mutation.reads import ReadsMixin
from lakehouse_spark.mutation.table_layout import LayoutMixin


class TableStore(TxnMixin, MetadataMixin, ReadsMixin, DmlMixin, LayoutMixin):
    """Versioned keyed Parquet table: segment data, manifest versions,
    atomic pointer commits.

    FACADE over five planes, each in its own module (split at 2,800 LoC —
    the same mandate that split queries.py):

    - :class:`~lakehouse_spark.mutation.manifest.TxnMixin` — version
      pointer, manifests, the optimistic-concurrency transaction, vacuum,
      history, time travel;
    - :class:`~lakehouse_spark.mutation.metadata.MetadataMixin` — CHECK
      constraints, generated columns, column mapping, clone, detail;
    - :class:`~lakehouse_spark.mutation.reads.ReadsMixin` — pruned
      snapshot reads, Change Data Feed, diff;
    - :class:`~lakehouse_spark.mutation.dml.DmlMixin` — append / upsert /
      update / merge / delete / overwrite_where and the targeted-DML
      file-skipping machinery;
    - :class:`~lakehouse_spark.mutation.table_layout.LayoutMixin` —
      partitioned writes and plain/range/Z-order compaction.

    Method names, signatures, and public imports from this module are
    unchanged by the split."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        key: str,
        orphan_grace_sec: float = 300.0,
        stats_cols: tuple[str, ...] = (),
        write_cdf: bool = False,
        bloom_cols: tuple[str, ...] = (),
        partition_by: tuple[str, ...] = (),
        max_partitions_per_commit: int = 64,
        checkpoint_interval: int = 32,
        claim_wait_sec: float = 0.0,
    ):
        self.spark = spark
        self.root = root
        self.key = key
        # Delta's delta.enableChangeDataFeed analog: when True, every
        # REWRITE commit materializes its row-level changes to a
        # ``_cdc<nnnnnn>`` parquet dir right after the pointer swap (append
        # commits never need one — their added segments ARE the change
        # file). Stored changes make :meth:`changes` O(changes-read) for
        # rewrites and are what the streaming source
        # (sources/table_source.py) consumes, since a stream worker cannot
        # run the snapshot diff itself.
        self.write_cdf = write_cdf
        # Columns whose per-segment min/max ride in the manifest (Delta's
        # add-file stats): read(predicate=...) skips whole segments whose
        # range can't match BEFORE Spark lists a single data file. Declare
        # the columns queries range-filter on (numeric or string); stats
        # are harvested from each NEW segment's parquet footers at commit
        # time — no Spark job, no data re-read.
        self.stats_cols = tuple(stats_cols)
        # Columns that get a per-segment Bloom sidecar at write time
        # (mutation/bloom.py): equality lookups and targeted DML can then
        # prove a key is ABSENT from a segment even when the layout is
        # unclustered and min/max stats span everything (UUID-style keys).
        # Costs one distributed hash pass per new segment; probing is
        # sidecar-file IO only. Readers need no declaration — they
        # discover sidecars by existence.
        self.bloom_cols = tuple(bloom_cols)
        # Delta's partitionBy: every commit splits its rows into one
        # segment per live (partition-column-tuple) value, so a partition
        # predicate prunes EXACTLY at the manifest (min==max per segment —
        # the existing stats machinery — plus the recorded value itself),
        # replaceWhere on a partition swaps just that partition's segments,
        # and compaction never merges across partition boundaries. The
        # partition columns STAY in the data files (constant columns are
        # ~free under parquet RLE), so every read path — including targeted
        # DML and the Python data source — is unchanged. Set at table
        # creation only; recorded in every manifest. Use for
        # low-cardinality columns (ingest date, source, tenant): each
        # commit may touch at most ``max_partitions_per_commit`` distinct
        # values (Delta's small-file guidance, enforced).
        self.partition_by = tuple(partition_by)
        self.max_partitions_per_commit = max_partitions_per_commit
        self._pending_parts: dict[str, dict] = {}
        self._pending_stats: dict[str, dict] = {}
        # Deletion vector staged by delete_keys(mode="dv") for the commit
        # in flight: {dv_name: [segments it applies to]}. Consumed by
        # _transact; cleared on abort like _pending_stats.
        self._pending_dv: dict[str, list[str]] = {}
        # A zero-length claim file older than this is treated as the debris
        # of a writer that died between claim and finalize, and is stolen.
        # Must comfortably exceed the longest segment write a live writer
        # could be performing under the claim.
        self.orphan_grace_sec = orphan_grace_sec
        # Metadata plane (round 9): manifests are per-commit DELTAS; a full
        # snapshot checkpoint (_checkpoint_NNNNNN.json) is written every
        # this-many commits post-pointer-swap, bounding reader replay.
        # 0/None disables checkpoints (replay then runs to the last FULL
        # manifest — table creation, a clone or a restore).
        self.checkpoint_interval = checkpoint_interval
        # Round 10: checkpoints are two-level (list doc + shard files of
        # this many segments each; see manifest.py's design comment).
        # checkpoint_sync=True forces the periodic checkpoint to write on
        # the committing thread instead of in the background — for
        # callers that need the file before their next statement
        # (deterministic tests; vacuum always writes inline).
        self.checkpoint_shard_size = 1000
        self.checkpoint_sync = False
        # >0 turns transient claim contention (a LIVE writer mid-commit)
        # into a bounded poll-and-retry at the NEXT version instead of an
        # immediate ConcurrentWriteError — Delta's internal commit-retry
        # shape. Appends then never surface contention to the caller;
        # read-then-rewrite commits still pass through the
        # base_version/rebase guard after each claim. Default 0 keeps the
        # round-8 fail-fast contract.
        self.claim_wait_sec = claim_wait_sec
        # {version: materialized snapshot} — versions are immutable once
        # committed, so the cache never invalidates (bounded LRU-ish).
        self._snap_cache: dict[int, dict] = {}
        # Mutable head-state mirror for the delta-lane commit (manifest
        # TxnMixin._head_for): owned containers evolved in place under
        # the lock, so appends and targeted DML stay O(affected) in
        # driver CPU.
        # None = rebuild lazily from the materialized snapshot.
        self._head: dict | None = None
        self._head_lock = threading.Lock()
        os.makedirs(root, exist_ok=True)

