"""Benchmark runner: times the headline catalog queries end-to-end.

Runs every ``headline=True`` entry of `lakehouse_spark.queries.CATALOG` at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "headline_suite_wall_sec", "value": N, "unit": "sec",
     "queries": {name: sec, ...}, "sf": 0.1}

Self-defending against host noise (round-3 lesson: the official artifact
recorded a 6.9x flagship outlier that a quiet-machine re-run could not
reproduce — single-shot timing cannot distinguish transient contention from
a code regression):

* every query runs ``BENCH_RUNS`` times (default 3) post-warm-up;
  ``queries`` reports the per-query MEDIAN, ``queries_detail`` carries
  median / min / all runs so the scoreboard number explains itself;
* ``value`` is the sum of per-query medians (steady-state suite time —
  comparable to the single-run round-1 anchor); ``wall_sec_total`` is the
  raw wall clock of the whole timed phase (~RUNS x value);
* a fixed host-speed probe (pure-Python loop + single-threaded numpy
  matmul, constant work) runs before and after the suite. On the quiet
  reference machine it reads ~0.10s (python) / ~0.17s (numpy); a probe far
  above that says the HOST was slow, not the code;
* a PARALLEL probe (N concurrent matmuls) catches multi-core contention
  the single-thread probes are blind to, and ``contended_queries`` lists
  queries whose median ran >30% above their own min — the in-run
  contention signature;
* ``scaling`` measures the sf0.01 → bench-SF slope (10×), and
  ``scaling_100x`` extends it with a synthesized ~10×-bench-SF third
  point (plans/scale_synth key-shifted union), so time and shuffle
  growth are MEASURED across 100×, not extrapolated from 10×.

Each query is timed over a full execution (plan + shuffle + collect of the
result rows — results are small aggregates, so collect cost is negligible and
the measured time is dominated by scan/shuffle/agg work, which is what scales).
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

# Pin BLAS to one thread BEFORE numpy loads: the host probe must measure the
# host, not contention between BLAS worker threads and Spark's JVM threads.
for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from lakehouse_spark.queries import headline_queries  # noqa: E402
from lakehouse_spark.session import get_spark  # noqa: E402

RUNS = int(os.environ.get("BENCH_RUNS", "3"))


def host_probe() -> dict[str, float]:
    """Fixed-work speed probe: same arithmetic every run, so the reading
    depends only on how fast the host is right now. Each measurement is the
    min of 3 repetitions — the probe must not itself be a noise source."""
    import numpy as np

    def _min3(fn) -> float:
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
        return round(best, 4)

    def _py() -> None:
        acc = 0
        for i in range(2_000_000):
            acc += i * i

    rng = np.random.default_rng(7)
    a = rng.standard_normal((512, 512))
    _ = a @ a  # BLAS init outside the timed region

    def _np() -> None:
        b = a
        for _ in range(10):
            b = b @ a / 512.0

    # Parallel probe: N concurrent copies of the same fixed matmul work
    # (numpy releases the GIL inside BLAS, so the threads genuinely
    # occupy N cores). On an idle host the wall time ≈ the single-thread
    # reading; a co-scheduled multi-core job inflates it even when the
    # single-thread probes read clean — exactly the blind spot that made
    # BENCH_r06's official run ~25% slower than the same-code committed
    # run with in-band single-thread probes. min over 3 reps = sustained
    # contention; transient spikes surface in per-query min/median
    # divergence instead.
    from concurrent.futures import ThreadPoolExecutor

    n_par = min(16, os.cpu_count() or 4)

    def _par() -> None:
        with ThreadPoolExecutor(n_par) as ex:
            list(ex.map(lambda _i: _np(), range(n_par)))

    _par()  # thread-pool + per-core BLAS warm-up outside the timed region
    return {
        "python_loop_sec": _min3(_py),
        "numpy_matmul_sec": _min3(_np),
        "parallel_matmul_sec": _min3(_par),
        "parallel_threads": n_par,
    }


def _scaling_pair(
    spark, suite, d_small: str, d_big: str, tag_small: str, tag_big: str
) -> dict:
    """Per-query {t_<small>, t_<big>, time_ratio, shuffle_ratio} between
    two dataset sizes: median-of-3 runs at each point (round 8 — the
    single-shot round-7 sections fabricated an 8.7× slope for
    dedup_minhash_lsh_xxh that interleaved re-measurement showed was a
    cold-state spike: candidate counts md5 2558 vs xxh 2559, xxh median
    FASTER), shuffle bytes/records from the executed plan
    (plans/metrics, deterministic — read once). ``shuffle_ratio`` is
    bytes-based; records ratio rides alongside. Reps via
    BENCH_SCALING_REPS (default 3).

    Caveat: queries that localCheckpoint/cache their iterative core (e.g.
    dedup_cluster_components) report only the FINAL job's plan metrics —
    their per-round shuffles aren't visible from the returned DataFrame,
    so a 0-byte reading there means "not measurable here", not "free";
    their time_ratio is the meaningful slope.

    Round-9 self-adjudication (the verdict's two manual forensics, now
    mechanical):

    * ``join_strategies_<tag>`` records the executed plan's actual join
      operators per measured point, so a shuffle-record blow-up is
      classified definitively — unchanged strategies ⇒ ``superlinear``,
      a strategy flip ⇒ ``plan_transition`` (broadcast rows become
      shuffle-visible; the records delta indicts the planner threshold,
      not the pair space);
    * a point whose max/min run spread exceeds 3× (the round-8 md5 52.6s
      artifact signature) is RE-RUN once — the re-run's runs are pooled
      into the median and the spread is recorded
      (``outlier_rerun_<tag>``) together with the persistent-RDD count
      per run (cache-eviction state, the suspected mechanism)."""
    from lakehouse_spark.operators.dedup import release_caches
    from lakehouse_spark.plans.metrics import join_strategies, plan_metrics

    reps = max(1, int(os.environ.get("BENCH_SCALING_REPS", "3")))
    queries: dict[str, dict] = {}
    superlinear: list[str] = []
    for name, spec in suite.items():
        entry: dict = {}
        try:
            for tag, d in ((tag_small, d_small), (tag_big, d_big)):
                runs: list[float] = []
                persisted: list[int] = []

                def _one(i: int) -> None:
                    persisted.append(
                        spark.sparkContext._jsc.getPersistentRDDs().size()
                    )
                    t0 = time.perf_counter()
                    df = spec.build(spark, d)
                    df.collect()
                    runs.append(round(time.perf_counter() - t0, 3))
                    if i == 0:  # plan metrics are deterministic; read once
                        m = plan_metrics(df, total=True)
                        entry[f"shuffle_bytes_{tag}"] = m.get(
                            "shuffleBytesWritten", 0
                        )
                        entry[f"shuffle_records_{tag}"] = m.get(
                            "shuffleRecordsWritten", 0
                        )
                        entry[f"join_strategies_{tag}"] = join_strategies(df)
                    release_caches()

                for i in range(reps):
                    _one(i)
                if min(runs) > 0 and max(runs) / min(runs) > 3.0:
                    # Outlier policy: one catastrophic run (host stall /
                    # cache eviction) must not fabricate a slope. Re-run
                    # the whole point and pool the samples; the artifact
                    # records that adjudication happened and what the
                    # cache state was per run.
                    entry[f"outlier_rerun_{tag}"] = {
                        "first_runs": list(runs),
                        "persistent_rdds_per_run": list(persisted),
                    }
                    for i in range(reps):
                        _one(reps + i)
                entry[f"t_{tag}"] = round(statistics.median(runs), 3)
                entry[f"t_{tag}_min"] = min(runs)
                entry[f"runs_{tag}"] = runs
            entry["time_ratio"] = (
                round(entry[f"t_{tag_big}"] / entry[f"t_{tag_small}"], 2)
                if entry[f"t_{tag_small}"]
                else None
            )
            # min-based slope rides alongside: when median and min ratios
            # disagree wildly the medians were contention, not compute.
            entry["time_ratio_min"] = (
                round(entry[f"t_{tag_big}_min"] / entry[f"t_{tag_small}_min"], 2)
                if entry[f"t_{tag_small}_min"]
                else None
            )
            sb = entry[f"shuffle_bytes_{tag_small}"]
            bb = entry[f"shuffle_bytes_{tag_big}"]
            sr = entry[f"shuffle_records_{tag_small}"]
            br = entry[f"shuffle_records_{tag_big}"]
            entry["shuffle_ratio"] = (
                round(bb / sb, 2) if sb else (1.0 if bb == 0 else None)
            )
            entry["shuffle_records_ratio"] = (
                round(br / sr, 2) if sr else (1.0 if br == 0 else None)
            )
            # Flag super-linear growth on RECORDS, adjudicated by the
            # recorded join strategies (round 9 — no more "suspect"): a
            # records blow-up with UNCHANGED strategies is genuine
            # super-linear pair growth regardless of baseline size; a
            # strategy flip (broadcast at the small point, sort-merge at
            # the big one) is a planner size-threshold transition — the
            # blow-up is broadcast rows becoming shuffle-visible (round 8
            # measured 795x records on a 6.6k baseline for
            # dedup_ngram_jaccard from exactly this; its time stayed
            # linear). Strategy data missing (cached/checkpointed cores)
            # falls back to the round-8 baseline-size heuristic.
            rr = entry["shuffle_records_ratio"]
            if rr is not None and rr > 12:
                js_s = entry.get(f"join_strategies_{tag_small}")
                js_b = entry.get(f"join_strategies_{tag_big}")
                if js_s is not None and js_b is not None:
                    if js_s == js_b:
                        superlinear.append(name)
                    else:
                        entry["plan_transition"] = {
                            "small": js_s,
                            "big": js_b,
                        }
                elif sr >= 50_000:
                    superlinear.append(name)
                else:
                    entry["plan_transition_suspect"] = True
        except Exception as ex:  # noqa: BLE001 — scaling must not kill bench
            entry["error"] = f"{type(ex).__name__}: {str(ex)[:200]}"
        queries[name] = entry
    return {
        "sf_small": d_small,
        "sf_big": d_big,
        "queries": queries,
        "superlinear_shuffle": superlinear,
    }


def scaling_section(spark, suite, sf_big: str) -> dict:
    """10× slope: sf0.01 → the bench SF (shape unchanged since round 4)."""
    sf_small = os.path.join(os.path.dirname(sf_big.rstrip("/")), "sf0.01")
    if not os.path.isdir(sf_small) or os.path.realpath(
        sf_small
    ) == os.path.realpath(sf_big):
        return {"skipped": f"no small-SF dir next to {sf_big}"}
    return _scaling_pair(spark, suite, sf_small, sf_big, "001", "01")


def scaling_100x_section(spark, suite, sf_big: str) -> dict:
    """100×-span third point: synthesize ~10× the bench SF as a union of
    key-shifted copies (plans/scale_synth — join fan-out and near-dup
    mass both grow exactly K×, so a super-linear reading indicts the
    plan, not the data) and measure the bench-SF → 10×-bench-SF slope.
    With the existing sf0.01 → sf0.1 pair this makes the measured curve
    span 100×, where a quadratic term too small to show at 10× becomes
    unmissable. Disable with BENCH_SCALE100=0."""
    if os.environ.get("BENCH_SCALE100", "1") == "0":
        return {"skipped": "BENCH_SCALE100=0"}
    try:
        from lakehouse_spark.plans.scale_synth import synthesize_scaled

        t0 = time.perf_counter()
        big_dir = synthesize_scaled(spark, sf_big, k=10)
        synth_sec = round(time.perf_counter() - t0, 3)
    except Exception as ex:  # noqa: BLE001 — synthesis must not kill bench
        return {"error": f"{type(ex).__name__}: {str(ex)[:200]}"}
    out = _scaling_pair(spark, suite, sf_big, big_dir, "01", "1ish")
    out["synthesize_sec"] = synth_sec
    out["k"] = 10
    out["big_dir"] = big_dir
    return out


# The quadratic-RISK operators (pair-space blowup is their failure mode):
# candidate generation is blocked/banded/clustered, so time and shuffle
# should stay ~linear in corpus size — this section is the measured proof
# at the 100x-span point, where a quadratic term can't hide (round-8 judge
# ask #4: these five had never run above sf0.1).
DEDUP_STRESS_QUERIES = (
    "dedup_ngram_jaccard",
    "dedup_containment",
    "dedup_semdedup",
    "sim_knn_graph",
    "dedup_fuzzy_levenshtein",
)


def dedup_stress_section(spark, sf_big: str, big_dir: str | None) -> dict:
    """sf_big -> ~10x-sf_big slope for the five quadratic-risk dedup/
    similarity operators (reusing scaling_100x's synthesized dir). The
    synthesized corpus grows near-dup mass exactly Kx (scale_synth's
    token-suffix bijection), so time_ratio >> 10 or shuffle_ratio >> 12
    indicts the operator's pair space, not the data."""
    if big_dir is None:
        return {"skipped": "no synthesized dir (scaling_100x disabled/failed)"}
    from lakehouse_spark.queries import CATALOG

    suite = {n: CATALOG[n] for n in DEDUP_STRESS_QUERIES}
    return _scaling_pair(spark, suite, sf_big, big_dir, "01", "1ish")


def dml_section(spark) -> dict:
    """Write-amplification microbench (round-8 judge ask #5): the one-band
    rewrite / dv O(deleted rows) claims as committed numbers instead of
    test assertions. Builds a 600k-row range-clustered store, then times
    upsert / delete_where(rewrite) / dv delete / compact, reporting bytes
    written and segments reused per commit so regressions in write
    amplification are visible round-over-round."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from lakehouse_spark.mutation.store import TableStore

    root = tempfile.mkdtemp(prefix="bench_dml_")
    out: dict[str, dict] = {}

    def _seg_bytes(store, segs) -> int:
        total = 0
        for s in segs:
            d = os.path.join(store.root, s)
            if os.path.isdir(d):
                for fn in os.listdir(d):
                    total += os.path.getsize(os.path.join(d, fn))
        return total

    def _op(name, store, fn):
        before = set(store._snapshot(store.current_version())["segments"])
        t0 = time.perf_counter()
        fn()
        sec = round(time.perf_counter() - t0, 3)
        m = store._snapshot(store.current_version())
        after = set(m["segments"])
        new = after - before
        out[name] = {
            "sec": sec,
            "segments_total": len(after),
            "segments_reused": len(after & before),
            "segments_written": len(new),
            "bytes_written": _seg_bytes(store, new)
            + sum(
                _seg_bytes(store, [n])
                for n in m.get("dv", {})
                if n.endswith(f"{store.current_version():06d}")
            ),
        }

    try:
        store = TableStore(
            spark, os.path.join(root, "t"), key="id", stats_cols=("id",)
        )
        n = 600_000
        t0 = time.perf_counter()
        store.init(
            spark.range(n).selectExpr(
                "id", "id % 97 AS grp", "CAST(id * 1.5 AS DOUBLE) AS val"
            )
        )
        store.compact(range_by="id", n_segments=16)
        setup_sec = round(time.perf_counter() - t0, 3)
        base_bytes = _seg_bytes(store, store._segments(store.current_version()))

        src = spark.range(1000).selectExpr(
            "id + 100000 AS id", "id % 97 AS grp", "CAST(-1.0 AS DOUBLE) AS val"
        )
        _op("upsert_1k_clustered", store, lambda: store.upsert(src))
        _op(
            "delete_where_rewrite",
            store,
            lambda: store.delete_where(
                where="id BETWEEN 200000 AND 200999",
                predicate={"id": (200_000, 200_999)},
            ),
        )
        _op(
            "delete_1k_dv",
            store,
            lambda: store.delete_keys(
                spark.range(300_000, 301_000).selectExpr("id"), mode="dv"
            ),
        )
        _op("compact_full", store, lambda: store.compact())
        return {
            "rows": n,
            "setup_sec": setup_sec,
            "table_bytes": base_bytes,
            "ops": out,
        }
    except Exception as ex:  # noqa: BLE001 — microbench must not kill bench
        return {"error": f"{type(ex).__name__}: {str(ex)[:200]}", "ops": out}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def manifest_plane_section(spark) -> dict:
    """Metadata-plane microbench (round-9 verdict ask #1): commit latency
    and on-disk commit record size at 1k vs 50k segments, isolating the
    MANIFEST cost from data IO (commits append a segment by reference —
    no parquet write — so the timed work is exactly snapshot load + delta
    encode + claim/finalize/swap). Round 8's full-manifest-per-commit
    design was O(table) here.

    Reading the numbers: ``commit_record_bytes`` must be FLAT across the
    50× span (the IO/durability plane is O(delta) — this is the claim
    that kills the 100 MB-JSON-per-append failure mode). Commit LATENCY
    keeps a small linear in-memory term (~0.1 µs/segment: the head
    snapshot's dict/list copies — the same driver-side snapshot-update
    shape Delta pays per commit), so expect single-digit ms at 50k
    segments, not a 1.0 ratio. ``o_table_write_sec`` reports what
    SERIALIZING the full snapshot costs at each size — the price every
    round-8 commit paid on top, now paid only by the periodic checkpoint
    AFTER the pointer swap (off the commit latency path)."""
    import shutil
    import statistics as _st
    import tempfile

    from lakehouse_spark.mutation.manifest import load_snapshot
    from lakehouse_spark.mutation.store import TableStore

    root = tempfile.mkdtemp(prefix="bench_manifest_")
    out: dict = {}
    try:
        for n_segs in (1_000, 50_000):
            tdir = os.path.join(root, f"t{n_segs}")
            st = TableStore(spark, tdir, key="id", stats_cols=("id",))
            st.init(spark.range(10).selectExpr("id", "id AS val"))
            # Fabricate a head with n synthetic segments + per-segment
            # stats (metadata only — the fake segments are never read;
            # appends resolve prior segments by NAME). This is how a
            # 100 TB table's manifest looks: ~n_segs × 100 MB of data
            # behind ~n_segs manifest entries.
            snap = st._snapshot(0)
            fakes = [f"_synth{i:06d}" for i in range(n_segs)]
            full = dict(snap)
            full["segments"] = list(snap["segments"]) + fakes
            full["stats"] = {
                **snap["stats"],
                **{
                    s: {"id": [i * 100, i * 100 + 99]}
                    for i, s in enumerate(fakes)
                },
            }
            with open(st._manifest_path(1), "w") as fh:
                json.dump(full, fh)
            st._swap_pointer(1)

            fresh = TableStore(spark, tdir, key="id", stats_cols=("id",))
            # Cold snapshot load (checkpoint/full-manifest parse).
            t0 = time.perf_counter()
            fresh._snapshot(fresh.current_version())
            cold_load = round(time.perf_counter() - t0, 4)
            # Metadata-only commits through the delta lane removing nothing
            # (what store.append() and the streaming sink use): prior segments
            # ride by reference, the head mirror evolves in place. The
            # FIRST commit pays a one-time O(n) head-mirror build (dict
            # copies off the cold snapshot) — report it separately so
            # the steady-state latency claim measures steady state
            # (same warm-up convention as the query suite).
            t0 = time.perf_counter()
            fresh._transact(
                None, mutate_make=([], lambda v: [f"_synthw{v:06d}"])
            )
            first_commit = round(time.perf_counter() - t0, 4)
            commit_secs = []
            for _ in range(9):
                t0 = time.perf_counter()
                fresh._transact(
                    None, mutate_make=([], lambda v: [f"_synthx{v:06d}"])
                )
                commit_secs.append(round(time.perf_counter() - t0, 4))
            head = fresh.current_version()
            delta_bytes = os.path.getsize(fresh._manifest_path(head))
            # Warm incremental read: head snapshot off the cached chain.
            t0 = time.perf_counter()
            fresh._snapshot(head)
            warm_load = round(time.perf_counter() - t0, 4)
            # The O(table) cost a round-8-style full write would pay.
            snap_now = load_snapshot(tdir, head)
            t0 = time.perf_counter()
            with open(os.path.join(tdir, "_o_table_probe"), "w") as fh:
                json.dump(snap_now, fh)
            o_table = round(time.perf_counter() - t0, 4)
            out[str(n_segs)] = {
                "commit_sec_median": round(_st.median(commit_secs), 4),
                "commit_secs": commit_secs,
                "first_commit_sec": first_commit,  # head-mirror build
                "commit_record_bytes": delta_bytes,
                "cold_snapshot_load_sec": cold_load,
                "warm_snapshot_load_sec": warm_load,
                "o_table_write_sec": o_table,
            }
        # Round-10 two-level checkpoint: cold PREDICATE planning must be
        # O(matched shards), not O(table) (round-9 verdict's #1). Build a
        # 200k-segment table, write the sharded checkpoint, and compare a
        # fresh driver's full cold load against the pruned load for a
        # predicate matching ~1 shard. Also time the INCREMENTAL
        # checkpoint after one append (shard reuse: one tail shard + the
        # list doc) vs the initial full write.
        from lakehouse_spark.mutation.manifest import load_snapshot_pruned

        n_segs = 200_000
        tdir = os.path.join(root, "t200k")
        st = TableStore(spark, tdir, key="id", stats_cols=("id",))
        st.checkpoint_sync = True
        st.init(spark.range(10).selectExpr("id", "id AS val"))
        snap = st._snapshot(0)
        fakes = [f"_synth{i:06d}" for i in range(n_segs)]
        full = dict(snap)
        full["segments"] = list(snap["segments"]) + fakes
        full["stats"] = {
            **snap["stats"],
            **{
                s: {"id": [i * 100, i * 100 + 99]}
                for i, s in enumerate(fakes)
            },
        }
        with open(st._manifest_path(1), "w") as fh:
            json.dump(full, fh)
        st._swap_pointer(1)
        st._snap_cache = {}
        t0 = time.perf_counter()
        st._write_checkpoint(1)
        ckpt_full_write = round(time.perf_counter() - t0, 4)
        # Fresh-driver cold loads (no caches).
        t0 = time.perf_counter()
        full_snap = load_snapshot(tdir, 1)
        cold_full = round(time.perf_counter() - t0, 4)
        shard_cache: dict = {}
        t0 = time.perf_counter()
        pruned = load_snapshot_pruned(
            tdir, 1, {"id": (5_000_000, 5_000_500)}, shard_cache
        )
        cold_pruned = round(time.perf_counter() - t0, 4)
        # Incremental checkpoint: append one segment, re-checkpoint —
        # shard reuse makes this O(tail shard), not O(table).
        fresh = TableStore(spark, tdir, key="id", stats_cols=("id",))
        fresh.checkpoint_sync = True
        fresh._transact(None, mutate_make=([], lambda v: [f"_synthx{v:06d}"]))
        t0 = time.perf_counter()
        fresh._write_checkpoint(fresh.current_version())
        ckpt_incr_write = round(time.perf_counter() - t0, 4)
        out["200000_sharded"] = {
            "n_segments": len(full_snap["segments"]),
            "checkpoint_full_write_sec": ckpt_full_write,
            "checkpoint_incremental_write_sec": ckpt_incr_write,
            "cold_full_load_sec": cold_full,
            "cold_pruned_load_sec": cold_pruned,
            "pruned_shards_parsed": len(shard_cache),
            "pruned_segments": len(pruned["segments"]) if pruned else None,
            "pruned_speedup": (
                round(cold_full / cold_pruned, 1) if cold_pruned else None
            ),
        }

        small, big = out["1000"], out["50000"]
        out["commit_latency_ratio_50x"] = (
            round(
                big["commit_sec_median"] / small["commit_sec_median"], 2
            )
            if small["commit_sec_median"]
            else None
        )
        out["commit_bytes_ratio_50x"] = round(
            big["commit_record_bytes"] / max(small["commit_record_bytes"], 1),
            2,
        )
        out["dml_o_affected"] = _dml_metadata_section(spark, root)
        return out
    except Exception as ex:  # noqa: BLE001 — microbench must not kill bench
        out["error"] = f"{type(ex).__name__}: {str(ex)[:200]}"
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _dml_metadata_section(spark, root: str) -> dict:
    """Round-11 verdict ask #1: per-DML-statement DRIVER METADATA time must
    be flat vs segment count. Previously every DML commit rebuilt full
    snapshot containers (O(n-segments) dict copies + a full-list diff) and
    the file selection loop tested every segment record in Python; now
    every delta-manifest commit goes through _commit_mutate, which evolves
    the head mirror's segment dict in place, O(affected) per statement
    (only full-manifest commits rebuild the snapshot), and selection goes
    through the two-level checkpoint's shard bounds (_dml_manifest).

    Three measurements per size (1k / 50k / 200k synthetic segments, same
    fabrication as the sections above — metadata only, fake segments are
    never read):

    - ``selection_sec``: predicate-scoped planning (_dml_manifest +
      _split_by_key_overlap over the pruned superset) — flat: list doc +
      matched shard, both cached across statements.
    - ``mutate_commit_sec``: a metadata-only delta-lane commit (remove one
      synthetic segment, add one) — the DML analog of the append
      numbers above; flat and sub-ms.
    - ``statement_sec``: a REAL end-to-end rewrite-mode upsert of one key
      living in the one real segment (selection + touched-only aligned
      read + join + write + commit). Dominated by the constant small Spark
      job; flat = the metadata plane adds nothing as the table grows. The
      schema cache is seeded from the real segment (first-statement cold
      schema build is an O(table) read, reported by the append sections'
      cold_snapshot_load; steady state is what a DML-heavy workload pays).
    - ``o_table_selection_sec``: the pre-round-11 comparator — the same
      key-overlap selection over the FULL snapshot's segment records.
    """
    import statistics as _st

    from lakehouse_spark.mutation.store import TableStore

    out: dict = {}
    for n_segs in (1_000, 50_000, 200_000):
        tdir = os.path.join(root, f"dml{n_segs}")
        st = TableStore(spark, tdir, key="id", stats_cols=("id",))
        st.checkpoint_sync = True
        st.init(spark.range(10).selectExpr("id", "id AS val"))
        snap = st._snapshot(0)
        real_seg = snap["segments"][0]
        fakes = [f"_synth{i:06d}" for i in range(n_segs)]
        full = dict(snap)
        full["segments"] = list(snap["segments"]) + fakes
        # Synthetic key ranges start at 100 so the real segment (ids 0..9)
        # is the only possible match for the statement keys below.
        full["stats"] = {
            **snap["stats"],
            **{
                s: {"id": [100 + i * 100, 100 + i * 100 + 99]}
                for i, s in enumerate(fakes)
            },
        }
        with open(st._manifest_path(1), "w") as fh:
            json.dump(full, fh)
        st._swap_pointer(1)
        st._snap_cache = {}
        st._write_checkpoint(1)
        # Seed the schema cache from the real segment (synthetic segments
        # have no files to union footers over).
        seg_df = spark.read.parquet(os.path.join(tdir, real_seg))
        st._schema_cache = (1, seg_df.schema)

        src = spark.range(3, 5).selectExpr("id", "id + 1000 AS val")
        klist = [3, 4]
        pred = {"id": (3, 4)}

        sel_secs, commit_secs, stmt_secs = [], [], []
        o_table_sel = None
        for i in range(5):
            v = st.current_version()
            t0 = time.perf_counter()
            m = st._dml_manifest(v, pred)
            touched, _ = st._split_by_key_overlap(m, klist)
            sel_secs.append(time.perf_counter() - t0)
            if i == 0:
                fullsnap = st._snapshot(v)
                t0 = time.perf_counter()
                st._split_by_key_overlap(fullsnap, klist)
                o_table_sel = round(time.perf_counter() - t0, 4)
                out.setdefault("pruned_detail", {})[str(n_segs)] = {
                    "candidate_segments": len(m["segments"]),
                    "touched": len(touched),
                }
            # Metadata-only mutate commit: remove one synthetic segment,
            # add one (no Spark job — isolates the commit path). The fake
            # addition carries out-of-range stats so later statements'
            # selection provably skips it (a stats-less segment would be
            # conservatively read — and it has no files).
            victim = fakes.pop()

            def _mk(v):
                name = f"_synthm{v:06d}"
                st._pending_stats[name] = {
                    "id": [10_000_000 + v, 10_000_000 + v]
                }
                return [name]

            t0 = time.perf_counter()
            st._transact(None, mutate_make=([victim], _mk))
            commit_secs.append(time.perf_counter() - t0)
            st._carry_schema(st.current_version())
            # Real end-to-end statement: rewrite-mode upsert of 2 keys in
            # the real segment.
            t0 = time.perf_counter()
            st.upsert(src, mode="rewrite")
            stmt_secs.append(time.perf_counter() - t0)
        out[str(n_segs)] = {
            "selection_sec_median": round(_st.median(sel_secs), 5),
            "mutate_commit_sec_median": round(_st.median(commit_secs), 5),
            "statement_sec_median": round(_st.median(stmt_secs), 4),
            "o_table_selection_sec": o_table_sel,
        }
        if n_segs == 200_000:
            # Round-11 ask #4: format("lakehouse") cold FIRST plan on the
            # same 200k-segment table — schema from the recorded scalar
            # (list doc, no shard parse, no footer walk), partitions
            # through shard-pruned planning. Module caches cleared =
            # genuinely cold driver state.
            from lakehouse_spark.sources import table_source as TS

            opts = {
                "path": tdir,
                "predicate": json.dumps({"id": {"between": [3, 4]}}),
            }

            def _cold_plan():
                TS._SNAPSHOT_CACHE.clear()
                TS._SCALARS_CACHE.clear()
                TS._SHARD_CACHE.clear()
                t0 = time.perf_counter()
                dsrc = TS.LakehouseDataSource(opts)
                sch = dsrc.schema()
                parts = dsrc.reader(sch).partitions()
                return time.perf_counter() - t0, sch, parts

            # First call carries one-time Python import costs (pyspark
            # datasource/arrow modules) — report it separately, like
            # first_commit_sec; the median of 3 genuinely-cold replans
            # (module caches cleared each time) is the per-(root, version)
            # cold-plan cost a driver actually pays.
            first, sch, parts = _cold_plan()
            reps = [_cold_plan()[0] for _ in range(3)]
            out["datasource_cold_plan_200k"] = {
                "first_sec": round(first, 4),
                "sec": round(_st.median(reps), 4),
                "partitions": len(parts),
                "schema_fields": len(sch.fields),
            }
    small, big = out["1000"], out["200000"]
    for k in (
        "selection_sec_median",
        "mutate_commit_sec_median",
        "statement_sec_median",
    ):
        out[f"{k.rsplit('_sec', 1)[0]}_ratio_200x"] = (
            round(big[k] / small[k], 2) if small[k] else None
        )
    out["write_cdf"] = _dml_cdf_section(spark, root)
    out["1m_commit"] = _dml_commit_1m_section(spark, root)
    return out


def _dml_cdf_section(spark, root: str) -> dict:
    """Round-12 verdict ask #1 done-criterion: the dml_o_affected numbers
    repeated with ``write_cdf=True``. CDF stores now take the mutate lane
    with a pre-pointer RESTRICTED change diff (touched segments only), so
    the per-statement cost must stay FLAT 1k → 200k segments. The
    metadata-only synthetic commit can't run here (the restricted diff
    reads the removed/added segments, and synthetic segments have no
    files), so the measured unit is the REAL end-to-end statement — a
    2-key rewrite-mode upsert touching the one real segment — with the
    commit time (manifest + restricted materialize) spied out of
    _transact per statement."""
    import statistics as _st

    from lakehouse_spark.mutation.store import TableStore

    out: dict = {}
    for n_segs in (1_000, 200_000):
        tdir = os.path.join(root, f"dmlcdf{n_segs}")
        st = TableStore(
            spark, tdir, key="id", stats_cols=("id",), write_cdf=True
        )
        st.checkpoint_sync = True
        st.init(spark.range(10).selectExpr("id", "id AS val"))
        snap = st._snapshot(0)
        real_seg = snap["segments"][0]
        fakes = [f"_synth{i:06d}" for i in range(n_segs)]
        full = dict(snap)
        full["segments"] = list(snap["segments"]) + fakes
        full["stats"] = {
            **snap["stats"],
            **{
                s: {"id": [100 + i * 100, 100 + i * 100 + 99]}
                for i, s in enumerate(fakes)
            },
        }
        with open(st._manifest_path(1), "w") as fh:
            json.dump(full, fh)
        st._swap_pointer(1)
        st._snap_cache = {}
        st._write_checkpoint(1)
        seg_df = spark.read.parquet(os.path.join(tdir, real_seg))
        st._schema_cache = (1, seg_df.schema)

        src = spark.range(3, 5).selectExpr("id", "id + 1000 AS val")
        commit_secs: list[float] = []
        orig_transact = st._transact

        def _timed_transact(*a, **k):
            t0 = time.perf_counter()
            try:
                return orig_transact(*a, **k)
            finally:
                commit_secs.append(time.perf_counter() - t0)

        st._transact = _timed_transact
        stmt_secs = []
        for _ in range(5):
            t0 = time.perf_counter()
            st.upsert(src, mode="rewrite")
            stmt_secs.append(time.perf_counter() - t0)
        out[str(n_segs)] = {
            "statement_sec_median": round(_st.median(stmt_secs), 4),
            "commit_with_cdf_sec_median": round(_st.median(commit_secs), 4),
        }
    small, big = out["1000"], out["200000"]
    for k in ("statement_sec_median", "commit_with_cdf_sec_median"):
        out[f"{k.rsplit('_sec', 1)[0]}_ratio_200x"] = (
            round(big[k] / small[k], 2) if small[k] else None
        )
    return out


def _dml_commit_1m_section(spark, root: str) -> dict:
    """Round-12 verdict ask #6: ONE 10^6-segment point for the mutate
    lane's flat-commit claim. Metadata-only (same fabrication as the
    sections above; synthetic segments are never read): remove one
    synthetic segment, add one, repeated 5x — the median commit must sit
    in the same sub-10ms band the 1k/200k points show (the docstring's
    microseconds-at-1M claim, retired with a measured number). The
    1k-point median from _dml_metadata_section is re-measured here so the
    1000x ratio compares like against like within one section."""
    import statistics as _st

    from lakehouse_spark.mutation.store import TableStore

    out: dict = {}
    for n_segs in (1_000, 1_000_000):
        tdir = os.path.join(root, f"dml1m{n_segs}")
        st = TableStore(spark, tdir, key="id", stats_cols=("id",))
        st.init(spark.range(10).selectExpr("id", "id AS val"))
        snap = st._snapshot(0)
        fakes = [f"_synth{i:06d}" for i in range(n_segs)]
        full = dict(snap)
        full["segments"] = list(snap["segments"]) + fakes
        full["stats"] = {
            **snap["stats"],
            **{
                s: {"id": [100 + i * 100, 100 + i * 100 + 99]}
                for i, s in enumerate(fakes)
            },
        }
        with open(st._manifest_path(1), "w") as fh:
            json.dump(full, fh)
        st._swap_pointer(1)
        st._snap_cache = {}
        commit_secs: list[float] = []
        first_commit = None
        for i in range(6):
            victim = fakes.pop()

            def _mk(v):
                name = f"_synthm{v:06d}"
                st._pending_stats[name] = {
                    "id": [10_000_000 + v, 10_000_000 + v]
                }
                return [name]

            t0 = time.perf_counter()
            st._transact(None, mutate_make=([victim], _mk))
            dt = time.perf_counter() - t0
            if i == 0:
                first_commit = round(dt, 4)  # one-time head-mirror build
            else:
                commit_secs.append(dt)
        out[str(n_segs)] = {
            "first_commit_sec": first_commit,
            "mutate_commit_sec_median": round(_st.median(commit_secs), 5),
        }
    small, big = out["1000"], out["1000000"]
    out["mutate_commit_ratio_1000x"] = (
        round(
            big["mutate_commit_sec_median"] / small["mutate_commit_sec_median"],
            2,
        )
        if small["mutate_commit_sec_median"]
        else None
    )
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    # Single-JVM local mode: driver memory IS all the memory. The default
    # 1g survives sf0.1 but the synthesized ~sf1 third point OOMs its
    # broadcasts and takes the whole context down — size for the largest
    # dataset the bench touches (the box has 128 GiB).
    spark = get_spark(
        app_name="lakehouse_spark_bench",
        extra_conf={
            "spark.driver.memory": os.environ.get("BENCH_DRIVER_MEM", "24g")
        },
    )
    suite = headline_queries()

    from lakehouse_spark.operators.dedup import release_caches

    errors: dict[str, str] = {}

    # Warm-up: execute the first query fully once (collect, not count —
    # count() skips the aggregate pipeline, leaving whole-stage-codegen
    # compilation inside the first TIMED measurement). Guarded: a failing
    # warm-up must not kill the bench before it prints its JSON line.
    try:
        first_name, first = next(iter(suite.items()))
        first.build(spark, sf_dir).collect()
    except Exception as ex:  # noqa: BLE001
        errors["__warmup__"] = f"{type(ex).__name__}: {str(ex).splitlines()[0][:200]}"

    probe_before = host_probe()

    # One failing query must not take down the whole bench (round 2's
    # BENCH_r02 was rc=1/parsed=null because a single query threw): record
    # the error, keep timing the rest, and ALWAYS print the JSON line.
    medians: dict[str, float | None] = {}
    detail: dict[str, dict] = {}
    kept: dict[str, list] = {}
    sc = spark.sparkContext
    # Prove the $SPARK_GRAFT_CPUS contract in the output itself (round-12
    # verdict #2): the resolved master / parallelism / shuffle sizing the
    # session actually runs with, so a reader of two records taken at
    # different core counts can see the env was honored without trusting
    # session.py by reference.
    cores_echo = {
        "env": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": sc.master,
        "parallelism": sc.defaultParallelism,
        "shuffle_partitions": int(
            spark.conf.get("spark.sql.shuffle.partitions")
        ),
    }
    tracker = sc.statusTracker()
    t_suite = time.perf_counter()
    for name, spec in suite.items():
        runs: list[float] = []
        jobs_run: int | None = None
        for r in range(RUNS):
            # Job-group the run so the per-query JOB COUNT rides in the
            # detail (round-9 verdict #7): iterative queries like
            # dedup_cluster_components are dominated by driver-side job
            # scheduling, so a scheduling regression (more rounds, extra
            # convergence jobs) separates from host noise mechanically.
            group = f"bench:{name}:{r}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            try:
                rows = spec.build(spark, sf_dir).collect()
                runs.append(round(time.perf_counter() - t0, 3))
                if r == 0:
                    try:
                        jobs_run = len(tracker.getJobIdsForGroup(group))
                    except Exception:  # noqa: BLE001 — instrumentation only
                        jobs_run = None
                if name == "sim_topk_bruteforce" and r == 0:
                    kept[name] = rows
            except Exception as ex:  # noqa: BLE001 — survive any query failure
                errors[name] = (
                    f"{type(ex).__name__}: {str(ex).splitlines()[0][:200]}"
                )
                break
            finally:
                release_caches()  # dedup intermediates don't outlive a run
        if runs:
            medians[name] = round(statistics.median(runs), 3)
            detail[name] = {
                "median": medians[name],
                "min": min(runs),
                "runs": runs,
                "jobs_run": jobs_run,
            }
        else:
            medians[name] = None
    wall_total = round(time.perf_counter() - t_suite, 3)
    suite_median_sum = round(sum(v for v in medians.values() if v is not None), 3)

    probe_after = host_probe()

    # IVF quality: recall@5 of the learned-centroid approximate index
    # against the exact brute-force neighbors (same queries, same k).
    from lakehouse_spark.queries import CATALOG

    try:
        truth = {
            (r["query_id"], r["neighbor_id"])
            for r in kept.get("sim_topk_bruteforce", [])
        }
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in CATALOG["sim_ivf_topk"].build(spark, sf_dir).collect()
        }
        ivf_recall = (
            round(len(approx & truth) / len(truth), 4) if truth else None
        )
    except Exception as ex:  # noqa: BLE001
        ivf_recall = None
        errors["sim_ivf_topk"] = f"{type(ex).__name__}: {str(ex)[:200]}"

    def _recall(entry: str) -> float | None:
        truth = {
            (r["query_id"], r["neighbor_id"])
            for r in kept.get("sim_topk_bruteforce", [])
        }
        if not truth:
            return None
        try:
            got = {
                (r["query_id"], r["neighbor_id"])
                for r in CATALOG[entry].build(spark, sf_dir).collect()
            }
            return round(len(got & truth) / len(truth), 4)
        except Exception as ex:  # noqa: BLE001
            errors[entry] = f"{type(ex).__name__}: {str(ex)[:200]}"
            return None

    pq_recall = _recall("sim_pq_rerank_topk")
    ivfpq_recall = _recall("sim_ivfpq_topk")

    # Scaling curve: every headline query once at sf0.01 AND the bench SF
    # (10x data), with executed-plan shuffle metrics. The check that the
    # plans hold at scale, as a measured artifact instead of an eyeballed
    # EXPLAIN: time and shuffle volume should grow ~linearly with data —
    # a query whose shuffle grows super-linearly (ratio >> 10 on 10x
    # data) has a pair-blowup or a broadcast that silently flipped.
    scaling = scaling_section(spark, suite, sf_dir)
    # Third point: bench SF -> synthesized ~10x bench SF, extending the
    # measured span to 100x so quadratic terms can't hide inside 10x.
    scaling_100x = scaling_100x_section(spark, suite, sf_dir)

    # Quadratic-risk dedup/similarity operators at the same 100x-span
    # point (round 8), reusing the synthesized dir.
    dedup_stress = dedup_stress_section(
        spark, sf_dir, scaling_100x.get("big_dir")
    )

    # Core-scaling probe (round-12 verdict #2): at sf0.1 every headline
    # query is overhead-bound (~15 queries × 3-16 jobs × ~60 ms scheduler
    # latency), so 8-core ≈ 32-core wall and the core-count contract is
    # invisible from the `queries` dict alone. The synthesized ~sf1 point
    # is compute-dominated for the spread-heavy queries — surface their
    # big-point medians (already measured by scaling_100x, no extra runs)
    # next to the resolved core count, so records taken at two core
    # counts show seconds moving with cores.
    core_scaling_probe = {
        "cores": sc.defaultParallelism,
        "sf1ish_sec": {
            n: (scaling_100x.get("queries") or {}).get(n, {}).get("t_1ish")
            for n in (
                "dedup_minhash_lsh",
                "dedup_minhash_lsh_xxh",
                "curation_decontaminate",
            )
        },
    }

    # DML write-amplification microbench (round 8).
    dml = dml_section(spark)

    # Metadata-plane flatness: commit latency/bytes at 1k vs 50k segments
    # (round 9 — the delta manifest log's proof artifact).
    manifest_plane = manifest_plane_section(spark)

    # Contention signature: a query whose median ran >30% above its own
    # min within the SAME bench invocation was interfered with mid-run —
    # the per-run complement of the parallel host probe's before/after
    # readings (a slow parallel probe says the host was busy; a wide
    # min/median gap says WHICH timings to distrust).
    contended = sorted(
        name
        for name, d in detail.items()
        if d["min"] and d["median"] / d["min"] > 1.3
    )

    # Probe-normalized ratios (round-9 verdict ask #5): seconds ÷ the
    # host-speed probe (numpy matmul, before/after averaged). The round-8
    # official artifact was taken on a uniformly-degraded host, which the
    # min/median contention flag can't catch (everything was equally
    # slow); normalized numbers compare across rounds/hosts. Quiet
    # reference probe ≈ 0.17 s, so normalized ≈ seconds × 5.9 there.
    probe_norm = (
        probe_before["numpy_matmul_sec"] + probe_after["numpy_matmul_sec"]
    ) / 2.0
    queries_normalized = {
        n: (round(v / probe_norm, 2) if v is not None else None)
        for n, v in medians.items()
    }

    out = {
        "metric": "headline_suite_wall_sec",
        "value": suite_median_sum,
        "unit": "sec",
        "queries": medians,
        "queries_detail": detail,
        "runs_per_query": RUNS,
        "wall_sec_total": wall_total,
        "host_probe_before": probe_before,
        "host_probe_after": probe_after,
        "cores_echo": cores_echo,
        "core_scaling_probe": core_scaling_probe,
        "ivf_recall_at_5": ivf_recall,
        "pq_recall_at_5": pq_recall,
        "ivfpq_recall_at_5": ivfpq_recall,
        "scaling": scaling,
        "scaling_100x": scaling_100x,
        "dedup_stress_100x": dedup_stress,
        "dml": dml,
        "manifest_plane": manifest_plane,
        "queries_normalized": queries_normalized,
        "probe_norm_sec": round(probe_norm, 4),
        "contended_queries": contended,
        "sf": sf,
    }
    if errors:
        out["errors"] = errors

    # The harness that records this bench captures only the LAST ~2000
    # characters of stdout and json-parses from there; a longer line loses
    # the structured result entirely (rounds 2/4/5 recorded parsed=null for
    # exactly this reason). So: full detail goes to BENCH_DETAIL.json next
    # to this script, and stdout's final line is a compact summary kept
    # under the capture window — dropping optional sections first if a
    # flood of error strings ever pushes it over.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    try:
        with open(detail_path, "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
    except OSError:
        detail_path = None

    compact = {
        "metric": "headline_suite_wall_sec",
        "value": suite_median_sum,
        "unit": "sec",
        "queries": medians,
        "sf": sf,
        "runs_per_query": RUNS,
        "cores_echo": cores_echo,
        "core_scaling_probe": core_scaling_probe,
        "host_probes_sec": [
            probe_before["python_loop_sec"],
            probe_after["python_loop_sec"],
            probe_before["numpy_matmul_sec"],
            probe_after["numpy_matmul_sec"],
        ],
        # parallel probe (before, after) + in-run min/median divergence:
        # together they say whether a slow number is the host's fault.
        "parallel_probe_sec": [
            probe_before.get("parallel_matmul_sec"),
            probe_after.get("parallel_matmul_sec"),
        ],
        "contended_queries": contended,
        "recall_at_5": {
            "ivf": ivf_recall,
            "pq_rerank": pq_recall,
            "ivfpq": ivfpq_recall,
        },
        "superlinear_shuffle": scaling.get("superlinear_shuffle"),
        "superlinear_shuffle_100x": scaling_100x.get("superlinear_shuffle"),
        "superlinear_shuffle_dedup": dedup_stress.get("superlinear_shuffle"),
        "dml_sec": {
            k: v.get("sec") for k, v in dml.get("ops", {}).items()
        },
        "scaling_time_ratios": {
            n: e.get("time_ratio")
            for n, e in scaling.get("queries", {}).items()
        },
        # host-normalized per-query ratios (seconds ÷ numpy probe):
        # the cross-round comparable number (round 9).
        "queries_normalized": queries_normalized,
        "probe_norm_sec": round(probe_norm, 4),
        # metadata-plane flatness summary (full numbers in the detail file)
        "manifest_plane": {
            "commit_sec_1k": manifest_plane.get("1000", {}).get(
                "commit_sec_median"
            ),
            "commit_sec_50k": manifest_plane.get("50000", {}).get(
                "commit_sec_median"
            ),
            "latency_ratio_50x": manifest_plane.get(
                "commit_latency_ratio_50x"
            ),
            "bytes_ratio_50x": manifest_plane.get("commit_bytes_ratio_50x"),
            # round-10 two-level checkpoint at 200k segments: cold
            # PREDICATE planning O(matched shards) vs the full parse,
            # and the O(changed-shards) incremental checkpoint write.
            "cold_pruned_200k_sec": manifest_plane.get(
                "200000_sharded", {}
            ).get("cold_pruned_load_sec"),
            "cold_full_200k_sec": manifest_plane.get(
                "200000_sharded", {}
            ).get("cold_full_load_sec"),
            "ckpt_incr_200k_sec": manifest_plane.get(
                "200000_sharded", {}
            ).get("checkpoint_incremental_write_sec"),
        },
        # definitive plan-transition adjudications from the scaling
        # instruments (strategy flip recorded per point; empty = none)
        "plan_transitions": sorted(
            {
                n
                for sec in (scaling, scaling_100x, dedup_stress)
                for n, e in (sec.get("queries") or {}).items()
                if "plan_transition" in e or "plan_transition_suspect" in e
            }
        ),
        "detail_file": detail_path,
    }
    if errors:
        compact["errors"] = {k: v[:80] for k, v in errors.items()}
    # Degrade gracefully: shed the least essential keys until the line
    # fits (everything shed is still in BENCH_DETAIL.json; the per-round
    # headline numbers — queries, normalized ratios, manifest flatness —
    # go last).
    for drop in (
        "scaling_time_ratios",
        # queries_normalized sheds early: it is EXACTLY round(queries[n] /
        # probe_norm_sec, 2) — both operands stay on the line — and the
        # full dict is in BENCH_DETAIL.json; the adjudication flags and
        # the cores-contract fields below it are not derivable.
        "queries_normalized",
        "dml_sec",
        "plan_transitions",
        "superlinear_shuffle_dedup",
        "superlinear_shuffle_100x",
        "superlinear_shuffle",
        "contended_queries",
        "manifest_plane",
        "errors",
    ):
        if len(json.dumps(compact)) <= 1800:
            break
        compact.pop(drop, None)
    line = json.dumps(compact)
    if len(line) > 1800:  # last resort: queries dict itself is huge
        compact["queries"] = {"truncated": len(medians)}
        line = json.dumps(compact)
    print(line)
    sys.exit(1 if errors else 0)


if __name__ == "__main__":
    main()
