"""SparkSession factory for the engine.

Scale posture: these defaults are written for a real cluster (1000 executors,
~100 TB) but tested on ``local[N]``. Everything data-size-dependent (shuffle
partitions, broadcast threshold, partition bytes) is configurable via env so
the same code runs at sf0.001 locally and at full scale unchanged:

- AQE is ON: runtime shuffle-partition coalescing, skew-join splitting, and
  runtime broadcast conversion do the per-scale tuning that static configs
  can't (`spark.sql.adaptive.*`).
- Arrow is ON for every Pandas UDF / applyInPandas boundary (the stateful
  sessionization operator lives there).
- Session timezone is pinned to UTC so timestamp semantics match the DuckDB
  correctness oracle and are reproducible across clusters.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

_DEFAULTS: dict[str, str] = {
    # Adaptive execution: the per-scale tuner. Coalesces small shuffle
    # partitions at sf0.01, splits skewed ones at 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for pandas UDFs / applyInPandas / toPandas.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Python data sources (sources/table_source.py) prune segments from
    # pushed-down filters; off by default in Spark 4.1.
    "spark.sql.python.filterPushdown.enabled": "true",
    # Deterministic timestamp semantics (matches DuckDB oracle).
    "spark.sql.session.timeZone": "UTC",
    # Broadcast joins for dimension tables (region/nation/customer-sized).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Above the broadcast threshold, let the planner pick a shuffled HASH
    # join when one side is provably small per partition (no sort of
    # either side), and let AQE rewrite a planned sort-merge to shuffled
    # hash at runtime when every post-shuffle partition is under the
    # advisory size (guide: joins §3.1). Sort-merge remains the fallback
    # whenever the size conditions don't hold, so spill behavior at true
    # scale is unchanged.
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": str(
        64 * 1024 * 1024
    ),
    # Input split sizing — at 100 TB this bounds task count; 128 MB default.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # The driver's events.parquet stores TIMESTAMP(NANOS); Spark has no
    # nanosecond timestamp type — read as long and convert at load (io.py),
    # truncating to micros exactly like DuckDB's ns→us cast so the
    # correctness oracle sees identical values.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Quieter local runs.
    "spark.ui.showConsoleProgress": "false",
}


def get_spark(
    app_name: str = "lakehouse_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) when
    no cluster master is set; on a real cluster pass ``master=None`` with
    ``spark.master`` preconfigured and this is a no-op passthrough.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # Rule of thumb: ~2-3x cores locally; on a cluster AQE coalescing
        # makes a high static value safe, so cores-proportional is fine.
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus))
        )

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try:
        # format("lakehouse") everywhere an engine session exists
        # (idempotent; re-registration overwrites with the same class).
        from lakehouse_spark.sources.table_source import LakehouseDataSource

        spark.dataSource.register(LakehouseDataSource)
    except Exception:  # noqa: BLE001 — a session without the DS still works
        pass
    return spark


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """``rows`` — a list of tuples, or an Arrow table — as a DataFrame typed
    by ``schema`` (a StructType or DDL string), built from Arrow: a
    LocalRelation with real size statistics, so collecting it runs no
    Spark job, joins broadcast it, and filters fold into it while
    optimizing. A list-built frame is instead an RDD of pickled rows whose
    every scan runs a Python task per core.

    A naive datetime in a top-level TIMESTAMP column is local wall time,
    the instant the list path gives it."""
    from datetime import timezone

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import TimestampType, _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    if not isinstance(rows, pa.Table):
        arrow = to_arrow_schema(schema)
        cols = []
        for i, f in enumerate(schema.fields):
            vals = [r[i] for r in rows]
            if isinstance(f.dataType, TimestampType):
                # pyarrow keeps an aware datetime's wall time: hand it UTC
                vals = [v and v.astimezone(timezone.utc) for v in vals]
            cols.append(pa.array(vals, arrow.field(i).type))
        rows = pa.Table.from_arrays(cols, schema=arrow)
    return spark.createDataFrame(rows, schema)


def cluster_conf(
    data_tb: float,
    executors: int = 1000,
    cores_per_executor: int = 4,
    executor_mem_gb: int = 16,
) -> dict[str, str]:
    """Derived Spark conf for a real cluster run at ``data_tb`` of input —
    the sizing arithmetic behind the engine's 100 TB posture, as code
    instead of a wiki page. Merge the result into ``get_spark(extra_conf=)``
    or spark-submit ``--conf`` flags.

    The invariants it encodes (pytest-pinned):

    - shuffle partitions target ~200 MB of pre-AQE shuffle data each,
      floored at 2x total cores so every core has work; AQE coalescing
      then shrinks small stages at runtime, so oversizing is safe and
      undersizing is the only real failure mode;
    - max partition bytes stays 256 MB — scan task count scales with data,
      not with the partition knob;
    - per-core working memory (executor mem / cores, after the 0.6 unified
      fraction) must comfortably hold one shuffle partition — the
      spill-avoidance bound;
    - AQE skew-join split + runtime broadcast stay on (they ARE the
      per-scale tuner; static conf can't know which keys run hot).
    """
    total_cores = executors * cores_per_executor
    # ~1/3 of scanned bytes typically survives projection+filter into the
    # big shuffles (measured 0.1-0.5 across the headline suite's scaling
    # section); size partitions for that at 200 MB apiece.
    shuffle_bytes = data_tb * (1 << 40) / 3
    parts = max(2 * total_cores, int(shuffle_bytes // (200 * (1 << 20))))
    per_core_mb = executor_mem_gb * 1024 * 0.6 / cores_per_executor
    if per_core_mb < 300:
        raise ValueError(
            f"{executor_mem_gb} GB / {cores_per_executor} cores leaves "
            f"{per_core_mb:.0f} MB working memory per task — under the "
            "~300 MB a 200 MB shuffle partition needs headroom for; "
            "use fewer cores per executor or more memory"
        )
    return {
        "spark.sql.shuffle.partitions": str(parts),
        "spark.sql.files.maxPartitionBytes": str(256 * (1 << 20)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": str(64 * (1 << 20)),
        "spark.executor.instances": str(executors),
        "spark.executor.cores": str(cores_per_executor),
        "spark.executor.memory": f"{executor_mem_gb}g",
        # Arrow batches stay bounded so pandas-UDF peak memory is
        # per-batch, not per-partition.
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    }
