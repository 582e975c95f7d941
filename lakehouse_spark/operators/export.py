"""Training-corpus export: the terminal stage of the curation pipeline —
materialize curated documents as partitioned, sharded parquet that a
training job can consume shard-by-shard.

Layout: ``out_dir/split=train/shard=NN/part-*.parquet``. Properties that
matter at 100 TB:

- **Deterministic placement**: split and shard come from the md5 hash of
  the id (never rand()), so re-running the export after adding documents
  moves NOTHING that was already placed — incremental re-export touches
  only new rows' shards, and two clusters produce the same layout.
- **Bounded shard count**: ``repartition(shard)`` inside each split keys
  the shuffle on the shard id, producing exactly one task's output per
  shard rather than files-per-input-partition (the small-file explosion).
- **Reader contract**: a trainer lists ``split=train`` and round-robins
  shards across data-loader workers; per-shard row counts are balanced by
  the uniformity of the hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_spark.functions.scalar import hash64
from lakehouse_spark.operators.text import hash_split


def export_training_shards(
    docs: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    n_shards: int = 8,
    weights: dict[str, int] | None = None,
    seed: int = 17,
) -> None:
    """Write ``docs`` as split- and shard-partitioned parquet. Split comes
    from :func:`hash_split` (deterministic train/val/test), shard from an
    independent hash family."""
    with_split = hash_split(
        docs, id_col, weights=weights or {"train": 18, "val": 1, "test": 1}
    )
    shard = (hash64(f"cast(`{id_col}` as string)", seed=seed) % n_shards).alias(
        "shard"
    )
    keyed = with_split.withColumn("shard", shard)
    (
        keyed.repartition(n_shards, "shard")
        .write.mode("overwrite")
        .partitionBy("split", "shard")
        .parquet(out_dir)
    )


def read_split(spark: SparkSession, out_dir: str, split: str) -> DataFrame:
    """Reader contract: one split's rows, shard column preserved for
    loader-worker round-robin; partition pruning keeps other splits
    unread (PushedFilters on the partition column)."""
    return spark.read.parquet(out_dir).filter(F.col("split") == split)
