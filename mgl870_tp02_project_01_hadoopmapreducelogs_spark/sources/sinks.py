"""S4/S5 — sinks and catalog persistence.

Reference: ``event_matrix.to_csv('event_matrix.csv')``
(process_logs_v10.py:160) and the hidden binary Drain3 state blob
``drain3_state.bin`` written by a snapshot timer
(process_logs_v10.py:39-40,120,11-13). Here persistence is explicit and
engine-native: CSV for the human-facing summary (coalesced — it is
catalog-sized, not corpus-sized), Parquet for everything large, and the
miner "state" is simply the versioned templates table — re-mining with
an existing catalog reproduces the reference's accumulate-across-runs
behavior without hidden side effects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.mining import build_catalog


def write_csv(df: DataFrame, path: str, single_file: bool = True) -> None:
    """S4 — header CSV sink (process_logs_v10.py:160). ``single_file``
    matches the reference's one-file convention; leave False for big
    outputs so every task writes in parallel."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", True).csv(path)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Hive-style partitioned Parquet sink (``path/col=value/...``).

    The 100-TB layout lever: a downstream filter on a partition column
    becomes directory-listing pruning (``PartitionFilters`` in the scan,
    non-matching partitions never opened) — the engine-native
    generalization of the reference's filename predicate P1, which
    pruned at listing time too (process_logs_v10.py:96). Keep partition
    cardinality bounded (lang, date, event class — not doc_id): each
    value is a directory, and tiny partitions defeat the scan."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def write_catalog(catalog: DataFrame, path: str) -> None:
    """S5 — persist the template catalog as Parquet (replaces
    drain3_state.bin, process_logs_v10.py:39-40)."""
    catalog.write.mode("overwrite").parquet(path)


def read_catalog(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def accumulate_catalog(old: DataFrame, new: DataFrame) -> DataFrame:
    """Reference semantics: re-running adds the new run's sizes onto the
    persisted state (Σ size grows run over run — BASELINE.md observables
    1,984,400 → 6,716,120). Full-outer merge on template, sizes summed,
    ids re-ranked deterministically (``mining.build_catalog``)."""
    return build_catalog(
        old.select("template", "size")
        .unionByName(new.select("template", "size"))
        .groupBy("template")
        .agg(F.sum("size").alias("size"))
    )
