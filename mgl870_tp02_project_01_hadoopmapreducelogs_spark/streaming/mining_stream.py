"""Structured Streaming surface (SURVEY §2.9).

The reference's Drain3 loop is already stream-shaped: lines arrive one
at a time, state snapshots every minute (process_logs_v10.py:11-13,65),
and the persisted miner accumulates across runs (drain3_state.bin,
process_logs_v10.py:39-40). Here that becomes first-class Structured
Streaming over the batch code itself: ``readStream.text`` ingest of a
growing log directory with the batch scan options, the batch parser
(``parse_stream`` IS ``sources.logs.parse_lines``), the batch template
count (``mine_templates_stream`` IS ``operators.mining.template_counts``)
as a streaming aggregation whose state store plays the role of
drain3_state.bin — checkpointed, exactly-once, unbounded — and the
batch ``DrainMiner`` fit rule for the faithful online Drain stream.

The reference destroyed timestamps so it has no event-time semantics;
we parse them, so late data is handled with a real watermark — a
capability the reference could not express (SURVEY §2.9).
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.mining import template_counts
from ..sources.logs import CONTAINER_GLOB, log_reader, parse_lines

#: the batch parser: raw ``(value, file)`` stream rows keep their
#: columns and gain ts/level/thread/logger/message/masked
parse_stream = parse_lines
#: T1 streaming: running ``(template, size)`` counts (complete/update mode)
mine_templates_stream = template_counts

_SINK_IDS = itertools.count(1)


def read_log_stream(
    spark: SparkSession,
    logs_dir: str,
    glob: str = CONTAINER_GLOB,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """S1 as a stream: new ``container_*.log`` files appearing under
    ``logs_dir`` are ingested incrementally, as ``(value, file)`` rows
    (no per-file line numbers: a stream has no end of file to rank by)."""
    reader = log_reader(spark.readStream, glob, True)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.text(logs_dir).withColumn("file", F.input_file_name())


def windowed_event_counts(
    parsed: DataFrame, window: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Tumbling event-time windows with late-data handling — the
    watermarked form of W1 (append-mode compatible)."""
    return (
        parsed.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window).alias("w"),
            F.col("masked").alias("template"),
        )
        .agg(F.count(F.lit(1)).alias("size"))
        .select(F.col("w.start").alias("window_start"), "template", "size")
    )


def run_to_memory(stream_df: DataFrame, name: str, mode: str = "complete") -> DataFrame:
    """Drive a (bounded) stream to completion into a memory sink — the
    synchronous harness used by tests and the driver contract. The sink
    table is ``<name>_<n>``, unique per call, so repeated runs never
    collide on a live query name."""
    table = f"{name}_{next(_SINK_IDS)}"
    q = (
        stream_df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(table)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return stream_df.sparkSession.table(table)


def new_template_feed_stream(parsed: DataFrame, masked_col: str = "masked") -> DataFrame:
    """T3 as a stateful stream: emit each template exactly once — the
    first time it is ever seen — with its first-batch count (the
    reference prints new templates as Drain discovers them,
    process_logs_v10.py:67-78).

    Custom stateful operator via ``applyInPandasWithState``: state is
    one running total per template key, partitioned by template hash —
    the state store scales horizontally with executors and survives
    restarts through the checkpoint, which is exactly the role
    drain3_state.bin played single-node.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def emit_first_sighting(key, pdfs, state: GroupState):
        count = 0
        for pdf in pdfs:
            count += len(pdf)
        if state.exists:
            (total,) = state.get
            state.update((total + count,))
            return iter([])
        state.update((count,))
        return iter([pd.DataFrame({"template": [key[0]], "first_size": [count]})])

    return (
        parsed.groupBy(F.col(masked_col))
        .applyInPandasWithState(
            emit_first_sighting,
            outputStructType="template string, first_size long",
            stateStructType="total long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def drain_mining_stream(
    parsed: DataFrame,
    masked_col: str = "masked",
    sim_th: float = 0.4,
    max_clusters_per_leaf: int = 512,
) -> DataFrame:
    """T1(c) as a faithful ONLINE stream: Drain's fixed-depth tree,
    decomposed onto the state store.

    Drain routes a line by (token_count, first tokens) to a leaf, then
    similarity-merges within the leaf (He et al. 2017). That routing
    key IS a shuffle key: group the stream by the prefix
    ``(token_count, head)`` and keep each leaf's cluster list as that
    key's state — the tree becomes horizontally partitioned state, one
    leaf per key, exactly the role drain3_state.bin played single-node.
    Each micro-batch rebuilds the leaf as a batch ``DrainMiner`` seeded
    with its persisted clusters as they are, absorbs the batch's lines
    with the batch fit rule (``DrainMiner.add``), and emits the leaf's
    updated clusters (latest emission per (leaf, cluster_idx) wins — an
    upsert change feed).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.drain import DrainMiner

    def update_leaf(key, pdfs, state: GroupState):
        n_toks, head = key
        # depth 2: the state key already routed the line to its leaf
        miner = DrainMiner(depth=2, sim_th=sim_th, max_clusters=max_clusters_per_leaf)
        if state.exists:
            for template, size in zip(*state.get):
                miner.seed(template, int(size))
        n_lines = 0
        for pdf in pdfs:
            n_lines += len(pdf)
            for msg in pdf[masked_col]:
                miner.add(msg)
        if not n_lines:
            return iter([])
        templates, sizes = map(list, zip(*miner.templates()))
        state.update((templates, sizes))
        return iter(
            [
                pd.DataFrame(
                    {
                        "n_toks": [int(n_toks)] * len(templates),
                        "head": [head] * len(templates),
                        "cluster_idx": list(range(len(templates))),
                        "template": templates,
                        "size": sizes,
                    }
                )
            ]
        )

    keyed = parsed.select(
        F.size(F.split(F.col(masked_col), " ")).alias("n_toks"),
        F.split(F.col(masked_col), " ").getItem(0).alias("head"),
        masked_col,
    )
    return keyed.groupBy("n_toks", "head").applyInPandasWithState(
        update_leaf,
        outputStructType=(
            "n_toks int, head string, cluster_idx int, template string, size long"
        ),
        stateStructType="templates array<string>, sizes array<long>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def latest_drain_catalog(emissions: DataFrame) -> DataFrame:
    """Collapse the drain change feed to the current catalog: the
    latest emission per (leaf, cluster_idx) is the newest template/size
    (sizes only grow, so max(size) identifies it)."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("n_toks", "head", "cluster_idx")
        .orderBy(F.col("size").desc())
    )
    return (
        emissions.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("template", "size")
    )


def _recover_catalog_swap(fs_path: str) -> None:
    """Heal a crash inside the update-mode sink's rename pair: if the
    live catalog path is missing, restore the newest complete catalog —
    the staged merge if its _SUCCESS marker landed, else the retired
    previous catalog. Idempotent; no-op in the normal case. Keeps epoch
    retries from mistaking a mid-swap crash for a first epoch (which
    would truncate the catalog to one batch's changed templates)."""
    import glob as _glob
    import os
    import re as _re

    def _by_epoch(paths):
        # NUMERIC epoch order — a lexicographic sort would rank
        # __epoch_9 above __epoch_12 and roll the catalog back
        return sorted(
            paths, key=lambda p: int(_re.search(r"__epoch_(\d+)_", p).group(1))
        )

    if os.path.exists(fs_path):
        return
    stagings = _by_epoch(_glob.glob(f"{fs_path}.__epoch_*_staging"))
    retireds = _by_epoch(_glob.glob(f"{fs_path}.__epoch_*_retired"))
    for cand in reversed(stagings):
        if os.path.exists(os.path.join(cand, "_SUCCESS")):
            os.rename(cand, fs_path)
            return
    if retireds:
        os.rename(retireds[-1], fs_path)


def write_catalog_stream(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    mode: str = "complete",
    available_now: bool = False,
):
    """S5 streaming sink: checkpointed foreachBatch persistence of the
    template catalog to Parquet (the drain3_state.bin replacement).

    ``complete`` (default): every epoch carries the FULL catalog, so a
    plain overwrite is correct and idempotent by epoch — the right mode
    here because the catalog is bounded by template cardinality, not
    line count. ``update``: epochs carry only the templates whose
    counts changed, so the sink MERGES the batch into the existing
    parquet (templates absent from the batch keep their previous rows)
    instead of overwriting — an overwrite would silently drop every
    untouched template after the first trigger.
    """

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        import os
        import shutil

        out = batch_df
        if mode == "update":
            spark = batch_df.sparkSession
            fs_path = path[len("file:"):] if path.startswith("file:") else path
            _recover_catalog_swap(fs_path)
            # drop any stale staging/retired siblings from earlier
            # crashed epochs: a retried epoch reuses its epoch_id, and
            # os.rename cannot overwrite a non-empty directory — a
            # leftover would wedge every retry with ENOTEMPTY
            import glob as _glob

            for stale in _glob.glob(f"{fs_path}.__epoch_*_staging") + _glob.glob(
                f"{fs_path}.__epoch_*_retired"
            ):
                shutil.rmtree(stale, ignore_errors=True)
            if os.path.exists(fs_path):
                # existence checked explicitly above — a read failure
                # here is a REAL error and must abort the epoch, never
                # be mistaken for "first epoch, nothing to merge"
                existing = spark.read.parquet(path)
                merged = existing.join(
                    batch_df.select("template"), "template", "left_anti"
                ).unionByName(batch_df)
                # the merge reads `path`, so it can't overwrite `path`
                # in the same job. Stage the merged catalog to a
                # sibling directory (fully DISTRIBUTED write — no
                # driver round-trip), then swap with two renames. The
                # rename pair is not atomic as a unit: a crash between
                # them leaves no live path, which the _recover() at
                # the NEXT epoch (or next stream start) heals from the
                # staged/retired copies — the merge is idempotent per
                # epoch, so replay is safe. On object stores or for
                # multi-writer setups use a transactional table format
                # (Delta/Iceberg MERGE) instead — this sink is
                # single-writer by Structured Streaming's epoch
                # contract.
                staging = f"{fs_path}.__epoch_{epoch_id}_staging"
                retired = f"{fs_path}.__epoch_{epoch_id}_retired"
                merged.write.mode("overwrite").parquet(staging)
                os.rename(fs_path, retired)
                os.rename(staging, fs_path)
                shutil.rmtree(retired)
                return
        out.write.mode("overwrite").parquet(path)

    writer = (
        stream_df.writeStream.outputMode(mode)
        .option("checkpointLocation", checkpoint)
        .foreachBatch(sink)
    )
    if available_now:
        # one-shot catch-up: process every file not yet recorded in the
        # checkpoint, emit, and stop — the CLI's incremental-run trigger
        writer = writer.trigger(availableNow=True)
    return writer.start()
