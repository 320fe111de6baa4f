"""Structured-Streaming wrapper over the batch KG stages (SURVEY §2.9).

The reference has no true streaming — its "queue of ingest jobs" is
FastAPI BackgroundTasks + an asyncio ledger (/root/reference/src/api/
routers/ingest.py:94-117, src/api/task_tracker.py:31-156). The Spark
twin: `readStream` on the pages directory (new parquet files = newly
crawled batches) → `foreachBatch` running the SAME batch stage
functions → append sinks, with exactly-once bookkeeping from the
streaming checkpoint + batch-id dedup.

Design:
* foreachBatch (not stream-native operators) because the pipeline's
  per-batch semantics ARE the batch semantics — one code path, no
  drift between modes, and the triple-dedup against already-written
  output needs a join with the sink, which pure streaming ops forbid.
* watermark/event-time ops are available for the windowed-aggregation
  use case (events_windowed_counts below) and tested with a rate
  source shape; the KG path needs none (stateless per page).
* at-least-once → effectively-once: foreachBatch may replay a batch
  after crash; the sink write is an idempotent anti-join append
  (triples are keyed (subj, pred, obj) — replays insert nothing new).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgp import fsutil, schemas


def stream_pages(spark: SparkSession, pages_dir: str) -> DataFrame:
    """readStream over a growing directory of pages parquet."""
    return (
        spark.readStream.schema(schemas.PAGES)
        .option("maxFilesPerTrigger", 4)
        .parquet(pages_dir)
    )


def triples_for_batch(batch_df: DataFrame) -> DataFrame:
    """The batch pipeline applied to one micro-batch (shared code)."""
    from kgp.operators.segment import extract_docs
    from kgp.operators.triples import build_triples
    from kgp.plans.pipeline import capped_mentions

    return build_triples(capped_mentions(extract_docs(batch_df)))


def _read_sink(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """Read the triples sink, or None before the first batch commits.

    First-batch detection matches the PATH_NOT_FOUND error CLASS
    (getCondition, with the deprecated getErrorClass as fallback), not
    a substring of the rendered message — a renamed message must fail
    loudly rather than skip the dedup join and duplicate on replay.
    """
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(out_dir)
    except AnalysisException as e:
        klass = None
        for attr in ("getCondition", "getErrorClass"):
            fn = getattr(e, attr, None)
            if fn is not None:
                klass = fn()
                if klass:
                    break
        if klass != "PATH_NOT_FOUND":
            raise
        return None


def start_kg_stream(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Continuous KG construction: new page files → triples appended
    idempotently. Returns the StreamingQuery (caller awaits/stops).

    The sink is PARTITIONED BY the pages' ingest date (warc_ts day),
    and the replay-dedup anti-join reads ONLY the partitions whose
    dates appear in the current micro-batch (partition pruning on the
    isin filter). The per-batch read cost is therefore bounded by the
    batch's date window, not by the cumulative sink size — at a 100 TB
    sink the old whole-sink anti-join re-scanned everything every
    micro-batch. Tradeoff (documented): dedup is scoped per ingest
    date; a url re-crawled on a LATER date appends fresh rows —
    `compact_triples_sink` below owns cross-date reconciliation —
    while crash replays (same batch, same dates) still insert nothing.
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        new_triples = triples_for_batch(batch_df)
        # subj = 'page:' || url, so the batch's (subj → date) map is a
        # tiny broadcast; dates per micro-batch are a handful. ONE
        # date per subj (min) — a url crawled twice with different
        # warc_ts days inside one micro-batch must not fan its
        # (distinct) triples out to two rows.
        url_dates = (
            batch_df.select(
                F.concat(F.lit("page:"), F.col("url")).alias("subj"),
                F.to_date("warc_ts").alias("ingest_date"),
            )
            .groupBy("subj")
            .agg(F.min("ingest_date").alias("ingest_date"))
        )
        new_triples = new_triples.join(F.broadcast(url_dates), "subj")
        batch_dates = [
            r["ingest_date"]
            for r in url_dates.select("ingest_date").distinct().collect()
        ]
        existing = _read_sink(spark, out_dir)
        if existing is not None:
            overlap = existing.filter(
                F.col("ingest_date").isin(batch_dates)
            ).select("subj", "pred", "obj")
            new_triples = new_triples.join(
                overlap, ["subj", "pred", "obj"], "left_anti"
            )
        new_triples.write.mode("append").partitionBy(
            "ingest_date"
        ).parquet(out_dir)

    return (
        stream_pages(spark, pages_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# (FileSystem, Path) resolution lives in kgp.fsutil — directory swaps
# must go through Hadoop's FileSystem, not os.rename: the sink of a
# cluster job is almost never on the driver's local disk.
_hadoop_fs = fsutil._fs


def compact_triples_sink(spark: SparkSession, out_dir: str) -> int:
    """S6 upsert compaction: restore the global (subj, pred, obj) key
    invariant that the per-date streaming dedup relaxes.

    A url re-crawled on a LATER ingest date appends duplicate triples
    (start_kg_stream dedups only inside the batch's date window — the
    price of a partition-pruned anti-join). This job is the
    reconciliation half of that tradeoff: keep the MIN ingest_date per
    (subj, pred, obj) and rewrite the sink. Returns rows removed.

    Physical shape: one shuffle (groupBy the edge key, map-side partial
    min), written partitioned by ingest_date into a tmp sibling, then
    an atomic directory swap — readers never see a half-compacted sink.
    At 100 TB this runs scoped: join the recent ingest window's keys
    against the sink first so only partitions holding an affected key
    are rewritten (Iceberg's MERGE + rewrite_data_files is the managed
    analog); the full rewrite below is the correct small-scale form of
    the same plan.

    PRECONDITION: no writer may be appending to out_dir while this
    runs. The swap is two plain renames; a concurrent micro-batch
    could commit rows into the snapshot window (they'd leave with the
    backup) or re-create out_dir between the renames. Same-session
    streams are detected and refused below; cross-process writers
    must be stopped by the caller (a table format with transactions —
    Iceberg/Delta MERGE — is the 100 TB answer). On a failed swap
    nothing is deleted: the original sink is restored, or preserved
    in the .pre-compact backup named by the raised error.

    Filesystem ops go through the Hadoop FileSystem API so the swap
    works wherever the sink lives (local, HDFS, s3a). Caveat: rename
    is atomic on local/HDFS but a copy on S3A — on object stores the
    transactional-table formats above are the real answer.
    """
    import os

    if spark.streams.active:
        raise RuntimeError(
            "compact_triples_sink requires all streaming queries "
            "stopped (active: "
            f"{[q.name or q.id for q in spark.streams.active]}); a "
            "concurrent append during the directory swap can lose "
            "committed rows."
        )
    sink = _read_sink(spark, out_dir)
    if sink is None:
        return 0
    before = sink.count()
    compacted = (
        sink.groupBy("subj", "pred", "obj")
        .agg(
            F.min("ingest_date").alias("ingest_date"),
            # edge_id is a pure function of (subj, obj): identical
            # across duplicates, min() just picks the constant
            F.min("edge_id").alias("edge_id"),
        )
        .select("subj", "pred", "obj", "edge_id", "ingest_date")
    )
    tmp = f"{out_dir}.compact-{os.getpid()}"
    compacted.write.mode("overwrite").partitionBy("ingest_date").parquet(
        tmp
    )
    after = spark.read.parquet(tmp).count()
    bak = f"{out_dir}.pre-compact-{os.getpid()}"
    fs, out_p = _hadoop_fs(spark, out_dir)
    tmp_p = spark._jvm.org.apache.hadoop.fs.Path(tmp)
    bak_p = spark._jvm.org.apache.hadoop.fs.Path(bak)
    if not fs.rename(out_p, bak_p):
        raise RuntimeError(
            f"compaction swap failed moving sink aside to {bak}; "
            f"sink untouched, compacted output left at {tmp}"
        )
    if not fs.rename(tmp_p, out_p):
        # out_dir re-created mid-swap (precondition violated) or the
        # rename failed outright: never delete anything — restore the
        # original sink if its slot is still free, else point at the
        # backup.
        restored = False
        if not fs.exists(out_p):
            restored = fs.rename(bak_p, out_p)
        raise RuntimeError(
            "compaction swap failed"
            + (
                " (original sink restored)"
                if restored
                else f" (original sink preserved at {bak})"
            )
            + f"; compacted output left at {tmp}"
        )
    fs.delete(bak_p, True)
    return before - after


def stateful_running_counts(events_stream: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    running per-user event counts + value totals that SURVIVE across
    micro-batches — the engine's template for arbitrary keyed state
    (sessionization, dedup-across-batches, incremental aggregates).

    State schema: (n BIGINT, total DOUBLE) per user_id; each batch
    emits the updated running totals for users seen in that batch.
    Arrow-batched like every other UDF surface in this engine.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    out_schema = "user_id bigint, n bigint, total double"
    state_schema = "n bigint, total double"

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n": [n], "total": [total]}
        )

    return events_stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def events_windowed_counts(
    events_stream: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type — the
    standard late-data-tolerant streaming aggregation, provided as the
    engine's windowed-agg operator (reference has none; SURVEY §2.9).
    """
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )
