"""Incremental / streaming extraction (SURVEY.md §2.10).

The reference is a polling micro-batch system: a fetch worker re-queries
`status=pending` every 5 s (`enhanced_task_processor.py:255-284`) and the
task table is the durable state. The Spark-native equivalent is
Structured Streaming over the landing directory:

    spark.readStream (file source, schema-locked)
      → extract_spans (same Arrow UDF — batch/stream parity by construction)
      → writeStream.foreachBatch(append parquet + state rows)
      → checkpointLocation = the resume cursor

`Trigger.AvailableNow` drains everything that has landed and stops —
exactly the reference's drain-the-queue semantics, restartable at any
time; a `processingTime='5 seconds'` trigger gives the literal poll loop.
File-source checkpointing already makes each input file
exactly-once-per-query; the foreachBatch sink writes per-batch parquet
keyed by batchId, which Spark re-runs idempotently on recovery (overwrite
of the same batch directory), mirroring the reference's
processing→pending reset on restart (`enhanced_task_processor.py:196-235`).

The reference's tasks have no event time (SURVEY.md §2.10), so the
extraction stream uses no watermark. The *event-analytics* side of the
engine (queries_events.py) does have event time; its streaming twins live
here too:

  - `stream_window_rollup`: watermarked 1-day tumbling aggregation in
    append mode — only finalized (watermark-passed) windows are emitted,
    each exactly once across restarts.
  - `stream_sessionize`: gap-based sessionization as a custom stateful
    operator via `applyInPandasWithState` (EventTimeTimeout). Open
    sessions live in the state store keyed by user_id as interval lists;
    a session becomes FINAL (emitted, removed) only when the watermark
    passes its end + gap, so allowed-late and out-of-order events can
    still extend a session backwards or bridge two open ones. Events
    older than the watermark are dropped (defined late-data semantics).
    Batch/stream parity: emitted sessions equal
    `queries_events.q_ev_sessionize` on the watermark-surviving events,
    on ANY arrival order (asserted in tests, including late arrivals).

Scale: both stateful ops shuffle once on their grouping key into the
state-store partitions (`spark.sql.shuffle.partitions` at first run); at
100 TB/day the state is bounded by open sessions only (closed state is
removed eagerly), and RocksDB state store + changelog checkpointing slot
in via config without code changes.
"""

from __future__ import annotations

import os
from typing import Iterable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from documentconvert_spark.pipeline import extract_spans
from documentconvert_spark.queries_events import SESSION_GAP_S
from documentconvert_spark.schemas import DOCUMENTS_RAW


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Start (and for availableNow: drain) an incremental extraction over
    a landing directory of documents_raw parquet. Returns the query."""
    reader = (
        spark.readStream.schema(DOCUMENTS_RAW)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        if max_files_per_trigger
        else spark.readStream.schema(DOCUMENTS_RAW)
    )
    src = reader.parquet(input_dir)
    out = extract_spans(src)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # idempotent per-batch write: recovery re-runs a batch into the
        # same directory (overwrite), so restarts never duplicate rows
        (
            batch_df.select("doc_id", "spans", "markdown", "n_spans", "error", "error_class")
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, f"batch_id={batch_id}"))
        )

    writer = out.writeStream.foreachBatch(sink).option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="5 seconds")  # reference poll interval
    return writer.start()


def read_stream_output(spark: SparkSession, out_dir: str) -> DataFrame:
    # an availableNow run over an empty landing dir executes ZERO batches,
    # so the sink never creates out_dir — that is "no output yet", not an
    # error (reference poll worker also idles on an empty queue)
    if not os.path.isdir(out_dir):
        return spark.createDataFrame(
            [], "doc_id string, spans array<struct<kind:string,text:string,"
                "media_ref:string,offset:int>>, markdown string, n_spans int, "
                "error string, error_class string"
        )
    return spark.read.option("basePath", out_dir).parquet(out_dir).drop("batch_id")


def drain(spark: SparkSession, input_dir: str, out_dir: str, checkpoint_dir: str) -> DataFrame:
    """Run one availableNow pass to completion and return the cumulative
    output table."""
    q = stream_extract(spark, input_dir, out_dir, checkpoint_dir, trigger_available_now=True)
    q.awaitTermination()
    return read_stream_output(spark, out_dir)


def status_counts(out: DataFrame) -> DataFrame:
    """Live A1-style counts over the stream output."""
    return out.groupBy(
        F.when(F.col("error").isNull(), "completed").otherwise("failed").alias("status")
    ).count()


# ---------------------------------------------------------------------------
# Event-time streaming: watermarked rollup + stateful sessionization
# ---------------------------------------------------------------------------

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)

SESSION_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("t_start", TimestampType()),
        StructField("t_end", TimestampType()),
        StructField("n_events", IntegerType()),
        StructField("n_purchases", IntegerType()),
    ]
)

# open-session state: parallel arrays of (start_ns, last_ns, n, n_purchase)
# — MULTIPLE sessions stay open per user until the watermark finalizes
# them, because an allowed-late event may still extend or bridge them
SESSION_STATE_SCHEMA = StructType(
    [
        StructField("starts", ArrayType(LongType())),
        StructField("lasts", ArrayType(LongType())),
        StructField("ns", ArrayType(IntegerType())),
        StructField("nps", ArrayType(IntegerType())),
    ]
)


def _events_stream(spark: SparkSession, input_dir: str, watermark: str) -> DataFrame:
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(input_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
    )


def _start_append_to(df: DataFrame, out_dir: str, checkpoint_dir: str):
    """Shared append-mode sink: per-batch overwrite into a batch_id
    directory (idempotent under recovery re-runs), availableNow drain."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(os.path.join(out_dir, f"batch_id={batch_id}"))

    return (
        df.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_window_rollup(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "10 minutes",
):
    """1-day tumbling event rollup in append mode: a window row is emitted
    exactly once, when the watermark passes its end (late data inside the
    watermark still lands in the right bucket). Batch twin:
    queries_events.q_ev_window_rollup."""
    agg = (
        _events_stream(spark, input_dir, watermark)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("day_start"), "event_type", "n_events")
    )

    return _start_append_to(agg, out_dir, checkpoint_dir)


def stream_dedup(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    key_cols: list[str] | None = None,
    watermark: str = "10 minutes",
):
    """Streaming exact-dedup (twin of the batch `dedup_exact` op):
    `dropDuplicatesWithinWatermark` keeps the first arrival per key and
    drops re-deliveries across micro-batches; the watermark bounds the
    dedup state (keys older than it are evicted), which is what makes
    exact streaming dedup feasible at 10^12 docs — state holds one
    watermark-window of keys, not the corpus."""
    keys = key_cols or ["event_id"]
    deduped = _events_stream(spark, input_dir, watermark).dropDuplicatesWithinWatermark(keys)

    return _start_append_to(deduped, out_dir, checkpoint_dir)


def _rows_to_sessions(rows: pd.DataFrame, gap_ns: int, min_ts_ns: int) -> list[tuple]:
    """Fold a batch of event rows (any order) into mini-sessions
    (start_ns, last_ns, n, n_purchase); rows older than `min_ts_ns`
    (the watermark) are dropped — the defined late-data semantics."""
    if not len(rows):
        return []
    rows = rows.sort_values(["ts", "event_id"], kind="mergesort")
    ts_ns = rows["ts"].astype("int64").to_numpy()
    is_purchase = (rows["event_type"] == "purchase").to_numpy()
    out: list[tuple] = []
    for t, p in zip(ts_ns, is_purchase):
        t, p = int(t), int(p)
        if t < min_ts_ns:
            continue
        if out and t - out[-1][1] <= gap_ns:
            prev = out[-1]
            out[-1] = (prev[0], max(prev[1], t), prev[2] + 1, prev[3] + p)
        else:
            out.append((t, t, 1, p))
    return out


def _merge_sessions(sessions: list[tuple], gap_ns: int) -> list[tuple]:
    """Interval-merge sessions whose gap is within threshold — this is
    what lets an allowed-late event extend a session backwards or bridge
    two open sessions. Pure; order-insensitive."""
    out: list[tuple] = []
    for s in sorted(sessions):
        if out and s[0] - out[-1][1] <= gap_ns:
            prev = out[-1]
            out[-1] = (prev[0], max(prev[1], s[1]), prev[2] + s[2], prev[3] + s[3])
        else:
            out.append(s)
    return out


def _sessionize_fn(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
    (user_id,) = key
    gap_ns = int(SESSION_GAP_S * 1e9)
    wm_ms = state.getCurrentWatermarkMs()
    wm_ns = wm_ms * 1_000_000

    open_sessions: list[tuple] = list(zip(*state.get)) if state.exists else []
    if not state.hasTimedOut:
        for pdf in pdfs:
            open_sessions = _merge_sessions(
                open_sessions + _rows_to_sessions(pdf, gap_ns, wm_ns), gap_ns
            )

    # a session is FINAL only once the watermark passes its end + gap —
    # until then a late event could still extend or bridge it, so even
    # gap-closed sessions wait in state (this is what batch/stream parity
    # under reordering requires)
    emit, keep = _split_final(open_sessions, gap_ns, wm_ns)

    if keep:
        state.update(tuple(list(col) for col in zip(*keep)))
        next_close_ms = min(last // 1_000_000 + int(SESSION_GAP_S * 1000) for _, last, _, _ in keep)
        state.setTimeoutTimestamp(max(next_close_ms, wm_ms + 1))
    elif state.exists:
        state.remove()

    if emit:
        yield _sessions_frame(user_id, emit)


def _split_final(open_sessions: list[tuple], gap_ns: int, wm_ns: int) -> tuple[list[tuple], list[tuple]]:
    """(emit, keep): a session is final once the watermark passes end+gap."""
    emit = sorted(s for s in open_sessions if s[1] + gap_ns < wm_ns)
    keep = [s for s in open_sessions if s[1] + gap_ns >= wm_ns]
    return emit, keep


def _sessions_frame(user_id, sessions: list[tuple]) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "user_id": [user_id] * len(sessions),
            "t_start": [pd.Timestamp(s, unit="ns") for s, _, _, _ in sessions],
            "t_end": [pd.Timestamp(e, unit="ns") for _, e, _, _ in sessions],
            "n_events": [n for _, _, n, _ in sessions],
            "n_purchases": [np_ for _, _, _, np_ in sessions],
        }
    )


def stream_sessionize(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "10 minutes",
):
    """Custom stateful operator: 30-min-gap sessionization over the event
    stream. One shuffle on user_id into state-store partitions. Every
    session is held in state until the watermark passes its end + gap —
    only then is it final (an allowed-late event may extend a session
    backwards or bridge two open sessions until that point) — giving
    exact batch/stream parity on any arrival order within the watermark."""
    sessions = (
        _events_stream(spark, input_dir, watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_fn,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )

    return _start_append_to(sessions, out_dir, checkpoint_dir)


def stream_click_attribution(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "10 minutes",
    attribution_window_s: int = 1800,
):
    """STREAM-STREAM interval join: each purchase joins the clicks of the
    same user within the preceding attribution window. Both sides carry
    watermarks and the join condition bounds the time skew, so Spark can
    evict join state — the state held is one attribution window of
    clicks per user, not the stream's history. Inner join: matches emit
    EAGERLY in the micro-batch where both sides have arrived (the
    watermark bounds state eviction and late-data drop, it does not
    delay emission); exactly-once per (purchase, click) across
    checkpointed restarts."""
    ev = _events_stream(spark, input_dir, watermark)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
            F.col("value").alias("click_value"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {attribution_window_s} SECONDS")),
    ).select("purchase_id", F.col("p_user").alias("user_id"), "purchase_ts", "click_id", "click_ts", "click_value")
    return _start_append_to(joined, out_dir, checkpoint_dir)
