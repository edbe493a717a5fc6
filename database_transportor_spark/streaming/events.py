"""Event-stream operators: tumbling-window aggregation and per-key top-N.

Batch and Structured Streaming share the same aggregation expression; the
streaming variant adds a watermark for late data and runs with any source/
trigger (tests use ``availableNow`` over the parquet fixture, production
would use Kafka/files).  State size is bounded by the watermark horizon —
the knob that matters at 100 TB/day.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._commit import run_to_completion

__all__ = [
    "tumbling_agg",
    "sliding_agg",
    "session_agg",
    "stream_tumbling_agg",
    "stream_stateful_totals",
    "stream_dedup_count",
    "stream_enrich_agg",
    "topn_per_key",
    "stream_hist_agg",
]


def _window_aggs() -> list:
    return [
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    ]


def _scoped_nanos_conf(fn):
    """Scope session confs around a run-to-completion streaming call.

    Two confs are managed and restored afterwards:

    - ``spark.sql.legacy.parquet.nanosAsLong`` is set for the duration of
      the call.  The fixture stores TIMESTAMP(NANOS), which Spark's
      vectorized reader rejects unless read as long — but leaving the flag
      set would silently change how every later *batch* parquet read in
      the shared session interprets nanos columns.  Setting it here (not
      just in ``_stream_reader``) makes every decorated operator
      self-sufficient: ``stream_stateful_totals`` does its own
      schema-probe batch read before any reader helper runs.

    - ``spark.sql.shuffle.partitions`` is scoped when the caller passes
      ``state_partitions=N``.  In Structured Streaming this value fixes
      the number of state-store instances at the query's FIRST run (it is
      baked into the checkpoint and cannot change later), so it is a real
      per-stream sizing decision, distinct from the session's batch
      shuffle width: size it to stateful-key cardinality and per-batch
      throughput, not to the batch default.  Oversizing is pure fixed
      cost — every micro-batch schedules one task and one state-store
      commit per partition regardless of data (measured locally: a
      stream-stream interval join over the fixture runs ~3x faster at 8
      state partitions than at 32).  At cluster scale hundreds of
      partitions are right; for a bounded replay or a small keyspace,
      single digits are.

    The memory-sink result is fully materialized before return, so
    restoring both confs afterwards is safe."""

    @functools.wraps(fn)
    def wrapper(
        spark: SparkSession, *args, state_partitions: int | None = None, **kwargs
    ):
        confs = {"spark.sql.legacy.parquet.nanosAsLong": "true"}
        if state_partitions is not None:
            confs["spark.sql.shuffle.partitions"] = str(int(state_partitions))
        prev = {k: spark.conf.get(k, None) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            return fn(spark, *args, **kwargs)
        finally:
            for k, p in prev.items():
                if p is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, p)

    return wrapper


def tumbling_agg(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
) -> DataFrame:
    """Tumbling-window aggregate (batch).  ``window_start`` is the epoch-
    aligned window open — identical to ``date_trunc`` for aligned widths,
    which keeps the DuckDB oracle expressible."""
    return (
        events.groupBy(
            F.window(F.col(ts_col), window).alias("__w"), F.col(key_col)
        )
        .agg(*_window_aggs())
        .select(
            F.col("__w.start").alias("window_start"),
            key_col,
            "n_events",
            "sum_value",
            "min_value",
            "max_value",
        )
    )


def sliding_agg(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "2 hours",
    slide: str = "1 hour",
) -> DataFrame:
    """Sliding-window aggregate: each event lands in ``window/slide``
    overlapping windows.  Same shuffle shape as tumbling (one, on
    (window, key)); the fan-out happens in the generate step before the
    partial aggregation, so the shuffle carries pre-combined rows."""
    return (
        events.groupBy(
            F.window(F.col(ts_col), window, slide).alias("__w"), F.col(key_col)
        )
        .agg(*_window_aggs())
        .select(
            F.col("__w.start").alias("window_start"),
            key_col,
            "n_events",
            "sum_value",
            "min_value",
            "max_value",
        )
    )


def session_agg(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    gap: str = "10 minutes",
) -> DataFrame:
    """Session-window aggregate: events per key closer than ``gap`` merge
    into one session (``F.session_window`` — the engine merges overlapping
    [ts, ts+gap) intervals).  The same expression streams with a watermark;
    batch form here so the DuckDB gap-and-island oracle can check it."""
    return (
        events.groupBy(
            F.session_window(F.col(ts_col), gap).alias("__w"), F.col(key_col)
        )
        .agg(*_window_aggs())
        .select(
            F.col("__w.start").alias("session_start"),
            key_col,
            "n_events",
            "sum_value",
            "min_value",
            "max_value",
        )
    )


@_scoped_nanos_conf
def stream_tumbling_agg(
    spark: SparkSession,
    source_dir: str,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    watermark: str = "2 hours",
    sink_table: str = "stream_window_agg",
) -> DataFrame:
    """Structured Streaming variant, run to completion with ``availableNow``
    and a memory sink; returns the resulting batch DataFrame.

    The watermark bounds aggregation state (late events beyond it are
    dropped); ``complete`` output mode re-emits finalized windows, which the
    memory sink snapshots.  With a terminating trigger the result equals
    the batch :func:`tumbling_agg` over the same input — letting the DuckDB
    oracle check a genuinely streamed execution.
    """
    stream = _stream_reader(spark, source_dir, ts_col)
    agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("__w"), F.col(key_col))
        .agg(*_window_aggs())
        .select(
            F.col("__w.start").alias("window_start"),
            key_col,
            "n_events",
            "sum_value",
            "min_value",
            "max_value",
        )
    )
    run_to_completion(
        agg.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("complete")
    )
    return spark.table(sink_table)


@_scoped_nanos_conf
def stream_dedup_count(
    spark: SparkSession,
    source_dir: str,
    ts_col: str = "ts",
    key_expr: str = "event_id % 1000",
    watermark: str = "2 hours",
    sink_table: str = "stream_dedup",
) -> DataFrame:
    """Streaming dedup via ``dropDuplicatesWithinWatermark``: keep the
    first event per ``key_expr`` seen inside the watermark horizon —
    exactly-once semantics over an at-least-once source, with state
    bounded by the watermark instead of growing forever (the property
    that matters at 100 TB/day; plain ``dropDuplicates`` on a stream
    never expires state).

    WHICH row survives per key depends on arrival order, so the
    deterministic (oracle-checkable) output is the surviving-rows count
    per key-expression value — equal to the batch distinct count.
    """
    stream = _stream_reader(spark, source_dir, ts_col)
    deduped = (
        stream.withColumn("__k", F.expr(key_expr))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["__k"])
    )
    run_to_completion(
        deduped.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("append")
    )
    return spark.table(sink_table).select(
        F.count("*").alias("n_unique"),
        F.countDistinct("__k").alias("n_keys"),
    )


@_scoped_nanos_conf
def stream_stateful_totals(
    spark: SparkSession,
    source_dir: str,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    sink_table: str = "stream_stateful_totals",
) -> DataFrame:
    """Custom stateful streaming operator: per-key running totals via
    ``applyInPandasWithState`` — the escape hatch for operators Spark's
    built-in streaming aggregations can't express (the state schema and
    update function are arbitrary).

    State per key = (n_events, sum_value); each micro-batch folds its rows
    into the state and emits the updated snapshot.  Emitted totals are
    monotone, so the final answer per key is the max over emissions —
    which equals the batch groupBy, giving this stateful pipeline an exact
    SQL oracle.  State is bounded by key cardinality; at 100 TB/day add a
    timeout (``GroupStateTimeout.ProcessingTimeTimeout``) to expire idle
    keys.
    """
    import os
    from typing import Any, Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    batch_df = spark.read.parquet(source_dir)
    reader = spark.readStream.schema(batch_df.schema)
    if source_dir.endswith(".parquet") and os.path.isfile(source_dir):
        reader = reader.option("pathGlobFilter", os.path.basename(source_dir))
        stream = reader.parquet(os.path.dirname(source_dir))
    else:
        stream = reader.parquet(source_dir)

    out_schema = StructType(
        [
            StructField(key_col, StringType()),
            StructField("n_events", LongType()),
            StructField("sum_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("s", DoubleType())]
    )

    def update(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf[value_col].sum())
        state.update((n, s))
        yield pd.DataFrame({key_col: [key[0]], "n_events": [n], "sum_value": [s]})

    totals = stream.groupBy(key_col).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    run_to_completion(
        totals.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("update")
    )
    # n_events grows monotonically per key, so the snapshot with the highest
    # count is the final state (sum alone isn't monotone if values go
    # negative — hence max_by, not max).
    return (
        spark.table(sink_table)
        .groupBy(key_col)
        .agg(
            F.max("n_events").alias("n_events"),
            F.round(F.max_by("sum_value", "n_events"), 2).alias("sum_value"),
        )
    )


def topn_per_key(
    df: DataFrame,
    key_col: str,
    order_col: str,
    id_col: str,
    n: int = 5,
) -> DataFrame:
    """Top-N rows per key (deterministic tiebreak on ``id_col``) — the
    rank-within-partition shape (one shuffle on the key)."""
    w = Window.partitionBy(key_col).orderBy(F.col(order_col).desc(), F.col(id_col))
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n)
    )

def _stream_reader(spark: SparkSession, source_dir: str, ts_col: str):
    """File-stream reader over the parquet fixture (dir or single file),
    normalizing the event-time column to TIMESTAMP (watermarks reject
    NTZ and long-nanos alike — see functions/timecols.py)."""
    import os

    from ..functions.timecols import normalize_event_time

    # self-contained for the legacy nanos fixture, which the vectorized
    # reader rejects unless read as long (no-op on micros/NTZ fixtures)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch_df = spark.read.parquet(source_dir)
    # FileStreamSource requires a directory; a single-file fixture path is
    # split into (dir, glob) so the same code serves both layouts.
    reader = spark.readStream.schema(batch_df.schema)
    if source_dir.endswith(".parquet") and os.path.isfile(source_dir):
        reader = reader.option("pathGlobFilter", os.path.basename(source_dir))
        stream = reader.parquet(os.path.dirname(source_dir))
    else:
        stream = reader.parquet(source_dir)
    return normalize_event_time(stream, ts_col)


@_scoped_nanos_conf
def stream_interval_join(
    spark: SparkSession,
    source_dir: str,
    ts_col: str = "ts",
    key_col: str = "user_id",
    left_type: str = "purchase",
    right_type: str = "view",
    lookback: str = "1 hour",
    watermark: str = "2 hours",
    sink_table: str = "stream_interval_join",
) -> DataFrame:
    """Stream-stream interval join: every ``left_type`` event paired with
    the same user's ``right_type`` events from the preceding ``lookback``
    (inclusive of the same instant) — the attribution-join shape, streamed.

    Both sides carry watermarks; the interval condition bounds how long
    either side's state lives (right rows expire once no future left row
    can reach back to them; left rows once their lookback is watermark-
    expired).  Without the time-bound condition a stream-stream inner join
    would keep state forever — the property that matters at scale.

    Append mode + terminating trigger ⇒ the result equals the equivalent
    batch interval join, so a DuckDB oracle can hash-check a genuinely
    streamed execution.
    """
    stream = _stream_reader(spark, source_dir, ts_col)
    l = (
        stream.filter(F.col("event_type") == left_type)
        .select(
            F.col("event_id").alias("l_id"),
            F.col(key_col).alias("l_key"),
            F.col(ts_col).alias("l_ts"),
            F.col("value").alias("l_value"),
        )
        .withWatermark("l_ts", watermark)
    )
    r = (
        stream.filter(F.col("event_type") == right_type)
        .select(
            F.col("event_id").alias("r_id"),
            F.col(key_col).alias("r_key"),
            F.col(ts_col).alias("r_ts"),
            F.col("value").alias("r_value"),
        )
        .withWatermark("r_ts", watermark)
    )
    joined = l.join(
        r,
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") <= F.col("l_ts"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr(f"INTERVAL {lookback}")),
        "inner",
    )
    run_to_completion(
        joined.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("append")
    )
    return spark.table(sink_table).select("l_id", "r_id", "l_key", "l_value", "r_value")


@_scoped_nanos_conf
def stream_enrich_agg(
    spark: SparkSession,
    source_dir: str,
    dim,
    dim_key: str = "c_custkey",
    seg_col: str = "c_mktsegment",
    key_col: str = "user_id",
    ts_col: str = "ts",
    window: str = "1 day",
    watermark: str = "2 hours",
    sink_table: str = "stream_enrich_agg",
) -> DataFrame:
    """Stream-STATIC enrichment: the event stream joined against a batch
    dimension table, then windowed per enrichment attribute — the single
    most common production streaming shape (clickstream × user table,
    telemetry × device registry).

    The dim side is a plain batch DataFrame: Structured Streaming joins
    it STATELESSLY — no watermark needed on the static side, no join
    state retained across micro-batches (each batch probes the dim
    anew, picking up Spark-managed broadcast).  State exists only in the
    downstream windowed aggregation, bounded by the watermark horizon.
    The explicit ``broadcast()`` hint keeps a dimension re-shuffle out
    of every micro-batch — at scale, a non-broadcast stream-static join
    re-partitions the stream side per batch.

    availableNow + memory sink ⇒ result equals the equivalent batch
    join+rollup, so the DuckDB oracle hash-checks a genuinely streamed
    execution (same contract as :func:`stream_tumbling_agg`).
    """
    stream = _stream_reader(spark, source_dir, ts_col)
    d = dim.select(F.col(dim_key).alias("__k"), F.col(seg_col))
    enriched = stream.join(
        F.broadcast(d), F.col(key_col) == F.col("__k"), "inner"
    )
    agg = (
        enriched.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("__w"), F.col(seg_col))
        .agg(*_window_aggs())
        .select(
            F.col("__w.start").alias("window_start"),
            seg_col,
            "n_events",
            "sum_value",
            "min_value",
            "max_value",
        )
    )
    run_to_completion(
        agg.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("complete")
    )
    return spark.table(sink_table)


@_scoped_nanos_conf
def stream_hist_agg(
    spark: SparkSession,
    source_dir: str,
    value_col: str = "value",
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    watermark: str = "2 hours",
    lo: float = 0.0,
    hi: float = 500.0,
    bins: int = 100,
    sink_table: str = "stream_hist",
) -> DataFrame:
    """Mergeable histograms as STREAMING state: per (window, key) a
    fixed-bin histogram (:func:`~..operators.sketches.hist_bin` layout)
    plus an exact count, computed under a watermark with
    ``availableNow`` and snapshotted by a memory sink.

    This is the sketch-meets-streaming contract, with the state kept
    SPARSE: each row is binned once (pure codegen) and the streaming
    aggregation groups by ``(window, key, bin)`` — the state store
    carries one long per OCCUPIED bin (≤ ``bins+2`` rows per live
    window, usually far fewer), bounded by the watermark exactly like
    plain windowed counts.  The dense ``bins+2`` array is assembled
    from the snapshot AFTER the stream (group×bin-sized work), and
    because histogram merging is element-wise addition, window-level
    histograms roll up to per-key quantiles without ever replaying
    events.  (The earlier shape — one array-typed aggregate of
    ``bins+2`` conditional sums as the streaming state — produced the
    same output but paid ``bins`` CASE evaluations per row; measured
    at sf0.1/100 bins the binned-rows plan cuts the stream's agg cost
    to within noise of a plain windowed count.)  Returns the
    assembled snapshot: ``window_start, key, hist, n``.
    """
    from ..operators.sketches import hist_bin

    b = hist_bin(value_col, lo, hi, bins)
    stream = _stream_reader(spark, source_dir, ts_col)
    agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), window).alias("__w"),
            F.col(key_col),
            b.alias("__b"),
        )
        .agg(F.count("*").alias("__c"))
        .select(F.col("__w.start").alias("window_start"), key_col,
                "__b", "__c")
    )
    run_to_completion(
        agg.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("complete")
    )
    # dense-array assembly on the snapshot (group×bin rows, batch side).
    # NULL-valued rows land in a NULL __b group: outside every hist slot
    # (exactly as the conditional-sum leaf scored them) but inside n.
    snap = spark.table(sink_table)
    return (
        snap.groupBy("window_start", key_col)
        .agg(
            F.map_from_entries(
                # collect_list drops NULL entries, so NULL-bin rows
                # never reach the map (map keys must be non-null)
                F.collect_list(
                    F.when(F.col("__b").isNotNull(),
                           F.struct("__b", "__c"))
                )
            ).alias("__m"),
            F.sum("__c").alias("n"),
        )
        .select(
            "window_start",
            key_col,
            F.transform(
                F.sequence(F.lit(0), F.lit(bins + 1)),
                lambda i: F.coalesce(
                    F.element_at("__m", i.cast("long")),
                    F.lit(0).cast("long"),
                ),
            ).alias("hist"),
            "n",
        )
    )
