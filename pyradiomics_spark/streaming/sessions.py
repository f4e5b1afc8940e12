"""Streaming ingestion operators (SURVEY.md §2.9).

The reference is pure batch; the north rule requires watermark discipline.
These wrappers put the batch semantics on a stream:

* ``watermarked``         — event-time watermark (late-data bound)
* ``stream_sessionize``   — native ``session_window`` gap sessions
* ``stream_tumbling`` / ``stream_sliding`` — tumbling / hopping window
  aggregate (one shared watermark → groupBy → n_events + extras shape
  with ``stream_sessionize``; the gate's batch ``tumbling_window`` row
  runs ``stream_tumbling`` too)
* ``stream_training_pipeline`` — watermarked content dedup, then
  ``operators.features.extract_features`` per micro-batch (extraction is
  stateless per row, so it lifts to streams as-is via the same
  mapInArrow)

All return streaming DataFrames, and ``streaming.runner.run_stream`` runs
one to completion and hands its result back as a batch frame; the output
mode picks the sink. ``stream_asof_sink`` is the exception: it builds its
own exactly-once ``foreachBatch`` writer, which ``runner.run_sink`` runs.
The same functions accept batch DataFrames (minus watermark) — one code
path, two execution modes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def watermarked(df: DataFrame, ts_col: str, delay: str = "1 hour") -> DataFrame:
    return df.withWatermark(ts_col, delay) if df.isStreaming else df


def _windowed_agg(df: DataFrame, entity_col: str, ts_col: str,
                  watermark: str, agg_cols: dict | None, window,
                  bounds: dict) -> DataFrame:
    """The windowed aggregates' one shape: watermark ``df`` on ``ts_col``,
    group by (entity, ``window``), aggregate ``n_events`` plus
    ``agg_cols``. Columns: entity, each ``bounds`` name (from the window
    struct field it maps to), n_events, then the ``agg_cols`` names."""
    aggs = {"n_events": F.count("*"), **(agg_cols or {})}
    return (
        watermarked(df, ts_col, watermark)
        .groupBy(F.col(entity_col), window)
        .agg(*[col.alias(name) for name, col in aggs.items()])
        .select(entity_col,
                *[F.col(field).alias(name) for name, field in bounds.items()],
                *aggs)
    )


def stream_sessionize(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    agg_cols: dict | None = None,
) -> DataFrame:
    """Gap sessions via the native session_window (streaming-safe state).

    Returns per-session rows: entity, session start/end, n_events (+extras).
    """
    return _windowed_agg(
        df, entity_col, ts_col, watermark, agg_cols,
        F.session_window(F.col(ts_col), gap),
        {"session_start": "session_window.start",
         "session_end": "session_window.end"})


def stream_tumbling(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    width: str = "1 hour",
    watermark: str = "1 hour",
    agg_cols: dict | None = None,
) -> DataFrame:
    """Tumbling window aggregate: per entity and ``width``-wide
    epoch-aligned window, n_events plus ``agg_cols``."""
    return _windowed_agg(
        df, entity_col, ts_col, watermark, agg_cols,
        F.window(F.col(ts_col), width), {"window_start": "window.start"})


def stream_sliding(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    width: str = "2 hours",
    slide: str = "1 hour",
    watermark: str = "1 hour",
    agg_cols: dict | None = None,
) -> DataFrame:
    """Sliding (hopping) window aggregate: every event lands in
    width/slide overlapping windows whose starts are slide-aligned to the
    epoch — the monitoring shape for "rolling 2-hour rate, updated
    hourly". State per key is bounded by width/slide live windows under
    the watermark; the replication factor is the window overlap, not the
    corpus (Spark's native window(ts, width, slide) generates the
    assignments JVM-side, no explode materialized in Python)."""
    return _windowed_agg(
        df, entity_col, ts_col, watermark, agg_cols,
        F.window(F.col(ts_col), width, slide),
        {"window_start": "window.start"})


def stream_dedup_exact(
    df: DataFrame,
    key_cols,
    ts_col: str,
    watermark: str = "1 hour",
    by_content: str | None = None,
) -> DataFrame:
    """Streaming exact dedup — the training-data dedup operator lifted to
    streams: duplicates arriving within the watermark horizon are dropped
    with BOUNDED state (dropDuplicatesWithinWatermark evicts key state once
    the event time passes the watermark — an unbounded dropDuplicates would
    grow state forever on an infinite stream).

    Semantics note: the horizon is the POINT of the watermark — duplicates
    farther apart than it are intentionally both kept (bounded state has a
    price). The batch twin below dedups globally, i.e. it is the
    watermark→∞ limit: batch and stream agree exactly when duplicate pairs
    fall within the watermark (the tested contract), and batch keeps
    strictly fewer rows otherwise. A batch backfill that must reproduce a
    stream's output byte-for-byte should window its input by the same
    horizon first.

    ``by_content``: optionally dedup on a sha2 content hash of this column
    instead of carrying the full text in state (the exact_dedup analog)."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    src = df
    if by_content is not None:
        src = src.withColumn(
            "__content_h", F.sha2(F.col(by_content).cast("binary"), 256))
        keys = ["__content_h"]
    src = watermarked(src, ts_col, watermark)
    if src.isStreaming:
        out = src.dropDuplicatesWithinWatermark(keys)
    else:  # batch twin: plain dropDuplicates on the same keys
        out = src.dropDuplicates(keys)
    return out.drop("__content_h") if by_content is not None else out


def stream_training_pipeline(
    pages_stream: DataFrame,
    keys=("url", "warc_ts"),
    text_col: str = "text",
    ts_col: str = "warc_ts",
    settings=None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Composed streaming training-data pipeline: watermarked content dedup
    → feature extraction — the batch pipeline's front half lifted to a
    stream with bounded state (extraction is stateless, dedup state evicts
    past the watermark). Returns the streaming feature DataFrame; run it
    with ``runner.run_stream``, or feed it to ``stream_asof_sink`` for
    point-in-time serving against a static snapshot. Batch DataFrames run
    the same code path (parity asserted in tests)."""
    from pyradiomics_spark.operators.features import extract_features

    deduped = stream_dedup_exact(
        pages_stream, list(keys), ts_col, watermark=watermark,
        by_content=text_col)
    return extract_features(deduped, keys, text_col, settings)


def stream_asof_sink(
    stream_left: DataFrame,
    static_right: DataFrame,
    on,
    left_ts: str,
    right_ts: str,
    out_path: str,
    checkpoint: str,
    allow_exact_matches: bool = True,
):
    """Streaming point-in-time serving: every micro-batch of left events is
    as-of joined against the static (snapshot) right table and appended —
    Structured Streaming forbids window functions on streams, so the join
    runs per micro-batch via foreachBatch (each batch is bounded, the static
    side is the full history ⇒ identical semantics to the batch as-of).

    Exactly-once OUTPUT despite foreachBatch's at-least-once execution: each
    batch writes to its own ``batch_id=<n>`` partition with dynamic partition
    overwrite, so a batch retried after a post-write/pre-commit crash
    overwrites its own partition instead of appending duplicates. (A blind
    ``mode("append")`` here would only be at-least-once.)

    Returns the DataStreamWriter; ``runner.run_sink`` runs it.
    """
    from pyradiomics_spark.operators.asof import (
        _as_list, _dedupe_right_ties, asof_join)

    # tie discipline applied ONCE to the static snapshot, not re-aggregated
    # inside every micro-batch's join
    keys = _as_list(on)
    right_payload = [c for c in static_right.columns
                     if c not in keys and c != right_ts]
    static_deduped = _dedupe_right_ties(
        static_right, keys, right_ts, right_payload)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        joined = asof_join(
            batch_df, static_deduped, on=on, left_ts=left_ts, right_ts=right_ts,
            allow_exact_matches=allow_exact_matches, deterministic_ties=False)
        (joined.withColumn("batch_id", F.lit(batch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch_id")
         .parquet(out_path))

    return (
        stream_left.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
    )


def stream_cms(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    width: str = "1 hour",
    watermark: str = "1 hour",
    sketch_width: int = 64,
    depth: int = 2,
    seed: int = 0,
) -> DataFrame:
    """Count-min sketch per tumbling event-time window, on a STREAM: the
    crawl-monitoring sketch (operators/sketches.py) grouped by
    ``window(ts)`` under a watermark, so each closed window emits a
    fixed depth×width frequency summary and state is bounded by
    (open windows)·depth·sketch_width cells — the way to watch
    heavy hitters on an unbounded feed without a per-key census.
    Output rows: (window_start, d, cell, cnt); windows merge downstream
    by summing cnt (CMS mergeability)."""
    from pyradiomics_spark.operators.sketches import _cell

    c = F.col(value_col)
    src = watermarked(df, ts_col, watermark)
    pairs = F.array(*[
        F.struct(F.lit(d).alias("d"),
                 _cell(c, d, sketch_width, seed).alias("cell"))
        for d in range(depth)
    ])
    return (
        src.where(c.isNotNull())
        .select(F.window(F.col(ts_col), width).alias("w"),
                F.explode(pairs).alias("p"))
        .groupBy("w", F.col("p.d").alias("d"), F.col("p.cell").alias("cell"))
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "d", "cell", "cnt")
    )
