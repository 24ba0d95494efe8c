"""Structured Streaming ingestion (SURVEY.md §2.10).

The reference has no streaming; this is the extension surface. Streaming is
scoped to ingestion over event streams: watermarked tumbling/sliding
windows, session windows, and dedup-within-watermark. The batch twins
(same ``F.window`` on a static DataFrame) are what the DuckDB oracle
checks — identical logical plans modulo the incremental execution, which is
exactly Structured Streaming's contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _ensure_event_time(df: DataFrame, ts_col: str) -> DataFrame:
    """``withWatermark`` requires TIMESTAMP event time and rejects
    TIMESTAMP_NTZ (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). Re-tag NTZ inputs;
    no-op otherwise. Session tz is pinned UTC so the cast is deterministic."""
    if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
        return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def tumbling_counts(df: DataFrame, ts_col: str = "ts", width: str = "10 minutes") -> DataFrame:
    """Batch twin of the streaming tumbling-window count (DQ-38)."""
    return (
        df.groupBy(F.window(F.col(ts_col), width).alias("w"))
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(
    df: DataFrame, ts_col: str = "ts", width: str = "10 minutes", slide: str = "5 minutes"
) -> DataFrame:
    """Batch twin of the streaming sliding-window count (DQ-39)."""
    return (
        df.groupBy(F.window(F.col(ts_col), width, slide).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


def tumbling_counts_stream(
    stream_df: DataFrame,
    ts_col: str = "ts",
    width: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming tumbling-window count with late-data watermark; feed any
    readStream source, write with ``writeStream`` (append/update)."""
    return (
        _ensure_event_time(stream_df, ts_col).withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), width).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


def sessionized_counts_stream(
    stream_df: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming session windows (``F.session_window``) — the streaming twin
    of operators.sessionize."""
    return (
        _ensure_event_time(stream_df, ts_col).withWatermark(ts_col, watermark)
        .groupBy(F.col(key), F.session_window(F.col(ts_col), gap).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(key, F.col("w.start").alias("session_start"), "n_events")
    )


def dedup_stream(stream_df: DataFrame, keys: list[str], ts_col: str = "ts", watermark: str = "30 minutes") -> DataFrame:
    """Streaming dedup bounded by watermark state."""
    return (
        _ensure_event_time(stream_df, ts_col)
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(keys)
    )


def dedup_events(
    df: DataFrame,
    keys: list[str] | None = None,
    ts_col: str = "ts",
    tiebreak: str = "event_id",
) -> DataFrame:
    """Deterministic batch twin of :func:`dedup_stream`.

    ``dropDuplicates`` keeps an *arbitrary* row per key (whichever task
    wins), which can't be oracle-checked; the twin pins the choice to the
    earliest event — ``row_number`` over (ts, tiebreak). Single shuffle on
    the keys, same as the streaming state partitioning.
    """
    from pyspark.sql.window import Window

    keys = keys or ["user_id", "event_type"]
    w = Window.partitionBy(*keys).orderBy(F.col(ts_col), F.col(tiebreak))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def ingest_documents_stream(
    stream_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_words: int = 100,
    overlap: int = 10,
    embedder=None,
) -> DataFrame:
    """EP1 as a stream: documents arriving on any ``readStream`` source →
    chunk → embed, continuously.

    Reuses :func:`~..plans.pipeline.ingest_documents` verbatim — the chunker
    is row-local column expressions and the embedder an Arrow-batched
    projection, both stateless, so the exact batch plan runs incrementally
    with no watermark or state store. This is the continuous-ingestion
    deployment of the reference's pipeline (new PDFs landing in a
    directory, embedded as they arrive) rather than its one-shot load.
    """
    from oracle_vectorsearch_example_spark.plans.pipeline import ingest_documents

    return ingest_documents(
        stream_docs,
        text_col=text_col,
        id_col=id_col,
        max_words=max_words,
        overlap=overlap,
        embedder=embedder,
    )


def index_documents_stream(
    stream_docs: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_words: int = 100,
    overlap: int = 10,
    embedder=None,
):
    """Continuous EP1 → VECTOR-INDEX MAINTENANCE: each micro-batch of
    arriving documents is chunked + embedded (the exact batch plan) and
    appended to the MATERIALIZED :class:`~..operators.ivf.IvfIndex` at
    ``index_path`` via ``add(tag=batch_id)`` — the streaming analog of
    Oracle maintaining ``idx_doc_chunks_embedding`` under DML
    (01_pdf_to_vector.sql:93-97): centroids stay frozen, each batch
    writes one new table and publishes it as one manifest of the index's
    Warehouse log (with its tag), searches on fresh ``load()`` handles
    see the new chunks immediately.

    The index must already exist (built from a seed corpus — KMeans
    centroids need data; ``plans.pipeline.build_chunk_index`` with
    ``path=``). Exactly-once: the batch-id tag is published in the same
    manifest as the batch's rows and survives ``compact``, so a replayed
    batch is a no-op (see ``IvfIndex.add``) and a crash between Spark's
    offset commit and the publish cannot duplicate rows. Returns the
    ``DataStreamWriter`` — the caller sets ``checkpointLocation`` /
    trigger and ``start()``s (same contract as any foreachBatch sink)."""
    from oracle_vectorsearch_example_spark.operators.ivf import IvfIndex
    from oracle_vectorsearch_example_spark.plans.pipeline import (
        _with_chunk_key,
        ingest_documents,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        dc = ingest_documents(
            batch_df,
            text_col=text_col,
            id_col=id_col,
            max_words=max_words,
            overlap=overlap,
            embedder=embedder,
        )
        base = _with_chunk_key(dc).select("__chunk_key", "embedding")
        IvfIndex.load(batch_df.sparkSession, index_path).add(
            base, tag=f"b{batch_id}"
        )

    return stream_docs.writeStream.foreachBatch(sink)


def interval_join_streams(
    left_stream: DataFrame,
    right_stream: DataFrame,
    on: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    lower: str = "INTERVAL 0 SECONDS",
    upper: str = "INTERVAL 5 MINUTES",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-stream inner join with an event-time interval condition —
    the streaming twin of ``operators.joins.range_join`` (filter
    strategy): matching keys with r.ts in [l.ts + lower, l.ts + upper].

    Both sides carry watermarks and the join condition bounds event time
    in both directions, so Spark can size the join state: each side
    retains only rows inside watermark + interval, the requirement for
    state cleanup in stream-stream joins. Right columns come back
    ``r_``-prefixed, exactly like the batch operator.
    """
    l = _ensure_event_time(left_stream, left_ts).withWatermark(left_ts, watermark)
    r = (
        _ensure_event_time(right_stream, right_ts)
        .select(*[F.col(c).alias(f"r_{c}") for c in right_stream.columns])
        .withWatermark(f"r_{right_ts}", watermark)
    )
    cond = [l[c] == r[f"r_{c}"] for c in on] + [
        F.col(f"r_{right_ts}") >= F.expr(f"{left_ts} + {lower}"),
        F.col(f"r_{right_ts}") <= F.expr(f"{left_ts} + {upper}"),
    ]
    return l.join(r, cond, "inner")


def enrich_stream(stream_df: DataFrame, dim_df: DataFrame, on: str, how: str = "left") -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins the (small,
    broadcast) static dimension — no streaming state, the standard
    ingestion-time lookup. The dim side is re-read per batch, so slowly
    changing dimensions pick up updates between batches."""
    from pyspark.sql import functions as F

    return stream_df.join(F.broadcast(dim_df), on, how)
