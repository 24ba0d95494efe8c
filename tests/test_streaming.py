"""Structured Streaming ingestion (§2.10): batch twins hash-checked in
test_correctness; here the actual streaming path runs on a file source
with Trigger.AvailableNow and must agree with its batch twin."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from oracle_vectorsearch_example_spark.sources.io import read_table
from oracle_vectorsearch_example_spark.streaming.ingest import (
    dedup_stream,
    sessionized_counts_stream,
    tumbling_counts,
    tumbling_counts_stream,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("stream") / "events")
    read_table(spark, SF, "events").write.parquet(p)
    return p


def _run_stream(spark, stream_df, name, mode="append"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_streaming_tumbling_matches_batch(spark, events_dir):
    """``complete`` output emits every window regardless of watermark, so
    the streaming result must equal the batch twin exactly; in ``append``
    mode windows newer than (max_ts - watermark) are still open by design."""
    static = spark.read.parquet(events_dir)
    stream = spark.readStream.schema(static.schema).parquet(events_dir)
    got = _run_stream(
        spark, tumbling_counts_stream(stream, watermark="30 minutes"),
        "t_tumbling", mode="complete",
    ).collect()
    want = tumbling_counts(static).select("window_start", "n_events").collect()
    assert sorted((r.window_start, r.n_events) for r in got) == sorted(
        (r.window_start, r.n_events) for r in want
    )


def test_streaming_tumbling_accepts_ntz_event_time(spark, events_dir, tmp_path_factory):
    """withWatermark rejects TIMESTAMP_NTZ event time; the ingest helpers
    must re-tag NTZ inputs (the round-2 regression class) and produce the
    same windows as the TIMESTAMP flavor."""
    static = spark.read.parquet(events_dir)
    ntz_dir = str(tmp_path_factory.mktemp("stream_ntz") / "events")
    static.withColumn("ts", F.col("ts").cast("timestamp_ntz")).write.parquet(ntz_dir)
    ntz_static = spark.read.parquet(ntz_dir)
    assert dict(ntz_static.dtypes)["ts"] == "timestamp_ntz"
    stream = spark.readStream.schema(ntz_static.schema).parquet(ntz_dir)
    got = _run_stream(
        spark, tumbling_counts_stream(stream, watermark="30 minutes"),
        "t_tumbling_ntz", mode="complete",
    ).collect()
    want = tumbling_counts(static).select("window_start", "n_events").collect()
    assert sorted((r.window_start, r.n_events) for r in got) == sorted(
        (r.window_start, r.n_events) for r in want
    )


def test_streaming_append_holds_back_open_windows(spark, events_dir):
    static = spark.read.parquet(events_dir)
    stream = spark.readStream.schema(static.schema).parquet(events_dir)
    got = {r.window_start: r.n_events for r in _run_stream(
        spark, tumbling_counts_stream(stream, watermark="30 minutes"),
        "t_tumbling_append", mode="append",
    ).collect()}
    want = {r.window_start: r.n_events
            for r in tumbling_counts(static).select("window_start", "n_events").collect()}
    # emitted windows match the batch twin; only the watermark tail is held
    assert all(want[k] == v for k, v in got.items())
    missing = set(want) - set(got)
    cut = max(want) if want else None
    from datetime import timedelta

    assert all(k >= cut - timedelta(minutes=40) for k in missing)


def test_streaming_session_windows(spark, events_dir):
    static = spark.read.parquet(events_dir)
    stream = spark.readStream.schema(static.schema).parquet(events_dir)
    got = _run_stream(
        spark, sessionized_counts_stream(stream, gap="30 minutes", watermark="2 hours"),
        "t_sessions", mode="complete",
    )
    assert got.count() > 0
    # complete mode flushes every session: totals reconcile exactly
    assert got.agg(F.sum("n_events")).collect()[0][0] == static.count()


def test_streaming_dedup(spark, events_dir):
    static = spark.read.parquet(events_dir)
    stream = spark.readStream.schema(static.schema).parquet(events_dir)
    got = _run_stream(
        spark, dedup_stream(stream, keys=["user_id"], watermark="10 years"),
        "t_dedup", mode="append",
    )
    n_users = static.select("user_id").distinct().count()
    assert got.count() == n_users


def test_stateful_sessions_match_batch(spark, events_dir):
    """applyInPandasWithState sessionizer: every emitted (closed) session
    equals a batch gaps-and-islands session; only each key's trailing
    open session is withheld."""
    from oracle_vectorsearch_example_spark.operators.sessionize import session_stats
    from oracle_vectorsearch_example_spark.streaming.stateful import (
        stateful_sessions_stream,
    )

    static = read_table(spark, SF, "events")
    stream = spark.readStream.schema(static.schema).parquet(events_dir)
    got = _run_stream(
        spark, stateful_sessions_stream(stream, gap_minutes=30.0), "stateful_sessions"
    )
    streamed = {
        (r.user_id, r.n_events, round(r.duration_sec, 3)) for r in got.collect()
    }

    batch = session_stats(static, gap_minutes=30.0)
    last = batch.groupBy("user_id").agg(F.max("session_id").alias("session_id"))
    closed_batch = batch.join(last, ["user_id", "session_id"], "left_anti")
    expected = {
        (r.user_id, r.n_events, round(r.duration_sec, 3)) for r in closed_batch.collect()
    }
    assert len(streamed) > 0
    assert streamed == expected


def test_stream_static_enrichment(spark, events_dir):
    """Stream-static join: every streamed event picks up its dimension row;
    result equals the batch join."""
    from oracle_vectorsearch_example_spark.streaming.ingest import enrich_stream

    static = read_table(spark, SF, "events")
    dim = (
        static.select("user_id").distinct()
        .withColumn("segment", (F.col("user_id") % 3).cast("int"))
    )
    stream = spark.readStream.schema(static.schema).parquet(events_dir)
    got = _run_stream(
        spark,
        enrich_stream(stream, dim, on="user_id").select("event_id", "segment"),
        "enriched",
    )
    want = static.join(dim, "user_id").select("event_id", "segment")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_stateful_sessions_stitch_across_microbatches(spark, tmp_path):
    """Sessions spanning micro-batch boundaries are stitched by the
    per-key state: three time-sliced files processed oldest-first (one
    per trigger) must yield the same closed sessions as one batch."""
    import time as _time

    from oracle_vectorsearch_example_spark.operators.sessionize import session_stats
    from oracle_vectorsearch_example_spark.streaming.stateful import (
        stateful_sessions_stream,
    )

    static = read_table(spark, SF, "events").select("user_id", "ts")
    lo, hi = static.agg(F.min("ts"), F.max("ts")).collect()[0]
    span = (hi - lo) / 3
    d = str(tmp_path / "sliced")
    for i in range(3):  # sequential writes -> increasing modificationTime
        part = static.filter(
            (F.col("ts") >= lo + i * span)
            & (F.col("ts") < (lo + (i + 1) * span if i < 2 else hi))
        )
        part.coalesce(1).write.mode("append").parquet(d)
        _time.sleep(1.1)  # distinct mod times for oldest-first ordering

    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    got = _run_stream(
        spark, stateful_sessions_stream(stream, gap_minutes=30.0), "stitched_sessions"
    )
    streamed = {
        (r.user_id, r.n_events, round(r.duration_sec, 3)) for r in got.collect()
    }

    # batch over the same (slightly clipped) data
    clipped = static.filter((F.col("ts") >= lo) & (F.col("ts") < hi))
    batch = session_stats(clipped, gap_minutes=30.0)
    last = batch.groupBy("user_id").agg(F.max("session_id").alias("session_id"))
    closed = batch.join(last, ["user_id", "session_id"], "left_anti")
    expected = {
        (r.user_id, r.n_events, round(r.duration_sec, 3)) for r in closed.collect()
    }
    assert len(streamed) > 0
    assert streamed == expected


def test_dedup_batch_twin_matches_stream(spark, events_dir):
    """dedup_events (the oracle-checked batch twin) agrees with the real
    dropDuplicatesWithinWatermark stream on the survivor KEY SET, and pins
    the survivor deterministically to each key's earliest event."""
    from oracle_vectorsearch_example_spark.streaming.ingest import dedup_events

    static = spark.read.parquet(events_dir)
    stream = spark.readStream.schema(static.schema).parquet(events_dir)
    got = _run_stream(
        spark,
        dedup_stream(stream, keys=["user_id", "event_type"], watermark="10 years"),
        "t_dedup_twin", mode="append",
    )
    twin = dedup_events(static)
    assert got.count() == twin.count()
    stream_keys = {(r.user_id, r.event_type)
                   for r in got.select("user_id", "event_type").collect()}
    twin_keys = {(r.user_id, r.event_type)
                 for r in twin.select("user_id", "event_type").collect()}
    assert stream_keys == twin_keys
    # the twin's survivor is each key's earliest event
    earliest = static.groupBy("user_id", "event_type").agg(F.min("ts").alias("ts"))
    assert twin.join(earliest, ["user_id", "event_type", "ts"]).count() == twin.count()


def test_streaming_document_ingest_matches_batch(spark, tmp_path_factory):
    """EP1 as a stream: chunk+embed over a document stream produces exactly
    the batch pipeline's rows (stateless stages run incrementally)."""
    from oracle_vectorsearch_example_spark.plans.pipeline import ingest_documents
    from oracle_vectorsearch_example_spark.streaming.ingest import (
        ingest_documents_stream,
    )

    docs = read_table(spark, SF, "documents")
    docs_dir = str(tmp_path_factory.mktemp("stream") / "docs")
    docs.write.parquet(docs_dir)
    static = spark.read.parquet(docs_dir)

    stream = spark.readStream.schema(static.schema).parquet(docs_dir)
    got = _run_stream(spark, ingest_documents_stream(stream), "t_doc_ingest")
    want = ingest_documents(static)

    assert got.count() == want.count()
    key = ["doc_id", "chunk_id"]
    # full row agreement: chunk text and embeddings identical per key
    joined = got.select(*key, F.col("chunk_text").alias("g_text"),
                        F.col("embedding").alias("g_emb")).join(want, key)
    n_match = joined.filter(
        (F.col("g_text") == F.col("chunk_text"))
        & (F.col("g_emb") == F.col("embedding"))
    ).count()
    assert n_match == want.count()


def test_stream_stream_interval_join_matches_batch(spark, events_dir):
    """Stream-stream inner interval join == batch range_join (filter
    strategy) once availableNow has drained both sides."""
    from oracle_vectorsearch_example_spark.operators.joins import range_join
    from oracle_vectorsearch_example_spark.streaming.ingest import interval_join_streams

    static = spark.read.parquet(events_dir).filter(F.col("user_id") < 40).select(
        "event_id", "user_id", "ts"
    )
    ls = spark.readStream.schema(static.schema).parquet(events_dir).filter(
        F.col("user_id") < 40
    ).select("event_id", "user_id", "ts")
    rs = spark.readStream.schema(static.schema).parquet(events_dir).filter(
        F.col("user_id") < 40
    ).select("event_id", "user_id", "ts")

    joined = interval_join_streams(
        ls, rs, on=["user_id"], lower="INTERVAL 1 SECONDS", upper="INTERVAL 5 MINUTES"
    ).select("event_id", "r_event_id")
    got = sorted(
        (r.event_id, r.r_event_id)
        for r in _run_stream(spark, joined, "t_ssjoin").collect()
    )
    want = sorted(
        (r.event_id, r.r_event_id)
        for r in range_join(
            static, static, on=["user_id"], left_ts="ts", right_ts="ts",
            lower="INTERVAL 1 SECONDS", upper="INTERVAL 5 MINUTES",
        ).select("event_id", "r_event_id").collect()
    )
    assert got == want and len(got) > 0


def test_index_documents_stream_maintains_materialized_index(spark, tmp_path):
    """Streaming EP1 -> IVF maintenance (r5): seed index from half the
    docs, stream the other half in; the maintained index must search
    EXACTLY like the exact top-k over ALL chunks (exhaustive probe), and
    a replayed add (same tag) must not duplicate rows."""
    from oracle_vectorsearch_example_spark.operators.ivf import IvfIndex
    from oracle_vectorsearch_example_spark.operators.search import topk_search
    from oracle_vectorsearch_example_spark.plans.pipeline import (
        _with_chunk_key,
        build_chunk_index,
        ingest_documents,
    )
    from oracle_vectorsearch_example_spark.streaming.ingest import (
        index_documents_stream,
    )

    docs = read_table(spark, SF, "documents").select("doc_id", "text")
    seed = docs.filter(F.col("doc_id") % 2 == 0)
    late = docs.filter(F.col("doc_id") % 2 == 1)
    idx_path = str(tmp_path / "ivf")
    build_chunk_index(
        ingest_documents(seed, max_words=40, overlap=5),
        n_clusters=8,
        seed=42,
        path=idx_path,
    )
    n_seed = IvfIndex.load(spark, idx_path).assignments.count()

    late_dir = str(tmp_path / "late_docs")
    late.write.parquet(late_dir)
    stream = spark.readStream.schema(late.schema).parquet(late_dir)
    q = (
        index_documents_stream(stream, idx_path, max_words=40, overlap=5)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    idx = IvfIndex.load(spark, idx_path)
    all_chunks = _with_chunk_key(
        ingest_documents(docs, max_words=40, overlap=5)
    ).select("__chunk_key", "embedding")
    assert idx.assignments.count() == all_chunks.count() > n_seed

    qf = spark.createDataFrame(
        [(0, [1.0] + [0.0] * 63)], "qid long, qvec array<double>"
    )
    got = idx.search(qf, k=5, nprobe=len(idx.centroids)).collect()
    exact = topk_search(
        all_chunks, qf, k=5, base_id="__chunk_key", base_vec="embedding"
    ).collect()
    assert [(r["qid"], r["rank"], r["__chunk_key"]) for r in got] == [
        (r["qid"], r["rank"], r["__chunk_key"]) for r in exact
    ]

    # replayed tagged add: no-op, no duplicate rows
    some = all_chunks.limit(7)
    before = idx.assignments.count()
    from oracle_vectorsearch_example_spark.sources.txn import Warehouse

    tags = [t for t in Warehouse(spark, idx_path).meta()["tags"] if t.startswith("b")]
    assert tags, idx.data_dirs  # the streamed batch landed tagged
    replay = IvfIndex.load(spark, idx_path).add(some, tag=tags[0])
    assert replay.assignments.count() == before
