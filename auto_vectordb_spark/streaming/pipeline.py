"""Streaming ingest & windowed analytics.

The reference's ingest flow (files arrive → parse → embed → index,
SURVEY §3.1-3.2) is batch-only with an aspirational async layer (Celery
configured but unused, SURVEY §2.9). Here it is a first-class incremental
mode: a file source feeds the SAME column transforms as batch (one code
path), and the index merge runs in foreachBatch with dropDuplicates(id) —
idempotent under replays, matching ES _id overwrite semantics.

Windowed/sessionized event analytics are the streaming-native extensions a
training-data pipeline needs (event-log hygiene, rate monitoring).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery


def stream_files(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
    glob: str | None = None,
) -> DataFrame:
    """Incremental file source — new files under ``path`` (a directory)
    become micro-batches; ``glob`` filters filenames within it."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window counts+sums with late-data handling.

    Works identically on batch and streaming DataFrames (same function is the
    batch oracle in plans/parity.py via date_trunc equivalence).
    """
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    # cent-quantized exact sum (see plans/parity.py determinism rule 1)
    val_cents = F.round(F.col("value") * 100, 0).try_cast("long")
    return (
        src.groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(key_col))
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(val_cents).cast("double") / 100).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col(key_col),
            "n_events",
            "sum_value",
        )
    )


def attribution_join(
    views: DataFrame,
    clicks: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    horizon: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-stream interval join: each click joins the view(s) by the same
    user within the preceding ``horizon`` (click-through attribution).

    Both sides carry watermarks, and the join condition bounds click.ts to
    [view.ts, view.ts + horizon] — together these let Spark EVICT buffered
    view state once the watermark passes view.ts + horizon, so state is
    bounded by (rate × horizon) regardless of stream length. Without the
    time-range predicate a stream-stream inner join would buffer both
    streams forever. Works identically on batch DataFrames (the batch form
    is the test oracle).
    """
    v = views.select(
        F.col(key_col).alias("v_user"),
        F.col(ts_col).alias("v_ts"),
        F.col("event_id").alias("view_id"),
    )
    c = clicks.select(
        F.col(key_col).alias("c_user"),
        F.col(ts_col).alias("c_ts"),
        F.col("event_id").alias("click_id"),
    )
    if views.isStreaming:
        v = v.withWatermark("v_ts", watermark)
        c = c.withWatermark("c_ts", watermark)
    return v.join(
        c,
        F.expr(
            f"v_user = c_user AND c_ts > v_ts AND c_ts <= v_ts + INTERVAL {horizon}"
        ),
    ).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "click_id",
        F.col("v_ts").alias("view_ts"),
        F.col("c_ts").alias("click_ts"),
    )


def run_stream_to_memory(df: DataFrame, name: str) -> StreamingQuery:
    """Drive a streaming DF to completion synchronously (local smoke/test)."""
    q = (
        df.writeStream.outputMode("complete" if df.isStreaming else "append")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    return q


def foreach_batch_index_merge(
    stream: DataFrame,
    write_fn: Callable[[DataFrame, int], None],
    checkpoint: str,
) -> StreamingQuery:
    """Exactly-once-ish index maintenance: per micro-batch, the user write_fn
    receives a deduped batch (idempotent by 'id'). Checkpointing makes
    replays safe — the merge target must be idempotent, which
    dropDuplicates + overwrite-partition writes guarantee."""

    def _process(batch: DataFrame, epoch: int) -> None:
        write_fn(batch.dropDuplicates(["id"]), epoch)

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def sessionize_stream(
    events: DataFrame,
    gap_minutes: int = 30,
    ts_col: str = "ts",
    user_col: str = "user_id",
    state_timeout_minutes: int | None = None,
) -> DataFrame:
    """Custom stateful streaming operator: per-user gap sessionization with
    ``applyInPandasWithState`` (the Spark-native replacement for operators the
    built-in windowed aggs can't express — SURVEY §2.9 notes the reference
    has NO streaming layer, so this is pure north-star extension).

    State per user: (last event µs, current session ordinal, events in
    session, session start µs). Each micro-batch emits one UPSERT row per
    touched session — downstream sinks key on (user_id, session_id) and keep
    the last write (same idempotent-merge discipline as
    :func:`foreach_batch_index_merge`).

    Batch-equivalence: on time-ordered input this yields exactly the
    lag/running-sum sessionization of ``events_sessionize``
    (plans/parity.py) — gated in tests/test_streaming.py.

    Scale: state is O(active users) × 32 bytes; Spark partitions state by
    ``user_col`` (hash shuffle, the one unavoidable exchange), checkpoints it
    with the stream, and drops it via processing-time timeout after
    ``2 × gap`` idle — bounded memory under unbounded users.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("session_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("session_start_us", T.LongType()),
            T.StructField("session_end_us", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("last_us", T.LongType()),
            T.StructField("session_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("start_us", T.LongType()),
        ]
    )

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        (uid,) = key
        if state.hasTimedOut:
            state.remove()
            return
        last_us, sid, n, start = state.get if state.exists else (None, 0, 0, None)
        touched = {}
        for pdf in pdfs:
            us_series = pdf[ts_col]
            if str(us_series.dtype).startswith("datetime"):
                us_series = us_series.astype("int64") // 1000
            for us in sorted(int(u) for u in us_series):
                if last_us is None or us - last_us > gap_us:
                    sid += 1
                    n = 0
                    start = us
                n += 1
                last_us = us
                touched[sid] = (n, start, us)
        state.update((last_us, sid, n, start))
        if state_timeout_minutes is not None:
            state.setTimeoutDuration(state_timeout_minutes * 60 * 1000)
        if touched:
            yield pd.DataFrame(
                [
                    {
                        "user_id": uid,
                        "session_id": s,
                        "n_events": cnt,
                        "session_start_us": st,
                        "session_end_us": en,
                    }
                    for s, (cnt, st, en) in touched.items()
                ]
            )

    return events.groupBy(user_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if state_timeout_minutes is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def dedup_stream(
    stream: DataFrame,
    keys: list[str],
    event_time_col: str = "ts",
    delay: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state.

    Plain ``dropDuplicates`` on a stream keeps every key seen forever —
    state grows without bound at ingest scale. ``dropDuplicatesWithinWatermark``
    expires a key once the watermark passes its event time + ``delay``, so
    state holds only the dedup horizon (duplicate ingests — retried uploads,
    replayed queue segments — arrive close together in event time).
    """
    return stream.withWatermark(event_time_col, delay).dropDuplicatesWithinWatermark(keys)


def incremental_bm25_index(
    stream: DataFrame,
    index_dir: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> StreamingQuery:
    """Streaming BM25 index maintenance: each micro-batch of documents is
    APPENDED to the incremental BM25 index under ``index_dir`` through its
    one writer, :func:`~auto_vectordb_spark.operators.retraction.bm25_index_append`
    (tagged with the micro-batch epoch) — giving the reference's
    ingest→index flow (S11, reference backend/process/
    elasticsearch_index.py:145-172) its production shape: the corpus is
    never re-scanned; only the new batch is processed. Batch backfills may
    append into the same dir.

    Re-indexing the same doc_id in a later batch OVERWRITES it logically:
    the reader (:func:`~auto_vectordb_spark.operators.retraction.bm25_index_with_deletes`)
    keeps only each doc's latest epoch — the ES ``_id`` idempotent-overwrite
    semantics (elasticsearch_index.py:141). Appends + checkpoint make
    replays safe: a replayed epoch rewrites identical rows and latest-wins
    dedup absorbs them.

    At 100 TB: per-batch work is proportional to the batch, appends are
    partition-parallel, and a periodic compaction job
    (retraction.bm25_compact_index) bounds read amplification — the
    standard LSM-ish shape.
    """
    from ..operators.retraction import bm25_index_append

    def _write(batch: DataFrame, epoch: int) -> None:
        bm25_index_append(batch, index_dir, epoch, id_col, text_col)

    return (
        stream.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def incremental_ivf_index(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    centroids: DataFrame,
    vec_col: str = "embedding",
    corpus_id: str = "vec_id",
) -> StreamingQuery:
    """Streaming vector-index maintenance — the vector-side twin of
    :func:`incremental_bm25_index`: each micro-batch of embeddings is
    assigned under the FROZEN centroid set and appended into the persisted
    IVF index's ``centroid_id=`` partition dirs
    (:func:`~auto_vectordb_spark.operators.knn.ivf_append`). Continuous
    embedding ingestion: searches pick up new vectors on their next scan,
    no index downtime, the existing index is never read or rewritten.

    Replay safety under foreachBatch's at-least-once contract: a retried
    batch re-appends IDENTICAL rows (frozen centroids → same assignment).
    Correctness holds at SEARCH time, not just at compaction: ivf_search /
    ivf_search_persisted collapse duplicate ids (max score per
    (query_id, vec_id)) before the top-k window, so a replayed vec_id can
    never occupy two top-k slots in the window between a replay and the
    next ``ivf_compact`` — which still squashes the storage duplicates,
    run from the same maintenance scheduler that owns BM25 epoch
    compaction. At 100 TB per-batch work is proportional to the batch and
    appends are partition-parallel.
    """
    from ..operators import knn as KNN

    def _write(batch: DataFrame, epoch: int) -> None:
        if batch.isEmpty():
            return
        KNN.ivf_append(batch, centroids, path, vec_col=vec_col, corpus_id=corpus_id)

    return (
        stream.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint)
        .start()
    )
