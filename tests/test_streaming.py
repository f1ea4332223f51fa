"""Streaming extensions: batch/stream parity, idempotent foreachBatch merge."""

import uuid

from pyspark.sql import functions as F

from auto_vectordb_spark.plans.parity import _fix_nanos
from auto_vectordb_spark.streaming.pipeline import (
    foreach_batch_index_merge,
    run_stream_to_memory,
    stream_files,
    windowed_event_counts,
)


def _events_batch(spark, sf_dir):
    return _fix_nanos(spark.read.parquet(f"{sf_dir}/events.parquet"))


def test_stream_equals_batch(spark, sf_dir):
    """The SAME windowed aggregation over file-stream and batch must agree."""
    batch = windowed_event_counts(_events_batch(spark, sf_dir))
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = _fix_nanos(stream_files(spark, sf_dir, raw_schema, glob="events.parquet"))
    name = f"t_{uuid.uuid4().hex[:8]}"
    q = run_stream_to_memory(windowed_event_counts(stream), name)
    q.stop()
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.table(name).collect()
    }
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in batch.collect()
    }
    assert got == want


def test_watermark_present_in_stream_plan(spark, sf_dir):
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = _fix_nanos(stream_files(spark, sf_dir, raw_schema, glob="events.parquet"))
    agg = windowed_event_counts(stream, watermark="2 hours")
    assert agg.isStreaming


def test_foreach_batch_merge_idempotent(spark, tmp_path):
    """Replayed micro-batches must not duplicate ids in the sink."""
    src_dir, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3)], ["id", "v"]
    )
    df.write.parquet(src_dir)
    sink: dict[str, int] = {}

    def write_fn(batch, epoch):
        for r in batch.collect():
            sink[r["id"]] = sink.get(r["id"], 0) + 1

    stream = spark.readStream.schema(df.schema).parquet(src_dir)
    q = foreach_batch_index_merge(stream, write_fn, ckpt)
    q.processAllAvailable()
    q.stop()
    # duplicate id 'a' collapsed inside the batch before write_fn
    assert sink == {"a": 1, "b": 1}


def test_streaming_ingest_chunks_path(spark, tmp_path):
    """Incremental ingest: new parquet files under a dir flow through the
    same chunk derivation as batch (one code path, SURVEY §3.1)."""
    from auto_vectordb_spark.schema import CHUNK_SCHEMA, derive_chunks

    src_dir = str(tmp_path / "docs")
    docs = spark.createDataFrame(
        [(1, "hello world", "uploaded/cat1/f.pdf")], ["doc_id", "text", "source"]
    )
    docs.write.parquet(src_dir)
    stream = spark.readStream.schema(docs.schema).parquet(src_dir)
    chunks = derive_chunks(stream, timestamp="2024-06-01 00:00:00")
    assert chunks.isStreaming
    assert [f.name for f in chunks.schema.fields] == [f.name for f in CHUNK_SCHEMA.fields]
    name = f"ing_{uuid.uuid4().hex[:8]}"
    q = (
        chunks.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    out = spark.table(name).collect()
    assert len(out) == 1 and out[0]["lv1_cat"] == "cat1"


def test_sessionize_stream_stateful_across_batches(spark, tmp_path):
    """applyInPandasWithState sessionizer must carry state across
    micro-batches and agree with the batch lag/running-sum oracle."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from auto_vectordb_spark.streaming.pipeline import sessionize_stream

    # two users; u1 has a 40-min gap splitting two sessions ACROSS the batch
    # boundary; u2 stays within one session
    m = 60 * 1_000_000
    batch1 = [(1, 0 * m), (1, 5 * m), (2, 0 * m)]
    batch2 = [(1, 50 * m), (1, 55 * m), (2, 20 * m)]
    schema = T.StructType(
        [T.StructField("user_id", T.LongType()), T.StructField("ts", T.LongType())]
    )
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "events_in"
    src.mkdir()
    for i, batch in enumerate([batch1, batch2], start=1):
        path = src / f"b{i}.parquet"
        pq.write_table(
            pa.table(
                {
                    "user_id": pa.array([u for u, _ in batch], pa.int64()),
                    "ts": pa.array([t for _, t in batch], pa.int64()),
                }
            ),
            path,
        )
        os.utime(path, (i, i))  # deterministic file order for the trigger

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    out = sessionize_stream(stream, gap_minutes=30)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("sessions")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    rows = spark.sql(
        "SELECT user_id, session_id, max(n_events) AS n FROM sessions GROUP BY 1, 2"
    ).collect()
    got = {(r["user_id"], r["session_id"]): r["n"] for r in rows}
    # u1: session 1 = events at 0,5min (2), session 2 = 50,55min (2)
    # u2: one session = 0,20min (2)
    assert got == {(1, 1): 2, (1, 2): 2, (2, 1): 2}


def test_sessionize_stream_matches_batch_oracle(spark, sf_dir, tmp_path):
    """Streamed stateful sessionization over the REAL events table (split into
    3 time-ordered micro-batches) must equal the batch lag/running-sum
    sessionization of plans/parity.py events_sessionize."""
    import os

    from pyspark.sql import functions as F

    from auto_vectordb_spark.plans.parity import REGISTRY, load_views
    from auto_vectordb_spark.streaming.pipeline import sessionize_stream

    t = load_views(spark, sf_dir)
    ev = t["events"].select("user_id", F.unix_micros("ts").alias("ts"))
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    src = tmp_path / "ev_in"
    src.mkdir()
    step = (hi - lo) // 3 + 1
    for i in range(3):
        part = ev.filter((F.col("ts") >= lo + i * step) & (F.col("ts") < lo + (i + 1) * step))
        part.coalesce(1).write.parquet(str(tmp_path / f"stage{i}"))
        pq_file = next(
            f for f in os.listdir(tmp_path / f"stage{i}") if f.endswith(".parquet")
        )
        os.rename(tmp_path / f"stage{i}" / pq_file, src / f"b{i}.parquet")
        os.utime(src / f"b{i}.parquet", (i + 1, i + 1))

    stream = (
        spark.readStream.schema("user_id long, ts long")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    out = sessionize_stream(stream, gap_minutes=30)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("sessions_real")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = {
        (r["user_id"]): (r["n_sessions"], r["n_events"])
        for r in spark.sql(
            """
            SELECT user_id, count(DISTINCT session_id) AS n_sessions,
                   CAST(sum(n) AS BIGINT) AS n_events
            FROM (SELECT user_id, session_id, max(n_events) AS n
                  FROM sessions_real GROUP BY 1, 2)
            GROUP BY user_id
            """
        ).collect()
    }
    want = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in REGISTRY["events_sessionize"].spark(spark, sf_dir).collect()
    }
    assert got == want


def test_late_data_dropped_below_watermark(spark, tmp_path):
    """Append-mode windowed agg: rows older than the watermark are DROPPED,
    and finalized windows emit file-1-only counts.

    Batch 1 spans 00:00-10:00 → after it, watermark = 10:00 - 2h = 08:00.
    Batch 2 brings a LATE row at 07:30 (< watermark) and an on-time row at
    10:30. Windows ending ≤ 08:00 finalize during batch 2; the 07:00 window
    must count only the batch-1 event — the late row never reaches state.
    """
    import datetime as dt

    src_dir = str(tmp_path / "late_src")
    ckpt = str(tmp_path / "late_ckpt")
    name = f"late_{uuid.uuid4().hex[:8]}"
    base = dt.datetime(2024, 1, 1)

    def rows(hours_minutes):
        return [
            (i, base + dt.timedelta(hours=h, minutes=m), 1, "click", 1.0, "{}")
            for i, (h, m) in enumerate(hours_minutes)
        ]

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    batch1 = spark.createDataFrame(rows([(h, 0) for h in range(11)]), schema)
    batch1.coalesce(1).write.mode("append").parquet(src_dir)

    stream = spark.readStream.schema(batch1.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src_dir)
    agg = windowed_event_counts(stream, watermark="2 hours")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    batch2 = spark.createDataFrame(rows([(7, 30), (10, 30)]), schema)
    batch2.coalesce(1).write.mode("append").parquet(src_dir)
    q.processAllAvailable()
    q.stop()

    got = {
        r["window_start"].hour: r["n_events"]
        for r in spark.table(name).collect()
    }
    # windows 00..07 finalized (end <= 08:00 watermark); none beyond
    assert set(got) == set(range(8))
    # the late 07:30 row was dropped — window 07 counts ONLY the batch-1 row
    assert got[7] == 1


def test_dedup_stream_bounded_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicates arriving within the delay
    collapse to one row; the streaming result matches batch distinct-by-key."""
    import datetime as dt

    from auto_vectordb_spark.streaming.pipeline import dedup_stream

    src_dir = str(tmp_path / "dedup_src")
    ckpt = str(tmp_path / "dedup_ckpt")
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    base = dt.datetime(2024, 1, 1)

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    # batch 1: ids 0,1,2 (id 1 duplicated in-batch)
    b1 = spark.createDataFrame(
        [
            (0, base, 1, "click", 1.0, "{}"),
            (1, base + dt.timedelta(minutes=1), 1, "click", 1.0, "{}"),
            (1, base + dt.timedelta(minutes=2), 1, "click", 1.0, "{}"),
            (2, base + dt.timedelta(minutes=3), 1, "click", 1.0, "{}"),
        ],
        schema,
    )
    b1.coalesce(1).write.mode("append").parquet(src_dir)

    stream = spark.readStream.schema(b1.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src_dir)
    deduped = dedup_stream(stream, ["event_id"], "ts", delay="30 minutes")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    # batch 2: id 2 replayed minutes later (within horizon) + new id 3
    b2 = spark.createDataFrame(
        [
            (2, base + dt.timedelta(minutes=4), 1, "click", 1.0, "{}"),
            (3, base + dt.timedelta(minutes=5), 1, "click", 1.0, "{}"),
        ],
        schema,
    )
    b2.coalesce(1).write.mode("append").parquet(src_dir)
    q.processAllAvailable()
    q.stop()

    got = sorted(r["event_id"] for r in spark.sql(f"SELECT * FROM {name}").collect())
    assert got == [0, 1, 2, 3]


def test_attribution_join_stream_matches_batch(spark, sf_dir):
    """Stream-stream interval join (view->click within 10 min) must emit
    exactly the batch join's rows; watermark + time-range bound the state."""
    import uuid as _uuid

    from auto_vectordb_spark.streaming.pipeline import attribution_join

    batch = _events_batch(spark, sf_dir)
    views_b = batch.filter(F.col("event_type") == "view")
    clicks_b = batch.filter(F.col("event_type") == "click")
    want = {
        (r["view_id"], r["click_id"])
        for r in attribution_join(views_b, clicks_b).collect()
    }
    assert want, "fixture must produce at least one attributed pair"

    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = _fix_nanos(stream_files(spark, sf_dir, raw_schema, glob="events.parquet"))
    views_s = stream.filter(F.col("event_type") == "view")
    clicks_s = stream.filter(F.col("event_type") == "click")
    joined = attribution_join(views_s, clicks_s)
    assert joined.isStreaming
    name = f"t_{_uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {(r["view_id"], r["click_id"]) for r in spark.table(name).collect()}
    assert got == want


def test_incremental_bm25_index_matches_batch_rebuild(spark, tmp_path):
    """Two micro-batches (the second RE-indexes doc 1) must yield search
    results identical to a from-scratch index over the final corpus."""
    from auto_vectordb_spark.operators import bm25 as BM25
    from auto_vectordb_spark.operators import retraction as RT
    from auto_vectordb_spark.streaming.pipeline import incremental_bm25_index

    src = str(tmp_path / "docs")
    idx = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"

    b1 = spark.createDataFrame(
        [(1, "spark shuffles data"), (2, "duckdb scans parquet")], schema=schema
    )
    b1.write.mode("append").parquet(src)
    stream = spark.readStream.schema(b1.schema).parquet(src)
    q = incremental_bm25_index(stream, idx, ckpt)
    q.processAllAvailable()

    # batch 2: new doc 3 AND a re-index of doc 1 with different text
    b2 = spark.createDataFrame(
        [(1, "spark broadcasts small tables"), (3, "parquet stores columns")],
        schema=schema,
    )
    b2.write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()

    final_corpus = spark.createDataFrame(
        [
            (1, "spark broadcasts small tables"),
            (2, "duckdb scans parquet"),
            (3, "parquet stores columns"),
        ],
        schema=schema,
    )
    queries = spark.createDataFrame(
        [(0, "spark parquet"), (1, "small columns")], ["query_id", "query_text"]
    )

    def results(index):
        scored = BM25.search(index, queries, k=3)
        return sorted(
            (r["query_id"], r["doc_id"], round(r["score"], 9))
            for r in scored.collect()
        )

    inc = results(RT.bm25_index_with_deletes(spark, idx))
    scratch = results(BM25.build_index(final_corpus))
    assert inc == scratch and len(inc) > 0
    # the streamed artifacts carry both epochs for doc 1 (append-only log)
    lens = spark.read.parquet(f"{idx}/doc_lens")
    assert lens.filter("doc_id = 1").count() == 2


def test_incremental_bm25_stream_and_batch_writers_share_index_dir(spark, tmp_path):
    """One streamed micro-batch, then a batch append into the SAME index
    dir (the documented backfill shape): every artifact file carries a
    long epoch — an int epoch from the stream next to the batch writer's
    long one makes the reader fail with a parquet column type mismatch —
    and search equals a from-scratch index over the final corpus."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    from auto_vectordb_spark.operators import bm25 as BM25
    from auto_vectordb_spark.operators import retraction as RT
    from auto_vectordb_spark.streaming.pipeline import incremental_bm25_index

    src = str(tmp_path / "docs")
    idx = str(tmp_path / "index")
    schema = "doc_id long, text string"
    b1 = spark.createDataFrame(
        [(1, "spark shuffles data"), (2, "duckdb scans parquet")], schema=schema
    )
    b1.write.parquet(src)
    stream = spark.readStream.schema(b1.schema).parquet(src)
    q = incremental_bm25_index(stream, idx, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()
    # batch epoch 1: re-index doc 1 and add doc 3
    RT.bm25_index_append(
        spark.createDataFrame(
            [(1, "spark broadcasts small tables"), (3, "parquet stores columns")],
            schema=schema,
        ),
        idx,
        epoch=1,
    )
    for name in ("postings", "doc_lens"):
        files = glob.glob(f"{idx}/{name}/*.parquet")
        assert files
        for f in files:
            assert pq.read_schema(f).field("epoch").type == pa.int64(), f

    final_corpus = spark.createDataFrame(
        [
            (1, "spark broadcasts small tables"),
            (2, "duckdb scans parquet"),
            (3, "parquet stores columns"),
        ],
        schema=schema,
    )
    queries = spark.createDataFrame(
        [(0, "spark parquet"), (1, "small columns")], ["query_id", "query_text"]
    )

    def results(index):
        return sorted(
            (r["query_id"], r["doc_id"], round(r["score"], 9))
            for r in BM25.search(index, queries, k=3).collect()
        )

    got = results(RT.bm25_index_with_deletes(spark, idx))
    assert got == results(BM25.build_index(final_corpus)) and len(got) > 0


def test_incremental_bm25_reader_absorbs_replayed_epoch(spark, tmp_path):
    """A crash-replayed micro-batch appends identical rows twice; the
    latest-wins reader must still score as if the batch ran once."""
    from auto_vectordb_spark.operators import bm25 as BM25
    from auto_vectordb_spark.operators import retraction as RT

    idx = str(tmp_path / "index")
    docs = spark.createDataFrame(
        [(1, "spark shuffles data"), (2, "duckdb scans parquet")],
        schema="doc_id long, text string",
    )
    for _ in range(2):  # the batch lands TWICE (simulated replay)
        RT.bm25_index_append(docs, idx, epoch=0)

    queries = spark.createDataFrame([(0, "spark parquet")], ["query_id", "query_text"])
    replayed = BM25.search(RT.bm25_index_with_deletes(spark, idx), queries, k=3)
    clean = BM25.search(BM25.build_index(docs), queries, k=3)
    as_set = lambda df: {  # noqa: E731
        (r["query_id"], r["doc_id"], round(r["score"], 9)) for r in df.collect()
    }
    assert as_set(replayed) == as_set(clean) and len(as_set(clean)) > 0


def test_compact_index_preserves_scores_and_epoch_order(spark, tmp_path):
    """Compaction must (a) leave search results bit-identical, (b) squash
    superseded epochs AND replayed duplicates down to one row per live
    (doc, term), and (c) keep epochs so a post-compaction re-index still
    overwrites."""
    from auto_vectordb_spark.operators import bm25 as BM25
    from auto_vectordb_spark.operators import retraction as RT

    idx = str(tmp_path / "index")
    schema = "doc_id long, text string"
    RT.bm25_index_append(
        spark.createDataFrame(
            [(1, "spark shuffles data"), (2, "duckdb scans parquet")], schema=schema
        ),
        idx,
        epoch=0,
    )
    # epoch 1 re-indexes doc 1 and lands TWICE (simulated crash replay)
    for _ in range(2):
        RT.bm25_index_append(
            spark.createDataFrame([(1, "spark broadcasts small tables")], schema=schema),
            idx,
            epoch=1,
        )

    queries = spark.createDataFrame(
        [(0, "spark parquet"), (1, "small tables")], ["query_id", "query_text"]
    )

    def results():
        scored = BM25.search(RT.bm25_index_with_deletes(spark, idx), queries, k=3)
        return sorted(
            (r["query_id"], r["doc_id"], round(r["score"], 9))
            for r in scored.collect()
        )

    before = results()
    counts = RT.bm25_compact_index(spark, idx)
    assert results() == before and len(before) > 0
    # doc 1: epoch 0 (3 terms) + 2×epoch 1 (4 terms) → 4; doc 2 stays 3.
    assert counts["postings_before"] == 3 + 3 + 2 * 4
    assert counts["postings_after"] == 4 + 3
    assert counts["doc_lens_after"] == 2
    # compacted rows keep their epochs → a LATER epoch still wins
    lens = spark.read.parquet(f"{idx}/doc_lens")
    assert {r["epoch"] for r in lens.collect()} == {0, 1}
    RT.bm25_index_append(
        spark.createDataFrame([(1, "entirely new words now")], schema=schema),
        idx,
        epoch=2,
    )
    post2 = BM25.search(
        RT.bm25_index_with_deletes(spark, idx),
        spark.createDataFrame([(0, "entirely new")], ["query_id", "query_text"]),
        k=3,
    )
    assert [r["doc_id"] for r in post2.collect()] == [1]


def test_compact_index_recovers_stale_old_dirs(spark, tmp_path):
    """compaction's aside-rename swap must tolerate leftover _*_old dirs
    from a crashed earlier compaction and never leave the live artifact
    paths absent."""
    from auto_vectordb_spark.operators import retraction as RT

    docs = spark.createDataFrame(
        [(0, "spark join filter"), (1, "window agg stream")], ["doc_id", "text"]
    )
    idx = str(tmp_path / "bmidx")
    RT.bm25_index_append(docs, idx, epoch=0)
    for name in ("doc_lens", "postings"):
        stale = tmp_path / "bmidx" / f"_{name}_old"
        stale.mkdir()
        (stale / "junk").write_text("leftover")
    counts = RT.bm25_compact_index(spark, idx)
    assert counts["postings_after"] == counts["postings_before"]
    for name in ("doc_lens", "postings"):
        assert (tmp_path / "bmidx" / name).exists()
        assert not (tmp_path / "bmidx" / f"_{name}_old").exists()


def test_incremental_ivf_index_stream(spark, sf_dir, tmp_path):
    """Streaming IVF maintenance: micro-batches of embeddings land in the
    persisted index; a replayed batch's duplicates are squashed by
    ivf_compact; persisted search then matches a batch-built index."""
    from pyspark.sql import functions as F

    from auto_vectordb_spark.operators import knn as KNN
    from auto_vectordb_spark.streaming.pipeline import incremental_ivf_index

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    centroids = KNN.label_centroids(emb)
    idx = str(tmp_path / "ivf_stream")
    # seed index with the first half
    KNN.ivf_write(KNN.ivf_build(emb.filter(F.col("vec_id") < 250), centroids), idx)

    # stream the second half in as two file micro-batches
    src = tmp_path / "incoming"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = incremental_ivf_index(stream, idx, ckpt, centroids)

    def feed(df, name):
        # the file source wants FILES in src, not nested write dirs
        import glob
        import shutil

        staging = tmp_path / f"_stage_{name}"
        df.coalesce(1).write.parquet(str(staging))
        part = glob.glob(str(staging / "part-*.parquet"))[0]
        shutil.move(part, src / f"{name}.parquet")

    feed(emb.filter((F.col("vec_id") >= 250) & (F.col("vec_id") < 400)), "b1")
    feed(emb.filter(F.col("vec_id") >= 400), "b2")
    q.processAllAvailable()
    q.stop()

    n_total = emb.count()
    assert spark.read.parquet(idx).count() == n_total

    # simulate a crash-replayed append, then compact
    KNN.ivf_append(emb.filter(F.col("vec_id") >= 400), centroids, idx)
    counts = KNN.ivf_compact(spark, idx)
    assert counts["rows_after"] == n_total

    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = sorted(
        (r["query_id"], r["vec_id"])
        for r in KNN.ivf_search_persisted(
            queries, spark, idx, centroids, k=5, nprobe=8
        ).collect()
    )
    clean = str(tmp_path / "ivf_clean")
    KNN.ivf_write(KNN.ivf_build(emb, centroids), clean)
    want = sorted(
        (r["query_id"], r["vec_id"])
        for r in KNN.ivf_search_persisted(
            queries, spark, clean, centroids, k=5, nprobe=8
        ).collect()
    )
    assert got == want


def test_e2e_ingest_assignment_margin_probe(spark, sf_dir):
    """Margin gate for streaming_ingest_e2e's oracle (plans/parity.py):
    the IVF assignment argmax is compared cross-engine on UNROUNDED
    cosines, which is only sound while every doc's best-vs-second centroid
    gap stays orders of magnitude above engine float drift (~1e-14 for a
    64-dim float32 dot). This probe recomputes the gaps with numpy and
    fails if the fixture margins ever collapse below 1e-9 — the signal to
    switch the entry to round-before-rank."""
    import numpy as np
    from pyspark.sql import functions as F

    from auto_vectordb_spark.functions.embedding import embed_udf
    from auto_vectordb_spark.plans.parity import _E2E_K, _EMBED_DIM, load_views

    docs = load_views(spark, sf_dir)["documents"]
    rows = docs.select(
        "doc_id", embed_udf(_EMBED_DIM)(F.col("text")).alias("e")
    ).collect()
    vecs = {r["doc_id"]: np.asarray(r["e"], dtype=np.float64) for r in rows}
    cents = np.stack([vecs[i] for i in range(_E2E_K)])
    cn = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-30)
    min_gap = min(
        (lambda s: s[0] - s[1])(np.sort(cn @ (v / max(np.linalg.norm(v), 1e-30)))[::-1])
        for v in vecs.values()
    )
    # measured 4.1e-4 at sf0.001 and 1.6e-5 at sf0.01 (2026-08-15)
    assert min_gap > 1e-9, f"assignment margin collapsed to {min_gap}"


def test_hybrid_fusion_ab_lists_align_and_diverge(spark, sf_dir):
    """The A/B entry must be non-vacuous: both policies produce a full
    top-k per query from identical legs, agree on membership for most docs
    (same legs), and the weighted-vs-RRF ORDER differs somewhere — the
    comment-vs-implementation discrepancy the entry exists to measure
    (elasticsearch_index.py:222 vs :235-246)."""
    from auto_vectordb_spark.plans.parity import _KNN_K, REGISTRY

    rows = REGISTRY["hybrid_fusion_ab"].spark(spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert by_q, "no fused rows at all"
    for q, rs in by_q.items():
        w_ranks = sorted(r["weighted_rank"] for r in rs if r["weighted_rank"] > 0)
        r_ranks = sorted(r["rrf_rank"] for r in rs if r["rrf_rank"] > 0)
        assert w_ranks == list(range(1, _KNN_K + 1)), (q, w_ranks)
        assert r_ranks == list(range(1, _KNN_K + 1)), (q, r_ranks)
    # rank-order divergence exists somewhere (weighted is score-scale
    # sensitive, RRF is rank-space) — if the two policies ever became
    # identical the A/B entry would be measuring nothing
    assert any(
        r["weighted_rank"] > 0 and r["rrf_rank"] > 0
        and r["weighted_rank"] != r["rrf_rank"]
        for r in rows
    ) or any(
        (r["weighted_rank"] > 0) != (r["rrf_rank"] > 0) for r in rows
    ), "weighted and RRF produced identical rankings on every query"


def test_e2e_ingest_degrades_when_no_centroid_ids_exist(spark, sf_dir, tmp_path):
    """r9 review: with no doc_id < _E2E_K (an id-shifted shard), the IVF
    appends create a directory with ZERO part files — schema inference on
    it would throw. The entry must degrade to the empty result (matching
    its oracle, whose centroid CTE is equally empty), not crash."""
    import os

    import duckdb

    from auto_vectordb_spark.plans.parity import REGISTRY, TABLES

    con = duckdb.connect()
    for t in TABLES:
        if t == "documents":
            con.execute(
                f"COPY (SELECT * REPLACE (doc_id + 1000 AS doc_id) "
                f"FROM '{sf_dir}/{t}.parquet') TO '{tmp_path}/{t}.parquet'"
            )
        else:
            os.symlink(f"{sf_dir}/{t}.parquet", f"{tmp_path}/{t}.parquet")
    con.close()
    out = REGISTRY["streaming_ingest_e2e"].spark(spark, str(tmp_path))
    assert out.columns == ["doc_id", "dl", "n_terms", "centroid_id"]
    assert out.count() == 0
