"""session.materialized and the storage lifecycle of materializing operators.

The storage gate: right after an operator returns (and its result is
collected), every RDD it newly left cached must be one that the returned
DataFrame's plan still reads (a ``LogicalRDD`` or ``InMemoryRelation``
leaf). Anything else is a leaked block. The check runs with no Python or
JVM GC in between: the async ContextCleaner is not part of the contract.
"""

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from auto_vectordb_spark.operators import cluster as CL
from auto_vectordb_spark.operators import dedup as DD
from auto_vectordb_spark.operators import graph as G
from auto_vectordb_spark.operators import layout_maint as LM
from auto_vectordb_spark.operators import pq as PQ
from auto_vectordb_spark.operators import tokenizer as TK
from auto_vectordb_spark.plans.parity import load_views
from auto_vectordb_spark.session import materialized
from auto_vectordb_spark.streaming import cdc

POSTURES = ["localCheckpoint", "DISK_ONLY", "persist"]


def _cached(spark) -> set[int]:
    """Ids of every RDD currently marked persistent in the SparkContext."""
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _plan_reads(df) -> set[int]:
    """Ids of the stored RDDs a DataFrame's plan reads: localCheckpoint
    leaves (``LogicalRDD``) and cache leaves (``InMemoryRelation``)."""
    # select("*") builds a fresh QueryExecution, so cache substitution
    # reflects what is cached now, not when ``df`` was first planned
    stack, out = [df.select("*")._jdf.queryExecution().withCachedData()], set()
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "LogicalRDD":
            out.add(int(node.rdd().id()))
        elif kind == "InMemoryRelation":
            out.add(int(node.cacheBuilder().cachedColumnBuffers().id()))
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return out


def _leaked(spark, call, returned=lambda out: out) -> set[int]:
    """RDDs newly cached by ``call()`` that its returned frame does not read."""
    before = _cached(spark)
    frame = returned(call())
    reads = set()
    if frame is not None:
        frame.collect()
        reads = _plan_reads(frame)
    return _cached(spark) - before - reads


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return load_views(spark, sf_dir)["events"]


@pytest.fixture(scope="module")
def small(spark):
    return spark.range(200).select(F.col("id"), (F.col("id") % 7).alias("k"))


# ---- session.materialized ---------------------------------------------------


@pytest.mark.parametrize("posture", POSTURES)
def test_materialized_frees_blocks_on_exit(spark, small, posture):
    before = _cached(spark)
    with materialized(small.groupBy("k").count(), posture) as m:
        pinned = _cached(spark) - before
        assert pinned and pinned == _plan_reads(m)
        assert m.count() == 7
    assert _cached(spark) - before == set()


@pytest.mark.parametrize("posture", POSTURES)
def test_materialized_frees_blocks_when_body_raises(spark, small, posture):
    before = _cached(spark)
    with pytest.raises(RuntimeError, match="body failed"):
        with materialized(small.where(F.col("k") > 2), posture):
            assert _cached(spark) - before
            raise RuntimeError("body failed")
    assert _cached(spark) - before == set()


def test_materialized_local_checkpoint_outlives_rdd_unpersist(spark, small):
    """``df.rdd.unpersist`` unpersists a fresh conversion RDD, not the
    checkpointed one; the context manager's release is what frees it."""
    before = _cached(spark)
    with materialized(small, "localCheckpoint") as m:
        m.rdd.unpersist()
        assert _cached(spark) - before == _plan_reads(m) != set()
    assert _cached(spark) - before == set()


def test_materialized_disk_only_posture(spark, small):
    with materialized(small, "DISK_ONLY") as m:
        assert m.storageLevel == StorageLevel.DISK_ONLY


def test_materialized_rejects_unknown_posture(spark, small):
    with pytest.raises(ValueError, match="posture"):
        with materialized(small, "MEMORY_ONLY"):
            pass


# ---- storage gate: the operators that used to leak --------------------------


def test_connected_components_distributed_leaves_no_blocks(spark):
    pairs = spark.createDataFrame(
        [(5, 9), (9, 2), (7, 8), (10, 11), (11, 3)], ["id_a", "id_b"]
    )
    leaked = _leaked(
        spark, lambda: DD.connected_components(pairs, driver_threshold=0)
    )
    assert leaked == set()


def test_bpe_train_leaves_no_blocks(spark):
    docs = spark.createDataFrame(
        [(0, "low lower lowest low low"), (1, "new newer newest wider wide")],
        ["doc_id", "text"],
    )
    leaked = _leaked(spark, lambda: TK.bpe_train(docs, num_merges=6), lambda r: r[1])
    assert leaked == set()


def test_zorder_compaction_cycle2_leaves_no_blocks(spark, events, tmp_path):
    main, side = str(tmp_path / "main"), str(tmp_path / "side")
    LM.zorder_compaction_apply(spark, events, main, side)
    leaked = _leaked(
        spark, lambda: LM.zorder_compaction_cycle2(spark, main, side, rewrite_pct=5)
    )
    assert leaked == set()


def _cdc_batch(events, op):
    return events.limit(50).withColumn("op", F.lit(op))


def test_apply_cdc_batch_leaves_no_blocks(spark, events, tmp_path):
    state_dir = str(tmp_path / "state")
    leaked = _leaked(
        spark,
        lambda: cdc.apply_cdc_batch(
            spark, _cdc_batch(events, "upsert"), state_dir, epoch=1
        ),
    )
    assert leaked == set()


def test_apply_cdc_batch_releases_on_raise(spark, events, tmp_path):
    before = _cached(spark)
    with pytest.raises(ValueError, match="unknown CDC op"):
        cdc.apply_cdc_batch(
            spark, _cdc_batch(events, "merge"), str(tmp_path / "s"), epoch=1
        )
    assert _cached(spark) - before == set()


# ---- storage gate: regression guards ----------------------------------------


def test_lloyd_leaves_no_blocks(spark):
    vecs = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3)]) for i in range(30)],
        ["vec_id", "embedding"],
    )
    leaked = _leaked(spark, lambda: CL.lloyd(vecs, k=3, iters=2), lambda r: r[0])
    assert leaked == set()


def test_pagerank_leaves_no_blocks(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 4), (4, 3), (5, 1)], ["src", "dst"]
    )
    assert _leaked(spark, lambda: G.pagerank(edges, iterations=3)) == set()


def test_pagerank_empty_graph_leaves_no_blocks(spark):
    empty = spark.createDataFrame([], "src long, dst long")
    assert _leaked(spark, lambda: G.pagerank(empty, iterations=3)) == set()


def test_pq_codebooks_kmeans_leaves_no_blocks(spark):
    vecs = spark.createDataFrame(
        [(i, [float(i % j) for j in (4, 5, 6, 7)]) for i in range(40)],
        ["vec_id", "embedding"],
    )
    leaked = _leaked(
        spark, lambda: PQ.pq_codebooks_kmeans(vecs, m=2, ksub=4), lambda r: None
    )
    assert leaked == set()


def test_zorder_compaction_apply_leaves_no_blocks(spark, events, tmp_path):
    main, side = str(tmp_path / "main"), str(tmp_path / "side")
    leaked = _leaked(
        spark, lambda: LM.zorder_compaction_apply(spark, events, main, side)
    )
    assert leaked == set()


def test_zorder_write_ranged_leaves_no_blocks(spark, events, tmp_path):
    path = str(tmp_path / "ranged")
    leaked = _leaked(spark, lambda: LM.zorder_write_ranged(events, path, n_files=4))
    assert leaked == set()
