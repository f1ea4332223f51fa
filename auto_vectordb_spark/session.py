"""SparkSession factory tuned for this engine, and the one lifecycle for
the storage blocks operators materialize.

Local-mode defaults size the session to the host (``local[<all cores>]``,
one JVM; the tests and benchmarks run on a 4-core host); on a real cluster
the same settings remain sane: AQE handles skew/coalesce at runtime, Arrow
speeds every pandas_udf, UTC pins timestamp semantics for cross-engine
(DuckDB-oracle) comparability.

Storage lifecycle — each working set materialized in ``operators/``,
``streaming/`` and ``pipeline.py`` follows one rule: one-shot (materialize
→ several consumers → done) is ``with materialized(df, posture)``, released
on exit, raise included; rolling loop state (round i+1 reads round i)
releases the previous round once the next one is materialized; blocks the
returned DataFrame still reads belong to the caller.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager
from typing import Literal

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "auto_vectordb_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all local cores. Shuffle
    partitions default to the core count — correct for local mode; on a
    1000-executor cluster you'd size this to ~2-3× total cores and let AQE
    coalesce down.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # testdata events.ts is TIMESTAMP(NANOS) which Spark's reader rejects;
        # read as long and convert (floor-to-µs, matching DuckDB) in load_views
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # size-guarded limit-probes must scan in ONE parallel wave, not
        # CollectLimit's sequential 1, 4, 16... escalation (see
        # plans/parity.py ensure_session_confs)
        .config("spark.sql.limit.initialNumPartitions", "1024")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def release_materialized(df) -> None:
    """Free the storage blocks behind a materialized DataFrame, whichever
    way it was materialized:

    - ``persist()``/``cache()``: ``Dataset.unpersist`` drops the
      CacheManager entry and its blocks.
    - ``localCheckpoint()``: the blocks belong to the INTERNAL RDD the
      plan wraps (``LogicalRDD``). ``Dataset.unpersist`` does not touch
      them, and ``df.rdd.unpersist`` unpersists a fresh conversion RDD,
      not the materialized one — measured: storage unchanged. Unpersist
      the plan's RDD directly.

    Best-effort by design: a frame of any other shape is left to the
    async ContextCleaner, which frees it once the Python proxy is collected.
    """
    try:
        df.unpersist(False)
    except Exception:  # noqa: BLE001 — release is best-effort hygiene
        pass
    try:
        node = df._jdf.queryExecution().analyzed()  # noqa: SLF001
        if node.getClass().getSimpleName() == "LogicalRDD":
            node.rdd().unpersist(False)
    except Exception:  # noqa: BLE001
        pass


@contextmanager
def materialized(
    df: DataFrame, posture: Literal["localCheckpoint", "DISK_ONLY", "persist"]
) -> Iterator[DataFrame]:
    """Materialize ``df`` eagerly, yield the materialized frame, and
    :func:`release_materialized` it on exit — also when the body raises.

    - ``"DISK_ONLY"``: ``persist(StorageLevel.DISK_ONLY)`` + count(), the
      posture for corpus-sized, multiply-consumed working sets. Measured
      at 20M rows (OPTIMIZATION_r13.md) it is within 1% of an eager
      localCheckpoint and KEEPS LINEAGE: a lost executor recomputes its
      blocks instead of killing the job. MEMORY_AND_DISK (eviction churn)
      and no materialization (every consumer rescans the source) measured
      slower.
    - ``"localCheckpoint"``: ``localCheckpoint(eager=True)`` cuts the
      lineage, so its blocks die with their executor; the z-order paths
      keep it only where a recompute would read files they overwrite.
    - ``"persist"``: ``persist()`` + count(), for small working sets such
      as an MLlib training slice.
    """
    if posture == "localCheckpoint":
        out = df.localCheckpoint(eager=True)
    elif posture == "DISK_ONLY":
        out = df.persist(StorageLevel.DISK_ONLY)
    elif posture == "persist":
        out = df.persist()
    else:
        raise ValueError(f"unknown materialization posture: {posture!r}")
    try:
        if posture != "localCheckpoint":
            out.count()
        yield out
    finally:
        release_materialized(out)
