"""File sources (reference S3–S9) and sinks (S7, S10, S11 analogs).

Reference behaviors re-expressed:
- S3 recursive directory scan (os.walk, parsing.py:232-236) →
  ``binaryFile`` scan with recursiveFileLookup: distributed, splittable
  listing instead of a driver-side generator.
- S4 file count (parsing.py:238-243) → ``df.count()`` on the scan.
- S8 pickle source (postgres.py:226-290) → parquet (columnar replaces
  pickle); metadata flatten is a select.
- S9 CSV source with utf-8-sig + NaN→'' (postgres.py:148-156) →
  ``spark.read.csv`` + na.fill.
- S10 batched insert sink (postgres.py:158-224, chunk=100 + rollback-and-
  continue) → partition-parallel writes with task retry; batching is
  Spark's job, not user code.
- S11 ES bulk index with idempotent _id (elasticsearch_index.py:113-172) →
  dropDuplicates(id) + write; at scale, write partitioned/bucketed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.relational import idempotent_dedup


def scan_files(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """S3 — recursive file scan; returns (path, modificationTime, length, content)."""
    reader = spark.read.format("binaryFile").option("recursiveFileLookup", "true")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def count_files(spark: SparkSession, path: str, glob: str | None = None) -> int:
    """S4 — file count without materializing content columns (pruned scan)."""
    return scan_files(spark, path, glob).select("path").count()


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """S8 — columnar staging source (replaces pickle of list[Document])."""
    return spark.read.parquet(path)


def read_csv(spark: SparkSession, path: str, **options) -> DataFrame:
    """S9 — header CSV with the reference's null policy (NaN → '').

    ``escape='"'`` matches the reference's pandas reader (RFC-4180 doubled
    quotes, postgres.py:151) — Spark's default escape is backslash, which
    would leave ``"q""q"`` unparsed. The UTF-8 BOM (utf-8-sig) is stripped
    by Spark's reader natively.
    """
    opts = {"header": "true", "encoding": "UTF-8", "escape": '"', **options}
    df = spark.read.options(**opts).csv(path)
    return df.na.fill("")


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
) -> None:
    """S10 — batched table sink. Partition-level retry replaces the
    reference's per-chunk rollback-and-continue (postgres.py:203-210)."""
    writer = df.write.mode(mode).format("parquet")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def compact_table(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_mb: int = 128,
) -> int:
    """Small-file compaction: rewrite a parquet location into ~``target_mb``
    files. Returns the output file count.

    Streaming ingest (foreachBatch appends) and fine-grained partitioning
    accumulate small files; at 100 TB that multiplies task-scheduling and
    file-open overhead and shrinks rowgroups below effective IO size.
    Periodic compaction is standard table maintenance (Delta OPTIMIZE's
    moral equivalent for plain parquet).

    Sizing uses the actual input bytes (driver-side stat over
    ``df.inputFiles()`` — on object stores swap in the FileSystem API);
    the rewrite is one round-robin ``repartition(n)``, a single shuffle
    that also rebalances skewed file sizes.
    """
    import os
    from urllib.parse import urlparse

    df = spark.read.parquet(path)
    total = 0
    for f in df.inputFiles():
        p = urlparse(f)
        if p.scheme in ("", "file"):
            total += os.path.getsize(p.path)
    n = max(1, -(-total // (target_mb * 1024 * 1024)))  # ceil
    df.repartition(n).write.mode("overwrite").parquet(out_path)
    return len(spark.read.parquet(out_path).inputFiles())


def swap_dir(spark: SparkSession, staging, final) -> None:
    """Replace directory ``final`` with the fully written ``staging`` dir —
    the one swap every maintenance rewrite (BM25 compaction / reclaim /
    tombstone squash, IVF compaction / reclaim, corpus delete) uses.

    Aside-rename ordering: live -> ``_<name>_old`` (atomic), staging ->
    live (atomic), then delete ``_old``. A leftover ``_old`` is cleared
    first: with ``final`` present it is the stale copy of a swap that
    crashed after its second rename (every caller reads ``final`` before
    staging, so it never gets here with ``final`` missing).

    Each rename is atomic, but BETWEEN the two the live path is briefly
    absent — a concurrent reader in that window sees a missing directory,
    and a crash there leaves the previous contents recoverable only in
    ``_old`` (rename it back by hand). Readers that must never observe a
    missing path need a versioned-directory or symlink-flip scheme on a
    filesystem that supports it; for batch maintenance windows (the
    intended use, ingest paused) this brief gap is acceptable. Finally the
    cached file listing of ``final`` is refreshed so later reads see the
    new files."""
    import shutil
    from pathlib import Path

    staging, final = Path(staging), Path(final)
    old = final.with_name(f"_{final.name}_old")
    if old.exists():
        shutil.rmtree(old)
    final.rename(old)
    staging.rename(final)
    shutil.rmtree(old)
    spark.catalog.refreshByPath(str(final))


def write_index(
    df: DataFrame,
    path: str,
    id_col: str = "id",
    partition_by: list[str] | None = None,
) -> None:
    """S11 — idempotent bulk index build: same-id rows collapse to one
    (ES _id overwrite semantics, elasticsearch_index.py:141) then overwrite
    the index location."""
    write_table(idempotent_dedup(df, id_col), path, mode="overwrite", partition_by=partition_by)


def read_jsonl(
    spark: SparkSession, path: str, schema: str | None = None, **options
) -> DataFrame:
    """JSON-lines source — the interchange format of LLM training corpora.

    Pass ``schema`` in production: without it Spark runs a full inference
    pass over the data before the real scan, which at 100 TB doubles the
    read. Corrupt lines land in ``_corrupt_record`` (PERMISSIVE mode) so a
    bad row fails the row, not the job.
    """
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_jsonl(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str | None = "gzip",
    partition_by: list[str] | None = None,
) -> None:
    """JSON-lines sink. Files come out one-per-partition (splittable when
    uncompressed; gzip trades split-ability for size — use it for export,
    not for data you'll re-scan)."""
    writer = df.write.mode(mode).format("json")
    if compression:
        writer = writer.option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source — the other splittable columnar format Spark reads
    natively (vectorized reader, predicate pushdown, column pruning — same
    scan properties as the parquet path)."""
    return spark.read.orc(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """ORC sink with optional hive-style partitioning (same layout contract
    as :func:`write_table`'s parquet output)."""
    writer = df.write.mode(mode).format("orc")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)
