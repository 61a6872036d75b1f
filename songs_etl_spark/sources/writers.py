"""Warehouse sinks (reference op S11).

The reference loads every table with BigQuery ``WRITE_TRUNCATE`` after
fetching the declared schema (`cf_transform/main.py:66-84`, duplicated in the
four dimension builders). Spark equivalent: cast-to-declared-schema, then
``mode("overwrite")`` Parquet — idempotent daily full refresh (reference op
O5: same-day rerun overwrites the same outputs).

Scale posture: fact tables are written partitioned by ``ingest_date`` (the
reference's date-partitioned landing path, cf_extract/main.py:231) and sorted
within partitions on the clustering keys BigQuery declared
(terraform/bigquery.tf:13) so scan-side filters prune at 100 TB.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def conform_to_schema(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Load-time schema enforcement (cf_transform/main.py:69-75): select the
    declared columns in declared order, casting each to its declared type."""
    return df.select(
        *[F.col(field.name).cast(field.dataType).alias(field.name) for field in schema.fields]
    )


def overwrite_table(
    df: DataFrame,
    path: str,
    schema: T.StructType | None = None,
    partition_by: Sequence[str] = (),
    sort_within_partitions: Sequence[str] = (),
    dynamic_partitions: bool = False,
) -> None:
    """Overwrite Parquet load. Default: full WRITE_TRUNCATE semantics.
    ``dynamic_partitions=True``: replace ONLY the partitions present in
    ``df`` (requires ``partition_by``), leaving every other partition on
    disk untouched."""
    if dynamic_partitions and not partition_by:
        raise ValueError("dynamic_partitions requires partition_by columns")
    if schema is not None:
        df = conform_to_schema(df, schema)
    if sort_within_partitions:
        df = df.sortWithinPartitions(*sort_within_partitions)
    writer = df.write.mode("overwrite")
    if dynamic_partitions:
        # per-write option — no global session conf mutated (safe alongside
        # the parallel dim writers)
        writer = writer.option("partitionOverwriteMode", "dynamic")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def overwrite_partitions(
    df: DataFrame,
    path: str,
    schema: T.StructType | None = None,
    partition_by: Sequence[str] = ("ingest_date",),
    sort_within_partitions: Sequence[str] = (),
) -> None:
    """Dynamic partition overwrite — the incremental-load semantic the
    reference's daily WRITE_TRUNCATE (cf_transform/main.py:72-75) cannot
    provide at scale: a full-table overwrite rewrites the entire history
    every day (O(total data) daily work that cannot survive 100× growth),
    while this rewrites exactly one day's partition (O(daily increment)),
    and a same-day rerun stays idempotent for that day (partition-scoped
    truncate)."""
    overwrite_table(
        df,
        path,
        schema=schema,
        partition_by=partition_by,
        sort_within_partitions=sort_within_partitions,
        dynamic_partitions=True,
    )


def compact_parquet(
    spark,
    path: str,
    target_bytes_per_file: int = 256 * 1024 * 1024,
    sort_within_partitions: Sequence[str] = (),
) -> int:
    """Small-file compaction: rewrite a Parquet table into ~target-sized
    files; returns the output file count.

    The table-maintenance op every incremental pipeline needs: streaming
    sinks, per-batch MERGEs, and fine-grained partitionBy all accumulate
    small files, and at 100 TB a scan's task count (and the namenode/object
    listing) is governed by file count. File count is derived from the
    CURRENT on-disk bytes (compressed), coalesce (no shuffle) brings the
    partition count down, and an optional within-partition sort restores
    clustering for scan-side pruning.

    Swap protocol (all via the Hadoop ``FileSystem`` API, so it works on any
    scheme Spark can write — local, HDFS, s3a, gs):

    1. write the compacted copy to a temp sibling ``path__compact_<id>``;
    2. rename ``path`` → ``path__old_<id>`` (old data set aside, intact);
    3. rename the temp sibling → ``path``;
    4. delete ``path__old_<id>``.

    Crash-safety caveat: rename is atomic on HDFS and POSIX but NOT on
    S3-style object stores (it's a copy+delete there), and even where rename
    is atomic there is a window between steps 2 and 3 where ``path`` does not
    exist. A crash in that window never LOSES data — the full table survives
    at ``path__old_<id>`` (and the compacted copy at the temp path) — but
    readers see a missing path until one of them is renamed back. For a
    transactional swap use a table format (Delta/Iceberg) whose commit is a
    metadata pointer flip; this function is the Parquet-directory fallback.
    """
    import math
    import uuid

    Path = spark._jvm.org.apache.hadoop.fs.Path
    jvm_path = Path(path)
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
    total = fs.getContentSummary(jvm_path).getLength()
    n_files = max(1, math.ceil(total / target_bytes_per_file))
    source = spark.read.parquet(path)
    df = source.coalesce(n_files)
    if sort_within_partitions:
        df = df.sortWithinPartitions(*sort_within_partitions)
    run_id = uuid.uuid4().hex[:8]
    tmp = f"{path}__compact_{run_id}"
    old = f"{path}__old_{run_id}"
    df.write.mode("overwrite").parquet(tmp)
    if not fs.rename(jvm_path, Path(old)):
        raise IOError(f"compact_parquet: rename {path} -> {old} failed")
    if not fs.rename(Path(tmp), jvm_path):
        # Roll the original back so readers never see a missing table longer
        # than this call; the compacted temp dir is left for inspection.
        fs.rename(Path(old), jvm_path)
        raise IOError(f"compact_parquet: rename {tmp} -> {path} failed; original restored")
    fs.delete(Path(old), True)
    # The source's schema lets the file count skip a footer-inference job.
    return len(spark.read.schema(source.schema).parquet(path).inputFiles())


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_by: Sequence[str],
    n_files: int | None = None,
) -> None:
    """Range-clustered layout: ``repartitionByRange`` on the cluster keys,
    then sort within each partition, one Parquet file per partition.

    This is the data-skipping layout (BigQuery clustering / Delta OPTIMIZE
    ZORDER's single-key case): every output file covers a disjoint range of
    the leading key, so its Parquet footer min/max statistics let a
    selective scan skip whole files and row groups — at 100 TB a point or
    narrow-range predicate touches O(1) of the files instead of all of
    them. tests/test_data_skipping.py proves the disjointness and the
    filter pushdown on real footers."""
    parts = (
        df.repartitionByRange(n_files, *cluster_by)
        if n_files
        else df.repartitionByRange(*cluster_by)
    )
    parts.sortWithinPartitions(*cluster_by).write.mode("overwrite").parquet(path)
