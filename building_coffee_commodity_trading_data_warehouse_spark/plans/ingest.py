"""Ingestion plans: the reference's staging lifecycle (E1, STG.py
__main__ → insert_into_staging) as lazy Spark plans over parquet.

Sinks (SURVEY.md §2.1):
  S9/S10  truncate-and-reload → atomic ``mode("overwrite")`` parquet
          write; facts are DATE-PARTITIONED on write so the reference's
          commented incremental predicates (ODS.py:38,81) become
          partition pruning instead of full rescans.
  S11     append → ``mode("append")``.
  J4      dedup-merge upsert (STG.py:102-115) → ``merge_into``: the
          operators/joins.py ``merge_upsert`` plan written back into
          the target.

Audit (§5.1, STG.py:133-164): every load emits one reconciliation row
(source count vs loaded count + duration) appended to an audit table —
the reference's de-facto correctness check, kept as a first-class
operator.

Partitioned merge, one pass (``merge_into``): one aggregate over the
staged frame names the partitions to rewrite and counts the staged
rows, carrying the stale-key probe of the target only when the
partition column is not a key; the rewrite set is read under a static
partition filter and written straight back under dynamic partition
overwrite, with no checkpoint. The target schema is inferred once per
load, before the merge, and the reconciliation count reuses it.

Job budget per daily load into an existing date-partitioned target
(``load_with_audit`` + ``audit_append``), pinned by
tests/test_etl_pipeline.py::test_daily_load_job_budget: 8 when the
partition column is a key (schema inference 1, aggregate 2, merge
write 2, target count 2, audit row 1), 10 when it is not (the probe's
broadcast keys add 2). A first load writes without merging.

Scale posture: the driver sees one row per affected partition plus
one long per count; writes are executor-side; a 100 TB merge reads
and rewrites only the partitions the snapshot touches or holds stale
copies of its keys.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.joins import merge_upsert

AUDIT_COLUMNS = (
    "script",
    "source_name",
    "target_name",
    "source_row",
    "target_row",
    "duration_sec",
    "snapshot_date",
    "created_date",
    "created_by",
)


def truncate_reload(df: DataFrame, path: str, partition_by: str | None = None) -> None:
    """S9/S10 — full replace of a table. Parquet overwrite is atomic at
    the directory level (the reference wrapped DELETE+COPY in one
    transaction with rollback, ODS.py:34-51)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(path)


def append(df: DataFrame, path: str, partition_by: str | None = None) -> None:
    """S11 — INSERT INTO ... SELECT."""
    w = df.write.mode("append")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(path)


def _hadoop_path(spark: SparkSession, path: str):
    """(FileSystem, Path) of ``path`` through the driver's Hadoop
    configuration: metadata checks without a Spark job, on any
    scheme."""
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), p


def _delete_partition_dir(
    spark: SparkSession, target_path: str, partition_by: str, value
) -> None:
    """Drop one hive-style partition directory, named the way Spark
    names it (``x:1`` lives in ``col=x%3A1``, null in
    ``col=__HIVE_DEFAULT_PARTITION__``). Used for partitions emptied by
    a cross-partition key delete, which dynamic overwrite cannot
    remove: it only replaces partitions present in the written data."""
    utils = spark.sparkContext._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    name = utils.getPartitionPathString(partition_by, None if value is None else str(value))
    fs, p = _hadoop_path(spark, f"{target_path}/{name}")
    fs.delete(p, True)


def merge_into(
    spark: SparkSession,
    target_path: str,
    staged: DataFrame,
    keys: list[str],
    partition_by: str | None = None,
) -> tuple[int | None, StructType | None]:
    """J4 materialized: staged rows replace target rows sharing the
    key, everything else is kept; rerunning the same snapshot is a
    no-op on content (reference idempotency, STG.py:102-115).

    A missing target path is the first load: the staged rows are
    written as the table. An existing target that cannot be read
    raises; it is never mistaken for a first load.

    PARTITIONED targets merge at partition granularity: a daily
    snapshot of a 100 TB date-partitioned fact rewrites one day, not
    the table. One aggregate over the staged frame, grouped by the
    partition column and collected (one row per affected partition),
    yields the touched partitions and the staged row count. Key
    semantics stay GLOBAL like the reference's DELETE WHERE EXISTS:
    a staged key whose partition value changed still has a stale copy
    in a partition the snapshot does not touch. When the partition
    column is one of the keys no such copy can exist, and the target
    is not probed. Otherwise the aggregate gets a second union side, a
    column-pruned scan of (partition, keys) of the target against the
    broadcast staged keys, counting per partition its rows and its
    matched rows: a partition with matches joins the rewrite set, and
    one whose rows all match and that takes no staged row is emptied.
    The rewrite set is read back under a static partition filter
    (pruned at the scan; a null partition value selects the null
    partition), merged and written under dynamic partition
    overwrite, which replaces partition directories only at job commit,
    after every task has read its input, so the plan may read the
    partitions it overwrites with no checkpoint. Emptied partitions
    write no rows, so their directories are dropped explicitly.

    UNPARTITIONED targets are materialized (``localCheckpoint``) and
    swapped: a static overwrite deletes the path before it writes, so
    the merged plan cannot read the path it replaces.

    Returns ``(staged row count, target schema)``: the count when the
    partitioned aggregate computed it, else None; the schema of the
    target as read before the merge, None on a first load."""
    fs, root = _hadoop_path(spark, target_path)
    if not fs.exists(root):
        truncate_reload(staged, target_path, partition_by)
        return None, None
    target = spark.read.parquet(target_path)
    if not partition_by:
        merged = merge_upsert(target, staged, keys).localCheckpoint(eager=True)
        truncate_reload(merged, target_path)
        return None, target.schema
    pb = partition_by
    sides = staged.select(pb, F.lit(1).alias("_src"), F.lit(0).alias("_tgt"), F.lit(0).alias("_hit"))
    if pb not in keys:
        hits = F.broadcast(staged.select(*keys).distinct().withColumn("_hit", F.lit(1)))
        sides = sides.unionByName(
            target.select(pb, *keys)
            .join(hits, keys, "left")
            .select(pb, F.lit(0).alias("_src"), F.lit(1).alias("_tgt"),
                    F.coalesce("_hit", F.lit(0)).alias("_hit"))
        )
    stats = (
        sides.groupBy(pb)
        .agg(*(F.sum(c).alias(c) for c in ("_src", "_tgt", "_hit")))
        .filter((F.col("_src") > 0) | (F.col("_hit") > 0))
        .collect()  # bounded: one row per affected partition
    )
    vals = [r[pb] for r in stats]
    in_parts = F.col(pb).isin([v for v in vals if v is not None])
    if None in vals:
        in_parts = in_parts | F.col(pb).isNull()
    (
        merge_upsert(target.filter(in_parts), staged, keys)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(pb)
        .parquet(target_path)
    )
    for r in stats:
        if r["_src"] == 0 and r["_hit"] == r["_tgt"]:
            _delete_partition_dir(spark, target_path, pb, r[pb])
    return sum(r["_src"] for r in stats), target.schema


@dataclass
class LoadReport:
    script: str
    source_name: str
    target_name: str
    source_row: int
    target_row: int
    duration_sec: float
    snapshot_date: str


def load_with_audit(
    spark: SparkSession,
    staged: DataFrame,
    target_path: str,
    keys: list[str] | None,
    script: str,
    source_name: str,
    target_name: str,
    snapshot_date: str,
    partition_by: str | None = None,
) -> LoadReport:
    """E1 end-to-end: stage → (merge | reload) → reconcile counts.
    Mirrors insert_into_staging + checking_logs (STG.py:84-164). The
    target is counted under the schema the merge read, so a load
    infers the target schema at most once."""
    t0 = time.monotonic()
    source_row, schema = None, None
    if keys:
        source_row, schema = merge_into(spark, target_path, staged, keys, partition_by)
    else:
        truncate_reload(staged, target_path, partition_by)
    if source_row is None:
        source_row = staged.count()
    reader = spark.read if schema is None else spark.read.schema(schema)
    target_row = reader.parquet(target_path).count()
    return LoadReport(
        script=script,
        source_name=source_name,
        target_name=target_name,
        source_row=source_row,
        target_row=target_row,
        duration_sec=round(time.monotonic() - t0, 3),
        snapshot_date=snapshot_date,
    )


def audit_append(spark: SparkSession, report: LoadReport, audit_path: str, created_by: str = "spark") -> None:
    """stg_checking_logs row (STG.py:143-161) appended to the audit
    table."""
    # one-row frame via spark.range + lit (pure JVM): createDataFrame
    # from a local list routes through a Python RDD whose worker
    # spin-up costs seconds per call in this runtime (measured r12 on
    # the near-dup index sidecars — same fix).
    row = spark.range(1).select(
        F.lit(report.script).cast("string").alias("script"),
        F.lit(report.source_name).cast("string").alias("source_name"),
        F.lit(report.target_name).cast("string").alias("target_name"),
        F.lit(report.source_row).cast("long").alias("source_row"),
        F.lit(report.target_row).cast("long").alias("target_row"),
        F.lit(report.duration_sec).cast("double").alias("duration_sec"),
        F.lit(report.snapshot_date).cast("string").alias("snapshot_date"),
    ).select(
        "*",
        F.date_format(F.current_timestamp(), "yyyy-MM-dd HH:mm:ss").alias("created_date"),
        F.lit(created_by).alias("created_by"),
    )
    append(row, audit_path)


def write_bucketed(
    df,
    table: str,
    keys: list[str],
    buckets: int = 32,
    sorted_by: list[str] | None = None,
    path: str | None = None,
) -> None:
    """Co-located join layout: hash-bucket (and sort) the table on its
    join/aggregation keys so every later equi-join or groupBy on those
    keys reads pre-partitioned data and skips its Exchange entirely —
    the bucketing answer to "co-locate joins via pre-partitioning".

    At 100 TB this is the difference between re-shuffling the fact
    table on every query and shuffling it ONCE at write time: two
    tables bucketed on the same keys with the same bucket count
    sort-merge-join with zero Exchange on either side (pinned by
    tests/test_plan_shapes.py). Bucket count bounds per-bucket file
    size; sorting inside buckets makes the merge phase stream."""
    w = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(buckets, *keys)
        .sortBy(*(sorted_by or keys))
    )
    if path is not None:
        # external table at an explicit location — callers that cannot
        # rely on a writable spark.sql.warehouse.dir (the session's cwd
        # by default) pass their own workdir
        w = w.option("path", path)
    w.saveAsTable(table)
