"""Snapshot-committed partitioned tables with per-partition lineage rows.

Implements the Iceberg-style commit semantics the north star mandates —
"partitioned triple tables with per-partition lineage + counters, so any
stage resumes from its last committed snapshot" — on plain parquet, because
this sandbox ships no Iceberg runtime jar. The layout and protocol map 1:1
onto Iceberg (data files + manifest + snapshot commit); on a real cluster
``writeTo(table).append()`` against an Iceberg catalog replaces ``_write``
and the lineage table becomes an ordinary Iceberg table.

Protocol (reader-side visibility = committed lineage only):

* data:     ``<base>/data/part_id=<p>/…parquet`` (dynamic-overwrite per part)
* lineage:  ``<base>/_lineage/…parquet`` rows
            (snapshot_id, part_id, stage, status, row_count)
* a data partition EXISTS for readers iff a lineage row with
  status='committed' covers it. A crash between data write and lineage
  append leaves orphan files that are invisible and simply rewritten on
  resume — no dupes, no gaps (this mirrors Iceberg: data files are dead
  until a manifest commit references them).

Resume = anti-join the input's part_ids against committed lineage and
process only the remainder (SURVEY.md §2.13).

The reference's analogue is stage-level pickle artifacts
(/root/reference/storing_tools/file_tool.py:18-26) — resumability there is
per stage; here it is per partition.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from fact_extraction_spark import caches

# Lineage rows are made on the driver: as an Arrow table they become a local
# relation, which no Python worker has to read.
LINEAGE_SCHEMA = pa.schema([
    ("snapshot_id", pa.string()), ("part_id", pa.int32()),
    ("stage", pa.string()), ("status", pa.string()),
    ("row_count", pa.int64())])


def with_part_id(df: DataFrame, key_col: str, num_parts: int = 32) -> DataFrame:
    """Deterministic partition assignment: pmod(hash(key), n)."""
    return df.withColumn(
        "part_id", F.pmod(F.hash(F.col(key_col)), F.lit(num_parts)).cast("int"))


def committed_parts(spark: SparkSession, base: str, stage: str) -> DataFrame:
    """(part_id) partitions already committed for this stage: none without
    a lineage directory; a lineage that cannot be read raises."""
    lineage_dir = os.path.join(base, "_lineage")
    path = spark._jvm.org.apache.hadoop.fs.Path(lineage_dir)
    if not path.getFileSystem(spark._jsc.hadoopConfiguration()).exists(path):
        return spark.createDataFrame(
            LINEAGE_SCHEMA.empty_table().select(["part_id"]))
    return (
        spark.read.schema(from_arrow_schema(LINEAGE_SCHEMA))
        .parquet(lineage_dir)
        .filter((F.col("stage") == stage)
                & (F.col("status") == "committed"))
        .select("part_id").distinct()
    )


def remaining_input(spark: SparkSession, df: DataFrame, base: str,
                    stage: str) -> DataFrame:
    """Input rows whose part_id has not been committed yet (resume filter)."""
    done = committed_parts(spark, base, stage)
    return df.join(F.broadcast(done), "part_id", "left_anti")


def commit_partitions(spark: SparkSession, df: DataFrame, base: str,
                      stage: str) -> dict:
    """Write ``df`` (must carry ``part_id``) into the table and commit
    lineage for exactly the partitions written. Returns commit summary.

    The not-yet-committed rows are computed once, into one materialized
    table: the per-partition counts in lineage and the data written both
    read that table, so ``row_count`` is the count of the rows written.

    Idempotent under kill/rerun: data lands via dynamic partition overwrite,
    lineage is appended only after the data job succeeds, and readers trust
    lineage only.
    """
    remaining, rows = caches.materialize(
        remaining_input(spark, df, base, stage))
    if rows == 0:
        caches.free(remaining)
        return {"snapshot_id": None, "parts": 0, "rows": 0}
    counts = [(r["part_id"], r["cnt"]) for r in
              remaining.groupBy("part_id").agg(F.count("*").alias("cnt")).collect()]

    data_dir = os.path.join(base, "data")
    (remaining.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("part_id").parquet(data_dir))
    caches.free(remaining)

    snapshot_id = uuid.uuid4().hex[:12]
    lineage_rows = pa.table({
        "snapshot_id": [snapshot_id] * len(counts),
        "part_id": [p for p, _ in counts],
        "stage": [stage] * len(counts),
        "status": ["committed"] * len(counts),
        "row_count": [c for _, c in counts]}, schema=LINEAGE_SCHEMA)
    (spark.createDataFrame(lineage_rows)
     .coalesce(1).write.mode("append")
     .parquet(os.path.join(base, "_lineage")))
    return {"snapshot_id": snapshot_id, "parts": len(counts), "rows": rows}


def read_committed(spark: SparkSession, base: str, stage: str) -> DataFrame:
    """Read only the committed partitions (partition-pruned scan)."""
    data = spark.read.parquet(os.path.join(base, "data"))
    return data.join(F.broadcast(committed_parts(spark, base, stage)),
                     "part_id", "left_semi")


def lineage(spark: SparkSession, base: str) -> DataFrame:
    return spark.read.parquet(os.path.join(base, "_lineage"))
