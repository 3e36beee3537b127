package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source factories for every ingest the reference performs (SURVEY.md
  * §2.1 S1-S6), config-driven so tests can exercise the file-based ones
  * and production supplies real endpoints for JDBC.
  */
object Sources {

  /** S5/S6 — CSV with explicit schema (schema-on-read discipline; the
    * reference inferred on upload, main.py:65-67). */
  def csv(spark: SparkSession, path: String, schema: StructType,
          header: Boolean = true): DataFrame =
    spark.read.option("header", header.toString).schema(schema).csv(path)

  /** JSON-lines scan (Kafka-message-shaped fixtures on disk). */
  def jsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** ORC scan — the other columnar format Spark ships natively (the
    * Hive-ecosystem interchange counterpart to parquet). Same scale
    * properties as S1: stripe-level splits, predicate pushdown into
    * stripe/row-group statistics, column projection. The explicit
    * schema keeps the schema-on-read discipline the text sources use —
    * ORC self-describes, but pinning the expected schema turns silent
    * upstream drift into a loud analysis error. */
  def orc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  /** S3/S4 — JDBC scan. Unlike the reference's single-partition read
    * (sparkML.py:40-46, a serial bottleneck), an optional numeric
    * partition column splits the read across executors. */
  def jdbc(spark: SparkSession, url: String, table: String,
           user: String, password: String,
           partitionColumn: Option[String] = None,
           lowerBound: Long = 0L, upperBound: Long = 1L,
           numPartitions: Int = 8): DataFrame = {
    val base = spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
      .option("user", user).option("password", password)
    partitionColumn.fold(base) { c =>
      base.option("partitionColumn", c)
        .option("lowerBound", lowerBound).option("upperBound", upperBound)
        .option("numPartitions", numPartitions)
    }.load()
  }

  /** Partitioned-layout materialization + partition-discovering read —
    * the first scale lever at 100 TB: a predicate on the partition column
    * prunes whole directories BEFORE any file is listed or opened, so a
    * one-month query over a decade of data touches 1/120 of the store
    * (`.explain` shows it as `PartitionFilters`, distinct from row-level
    * `PushedFilters`). Writes `df` hive-partitioned by `partCols` once
    * and publishes it at `path` the way [[graft.queries.Store]] does
    * (the caller passes a `Store.key`; a published layout is reused —
    * delete the dir to force a rebuild). Partition columns should be
    * low-cardinality (date buckets, regions): one directory per value,
    * and at most a few thousand directories keep listing cheap. */
  def materializePartitioned(spark: SparkSession, df: => DataFrame,
                             path: String, partCols: Seq[String]): DataFrame = {
    Fs.promoteDir(spark, path, "_SUCCESS") { tmp =>
      df.write.mode("overwrite").partitionBy(partCols: _*).parquet(tmp)
    }
    spark.read.parquet(path)
  }
}
