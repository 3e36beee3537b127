package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.functions.TripFeatures

/** Sink factories (SURVEY.md §2.1 K1-K5). */
object Sinks {

  /** K1 — the producer's row-at-a-time JSON serialization
    * (kafkaProducer.py:12-16,36-38) as a single distributed expression:
    * every column into a JSON object, timestamps rendered ISO-8601 the
    * way DateTimeEncoder did. Returns the frame so tests can round-trip
    * it through from_json without a broker. */
  def toKafkaJson(df: DataFrame): DataFrame = {
    // covers TimestampType AND TimestampNTZType — Spark 4 reads parquet
    // timestamps with isAdjustedToUTC=false (pandas-written files) as NTZ
    val isoRendered = df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.dataType.typeName.startsWith("timestamp"))
        d.withColumn(f.name, TripFeatures.toIso(col(f.name)))
      else d
    }
    isoRendered.select(to_json(struct(isoRendered.columns.map(col): _*)).as("value"))
  }

  /** `s` as a quoted JSON string: backslash, quote and EVERY control
    * char (< 0x20) escaped — a tab or CR left raw in a query's SQL or a
    * model name breaks the reader's `json.load` of the whole file. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** K2 — JDBC append (the foreachBatch writer's production target).
    * Spark's JDBC dialect emits the CREATE TABLE DDL on first write —
    * the reference's 30-line hand-rolled information_schema probe +
    * type-mapping (sparkConsumer.py:111-141) collapses into mode(Append)
    * + createTableOptions. */
  def jdbcAppend(df: DataFrame, url: String, table: String,
                 user: String, password: String): Unit =
    df.write.format("jdbc").mode(SaveMode.Append)
      .option("url", url).option("dbtable", table)
      .option("user", user).option("password", password)
      .save()

  /** K2/K3 — the EXACTLY-ONCE contract of the foreachBatch append sink,
    * file-backed. foreachBatch is at-least-once: after a crash between
    * sink commit and checkpoint ack, the restarted query REDELIVERS the
    * last batchId, and a plain [[jdbcAppend]] would insert its rows
    * twice. The production cure is a transactional target keyed on
    * batchId (INSERT + ledger row in one DB transaction); this realizes
    * the same protocol over files so it is testable in-sandbox: each
    * batch writes `batch-<id>/` then atomically creates the
    * `batch-<id>.commit` marker — a redelivered batchId whose marker
    * exists SKIPS the write entirely, and readers union only committed
    * dirs, so a crash at ANY point leaves either a fully-invisible or a
    * fully-committed batch, never a partial or doubled one. Marker
    * existence/create run through Hadoop's FileSystem ([[Fs]]), so the
    * protocol holds on HDFS/S3A, not just local disk. */
  def appendOnceWriter(dir: String): (DataFrame, Long) => Unit = {
    (df, batchId) => {
      val spark = df.sparkSession
      val name = f"batch-$batchId%06d"
      if (!Fs.exists(spark, s"$dir/$name.commit")) {
        df.write.mode(SaveMode.Overwrite).parquet(s"$dir/$name")
        Fs.touch(spark, s"$dir/$name.commit")
      }
    }
  }

  /** Reader half of [[appendOnceWriter]]: the table is the union of the
    * COMMITTED batch dirs (None before the first commit). */
  def readAppendOnce(spark: org.apache.spark.sql.SparkSession,
                     dir: String): Option[DataFrame] = {
    val committed = Fs.listWithSuffix(spark, dir, ".commit")
      .map(n => s"$dir/${n.stripSuffix(".commit")}")
    if (committed.isEmpty) None
    else Some(spark.read.parquet(committed: _*))
  }
}
