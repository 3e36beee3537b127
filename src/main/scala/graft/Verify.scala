package graft
import java.nio.file.{Files, Paths}

import graft.io.Sinks.jsonString

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional extra args: run/dump only the named queries (dev loop for
    // oracle-checking a new query without a full-suite pass); the driver
    // always calls with exactly two args → full suite
    val (sfDir, outDir, only) = (args: Seq[String]) match {
      case Seq(s, o) => (s, o, Set.empty[String])
      case Seq(s, o, rest @ _*) => (s, o, rest.toSet)
    }
    val spark = Session.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
