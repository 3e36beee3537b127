package graft.tools

import org.apache.spark.sql.execution.FormattedMode

import graft.{Session, SparkEntry}

/** Batch `.explain("formatted")` capture for the optimization-round plan
  * record: `sbt "runMain graft.tools.PlanDump <outDir> <suffix> <q>..."`
  * writes `<outDir>/<query>_<suffix>.txt` per named query (the plans/rNN
  * before/after artifacts the judge checks claims against). One session
  * for the whole batch — explain needs no job, so this is seconds per
  * query, not a Bench run. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2)
    val sfDir = Session.sfDir
    val spark = Session.local("graft-plandump")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val txt =
        try SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.explainString(FormattedMode)
        catch { case e: Throwable => s"EXPLAIN FAILED: ${e.getMessage}" }
      val w = new java.io.PrintWriter(s"$outDir/${name}_$suffix.txt")
      try w.println(txt) finally w.close()
      System.err.println(s"[plandump] wrote $name")
    }
    spark.stop()
  }
}
