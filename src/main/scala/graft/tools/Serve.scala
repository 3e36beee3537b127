package graft.tools

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

import graft.Session
import graft.functions.TripFeatures
import graft.ml.{FareConfig, FareMetrics, FarePipeline, Scores}

/** Batch serving entry point — the engine-side equivalent of the
  * reference's prediction service (deployment/main.py:17-76 and the
  * 2_Predictions.py upload page): load a saved PipelineModel, read an
  * uploaded CSV, impute numeric nulls to 0, score, and write the scored
  * frame. Batch-first on purpose: the per-request HTTP wrapper is an
  * app-server concern; everything it computes is this job.
  *
  *   sbt "runMain graft.tools.Serve <modelDir> <csvPath> <outDir>"
  *
  * Output: `<outDir>/scored` parquet — every input column plus
  * `prediction`. When the labeled column `fare_amount` is present (the
  * reference's upload page shows actuals next to predictions), a
  * metrics JSON line (RMSE/MAE/R² of the served batch's labeled rows)
  * is appended to `<outDir>/metrics.jsonl` via
  * [[FarePipeline.appendMetrics]]; those metrics and the scored row
  * count come from one aggregate ([[FarePipeline.scores]]). */
object Serve {

  def main(args: Array[String]): Unit = {
    require(args.length == 3,
      "usage: Serve <modelDir> <csvPath> <outDir>")
    val Array(modelDir, csvPath, outDir) = args
    val spark = Session.local("graft-serve")
    val n = serve(spark, modelDir, csvPath, outDir)
    println(s"SERVE scored $n rows -> $outDir/scored")
    spark.stop()
  }

  /** The scoring path, callable from tests with an existing session.
    * Returns the scored row count. */
  def serve(spark: SparkSession, modelDir: String, csvPath: String,
            outDir: String): Long = {
    val model = PipelineModel.load(modelDir)
    val raw = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(csvPath)
    // impute FEATURES only: imputing the label would turn null-label rows
    // into fare_amount=0 and silently skew the served-batch metrics below
    val numericCols = raw.schema.fields
      .collect { case f if f.dataType.isInstanceOf[NumericType] => f.name }
      .filterNot(_ == "fare_amount")
    val prepped = TripFeatures.imputeZeroCastDouble(raw, numericCols.toSeq)
    val scored = model.transform(prepped)
      .select((raw.columns.map(col) :+ col("prediction")).toSeq: _*)
      .persist()
    try {
      scored.write.mode("overwrite").parquet(s"$outDir/scored")
      if (raw.columns.contains("fare_amount")) {
        // unlabeled uploads still get scored; only labeled rows are judged
        val Scores(n, rmse, mae, r2) = FarePipeline.scores(scored, "fare_amount")(0)
        // served-batch metrics fill the test slots; train slots are NaN
        // (no training happened here) — consumers key on "model":"served"
        FarePipeline.appendMetrics(s"$outDir/metrics.jsonl",
          FareConfig("fare_amount", "", Nil, modelKind = "served"),
          FareMetrics(Double.NaN, Double.NaN, Double.NaN, rmse, mae, r2, Nil))
        n
      } else scored.count()
    } finally { scored.unpersist(): Unit }
  }
}
