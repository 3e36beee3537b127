package graft

import java.nio.file.Files

import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ml.{FareConfig, FarePipeline}

/** ML pipeline parity (SURVEY.md §2.9): 5 stages, deterministic split,
  * three metrics, importances, save/load. Small forest for test speed —
  * the stage graph and params are what parity is about. */
class FarePipelineSpec extends SparkSpec {
  import spark.implicits._

  /** Synthetic fare-shaped data with a learnable signal:
    * fare ≈ 3 + 2.5*distance + noise, timeofday shifts the intercept. */
  private lazy val trips = {
    val base = spark.range(2000)
      .withColumn("trip_distance", (rand(7) * 10))
      .withColumn("pickup_timeofday",
        element_at(array(lit("morning"), lit("afternoon"), lit("evening"), lit("late night")),
          (col("id") % 4 + 1).cast("int")))
      .withColumn("passenger_count", (col("id") % 4 + 1).cast("double"))
      .withColumn("fare_amount",
        lit(3.0) + col("trip_distance") * 2.5 +
          when(col("pickup_timeofday") === "evening", 2.0).otherwise(0.0) +
          randn(11) * 0.3)
    base.select("fare_amount", "trip_distance", "passenger_count", "pickup_timeofday")
  }

  // depth 10 as in the reference; RF regression subsets 1/3 of features
  // per split, so shallow trees underfit even a clean linear signal
  private lazy val cfg = FareConfig(
    labelCol = "fare_amount",
    categoricalCol = "pickup_timeofday",
    numericCols = Seq("trip_distance", "passenger_count"),
    numTrees = 30, maxDepth = 10, featureSubsetStrategy = "all")

  private lazy val (model, metrics) = FarePipeline.fitEval(trips, cfg)

  /** Spark's own evaluator, the reference the one-aggregate metrics of
    * [[FarePipeline.scores]] must reproduce. */
  private def oracle(pred: DataFrame, label: String, metric: String): Double =
    new RegressionEvaluator().setLabelCol(label).setPredictionCol("prediction")
      .setMetricName(metric).evaluate(pred)

  private def assertOracle(got: Double, want: Double, what: String): Unit =
    assert(math.abs(got - want) <= 1e-12 * math.abs(want), s"$what: $got, evaluator $want")

  test("fitEval's six metrics equal RegressionEvaluator on each split") {
    val Array(train, test) = trips.randomSplit(Array(0.8, 0.2), cfg.seed)
    val m = metrics
    for ((split, got) <- Seq(train -> Seq(m.trainRmse, m.trainMae, m.trainR2),
                             test -> Seq(m.testRmse, m.testMae, m.testR2));
         (metric, g) <- Seq("rmse", "mae", "r2").zip(got))
      assertOracle(g, oracle(model.transform(split), cfg.labelCol, metric), metric)
  }

  test("pipeline has the reference's 5 stages") {
    assert(model.stages.length == 5)
    val names = model.stages.map(_.getClass.getSimpleName).toSeq
    assert(names == Seq("StringIndexerModel", "OneHotEncoderModel",
      "VectorAssembler", "StandardScalerModel", "RandomForestRegressionModel"))
  }

  test("learns the signal: test R2 high, RMSE near the noise floor") {
    assert(metrics.testR2 > 0.9, s"got ${metrics.testR2}")
    assert(metrics.testRmse < 2.5, s"got ${metrics.testRmse}")
    assert(metrics.testMae <= metrics.testRmse)
  }

  test("distance dominates feature importances") {
    assert(metrics.importances.head._1 == "trip_distance")
    assert(metrics.importances.head._2 > 0.6)
  }

  test("deterministic split + seed give reproducible metrics") {
    val (_, m2) = FarePipeline.fitEval(trips, cfg)
    assert(m2.testRmse == metrics.testRmse && m2.trainR2 == metrics.trainR2)
  }

  test("k-fold CV: per-fold RMSEs are finite, near the split estimate, and reproducible") {
    val fast = cfg.copy(numTrees = 10, maxDepth = 6)
    val cv = FarePipeline.crossValidate(trips, fast, folds = 3)
    assert(cv.foldRmse.length == 3)
    assert(cv.foldRmse.forall(r => r > 0 && !r.isNaN && !r.isInfinite))
    // CV mean should sit in the same regime as the 80/20 estimate —
    // a generous band, this is a sanity check not a value pin
    assert(cv.meanRmse < 3 * metrics.testRmse + 1.0, s"$cv vs $metrics")
    assert(cv.sdRmse >= 0)
    // md5 folds + fixed seed: bit-identical on a second run
    val cv2 = FarePipeline.crossValidate(trips, fast, folds = 3)
    assert(cv2 == cv, "CV must be deterministic end-to-end")
    val folded = FarePipeline.withFolds(trips, fast, 3).localCheckpoint()
    for ((got, f) <- cv.foldRmse.zipWithIndex) {
      val m = FarePipeline.build(fast).fit(folded.filter($"__fold" =!= f))
      assertOracle(got, oracle(m.transform(folded.filter($"__fold" === f)), fast.labelCol,
        "rmse"), s"fold $f rmse")
    }
  }

  test("serving path (S6): CSV upload -> impute -> transform -> (fare, prediction)") {
    // deployment/main.py parity: uploaded CSV, schema'd read, null-impute,
    // PipelineModel.transform, project (label, prediction).
    val dir = java.nio.file.Files.createTempDirectory("upload").toString + "/csv"
    trips.limit(25).write.option("header", "true").csv(dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("fare_amount", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("trip_distance", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("passenger_count", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("pickup_timeofday", org.apache.spark.sql.types.StringType)))
    val uploaded = graft.io.Sources.csv(spark, dir, schema)
    val prepped = graft.functions.TripFeatures.imputeZeroCastDouble(
      uploaded, Seq("trip_distance", "passenger_count"))
    val served = model.transform(prepped).select($"fare_amount", $"prediction")
    val rows = served.as[(Double, Double)].collect()
    assert(rows.length == 25)
    assert(rows.forall { case (fare, pred) => !pred.isNaN && math.abs(pred - fare) < 10 })
  }

  test("value-pinned metrics on a fixed fixture catch silent ML-path drift") {
    // The reference's published metrics (RMSE 2.6375 on the real NYC data)
    // act as a de-facto regression test; that data isn't in this
    // environment, so this is the engine-side analog: a fully
    // deterministic fixture (no RNG, single partition, fixed seed) whose
    // 4-decimal metrics are pinned by value. Any change to the split,
    // stage graph, params, or evaluator semantics shows up here.
    val rows = (0 until 400).map { i =>
      val d = (i % 97) / 10.0
      val tod = Seq("morning", "afternoon", "evening", "late night")(i % 4)
      val noise = math.sin(i * 12.9898) * 0.3
      val fare = 3.0 + 2.5 * d + (if (tod == "evening") 2.0 else 0.0) + noise
      (fare, d, (i % 4 + 1).toDouble, tod)
    }
    val df = rows.toDF("fare_amount", "trip_distance", "passenger_count",
      "pickup_timeofday").coalesce(1)
    val (_, m) = FarePipeline.fitEval(df, cfg.copy(numTrees = 10, maxDepth = 6))
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    info(s"pinned: rmse=${r4(m.testRmse)} mae=${r4(m.testMae)} r2=${r4(m.testR2)}")
    assert((r4(m.testRmse), r4(m.testMae), r4(m.testR2)) ==
      (BigDecimal("0.4177"), BigDecimal("0.3526"), BigDecimal("0.9968")))
  }

  test("real-data parity gate: reference metrics reproduce when the NYC fixture is present") {
    // The reference's published numbers (Readme.md:57-63: test RMSE
    // 2.6372, MAE 0.5148, R² 0.9800) come from yellow_tripdata_2024-05 —
    // not shipped in this environment, so this gate runs only when the
    // file is provided (GRAFT_NYC_PARQUET or the default path) and skips
    // cleanly otherwise. It rebuilds the reference's exact real-data
    // flow: enrich (sparkConsumer.py:84-97) → passenger filter →
    // lowercase (Postgres folded the identifiers) → impute+cast
    // (sparkML.py:63-66) → the 5-stage pipeline WITH the reference's
    // label leak (fare_amount is feature AND label, sparkML.py:62,81) —
    // reproducing the published numbers requires reproducing the leak.
    // Tolerances absorb split-partitioning and Spark 3.5→4 RNG drift;
    // they are tight enough that a wrong feature set or broken enrich
    // (R² plummets) cannot pass.
    val path = sys.env.getOrElse("GRAFT_NYC_PARQUET",
      "/root/data/yellow_tripdata_2024-05.parquet")
    assume(new java.io.File(path).exists,
      s"NYC fixture not present at $path — real-data parity gate skipped")
    import graft.functions.TripFeatures
    val raw = spark.read.parquet(path)
    val enriched = TripFeatures.dropZeroOrNull(
      TripFeatures.enrich(raw), "passenger_count")
    val lower = enriched.columns.foldLeft(enriched)(
      (d, c) => d.withColumnRenamed(c, c.toLowerCase))
    val numericCols = Seq("vendorid", "ratecodeid", "pulocationid",
      "dolocationid", "passenger_count", "trip_distance", "fare_amount",
      "tip_amount", "improvement_surcharge", "total_amount",
      "trip_duration", "payment_type")
    val imputed = TripFeatures.imputeZeroCastDouble(lower, numericCols)
    val (_, m) = FarePipeline.fitEval(imputed, FareConfig(
      labelCol = "fare_amount",
      categoricalCol = "pickup_timeofday",
      numericCols = numericCols :+ "fare_per_mile",
      numTrees = 100, maxDepth = 10))
    info(s"real-data: rmse=${m.testRmse} mae=${m.testMae} r2=${m.testR2}")
    assert(math.abs(m.testRmse - 2.6372) <= 0.75, s"test RMSE ${m.testRmse}")
    assert(math.abs(m.testMae - 0.5148) <= 0.35, s"test MAE ${m.testMae}")
    assert(math.abs(m.testR2 - 0.9800) <= 0.015, s"test R2 ${m.testR2}")
  }

  test("Serve scores an uploaded CSV from a saved model and logs batch metrics") {
    val base = java.nio.file.Files.createTempDirectory("serve").toString
    val modelDir = s"$base/model"
    model.write.overwrite().save(modelDir)
    val csvDir = s"$base/upload"
    // one null-label row: scored and counted, left out of the metrics
    trips.limit(39)
      .unionByName(trips.limit(1).withColumn("fare_amount", lit(null).cast("double")))
      .write.option("header", "true").csv(csvDir)
    val n = graft.tools.Serve.serve(spark, modelDir, csvDir, s"$base/out")
    assert(n == 40)
    val scored = spark.read.parquet(s"$base/out/scored")
    assert(scored.columns.contains("prediction") && scored.count() == 40)
    val logged = spark.read.json(s"$base/out/metrics.jsonl")
    val row = logged.select($"model", $"test_rmse", $"test_mae", $"test_r2")
      .as[(String, Double, Double, Double)].collect()
    assert(row.length == 1 && row(0)._1 == "served" && row(0)._2 < 2.5,
      s"served-batch metrics line must carry the batch RMSE: ${row.toSeq}")
    val labeled = scored.filter($"fare_amount".isNotNull)
    assert(labeled.count() == 39)
    for ((metric, got) <- Seq("rmse" -> row(0)._2, "mae" -> row(0)._3, "r2" -> row(0)._4))
      assertOracle(got, oracle(labeled, "fare_amount", metric), metric)
  }

  test("model save/load round-trips (K5)") {
    val dir = Files.createTempDirectory("fare_model").toString + "/model"
    model.write.overwrite().save(dir)
    val loaded = PipelineModel.load(dir)
    val a = model.transform(trips.limit(50)).select(sum($"prediction")).as[Double].collect()(0)
    val b = loaded.transform(trips.limit(50)).select(sum($"prediction")).as[Double].collect()(0)
    assert(a == b)
  }

  test("model slot is pluggable: GBT variant learns the same signal") {
    // the reference's alternative experiment run (GBT maxIter/maxDepth)
    val (gbtModel, m) = FarePipeline.fitEval(trips,
      cfg.copy(modelKind = "gbt", numTrees = 30, maxDepth = 5))
    assert(gbtModel.stages.last.getClass.getSimpleName == "GBTRegressionModel")
    assert(m.testR2 > 0.9, s"got ${m.testR2}")
    assert(m.importances.head._1 == "trip_distance")
  }

  test("extra categorical stacks as an additional indexer stage (7-stage variant)") {
    val twoCat = trips.withColumn("payment_kind",
      when($"passenger_count" > 2, "card").otherwise("cash"))
    val (m2, metrics2) = FarePipeline.fitEval(twoCat,
      cfg.copy(extraCategoricalCols = Seq("payment_kind")))
    // 2 indexers + encoder + assembler + scaler + model
    assert(m2.stages.length == 6)
    assert(metrics2.testR2 > 0.9)
    val impNames = metrics2.importances.map(_._1).toSet
    assert(impNames.exists(_.startsWith("payment_kind_")),
      "second categorical's one-hot slots must appear in the importance names")
  }
}
