package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Session
import graft.functions.TripFeatures
import graft.ml.{FareConfig, FarePipeline}
import graft.streaming.StreamPipeline

/** Measured END-TO-END reference flow — every process of the reference
  * pipeline composed into one run on a 300k-row raw-trip fixture, each
  * leg individually timed, emitted as `E2E.json`:
  *
  *   1. produce_json — parquet scan → per-row JSON encode, driver-side
  *      feed (kafkaProducer.py:12-43 is the same driver-side actor:
  *      pandas read, row loop, JSON post; no broker exists in either
  *      test environment, so the MemoryStream feed plays the topic).
  *   2. stream_enrich_jdbc — Structured Streaming over the JSON feed:
  *      permissive decode → strict ISO parse → 9-column enrichment →
  *      3VL passenger filter (sparkConsumer.py:59-97 as ONE codegen'd
  *      chain) → foreachBatch JDBC append into embedded Derby
  *      (sparkConsumer.py:103-163; the q176 machinery), 10 micro-batches;
  *      `stream_batch_ms` reports the median milliseconds per batch of
  *      each progress phase (write-ahead log, commit, planning, sink).
  *   3. jdbc_read — 4-way partitioned JDBC read-back of the enriched
  *      table (sparkML.py:40-44's Postgres read, partitioned where the
  *      reference's was single-threaded).
  *   4. train_eval_save — FarePipeline.fitEval at the reference's
  *      hyperparameters (RF 100×10, 17 assembled dims) + model save
  *      (sparkML.py:40-172 — the one leg BASELINE.md carries a wall
  *      clock for: 147.6 s end-to-end).
  *   5. serve_batch — saved model scores a 20k-row CSV upload
  *      (deployment/main.py:17-76 / 2_Predictions.py).
  *   6. dashboard — the EDA dashboard's query set over the enriched
  *      store (1_EDA_Dashboard.py:14-265): time-of-day distribution,
  *      day-name ordering, hourly fare curve, top routes, payment-type
  *      decode — the q19/q20/q28/q21/q22 shapes, collected as the
  *      dashboard renders them.
  *
  * Fixture generation is untimed (the reference's data pre-existed in
  * parquet when its producer started). Deterministic seeds; metric
  * values are fixture-specific — wall-clock is the artifact, as in
  * `MLBENCH.json`. */
object E2E {
  /** The `StreamingQueryProgress.durationMs` phases E2E reports, as the
    * median per micro-batch of the stream leg. */
  private val StreamPhases =
    Seq("walCommit", "commitOffsets", "queryPlanning", "addBatch", "triggerExecution")

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("E2E.json")
    val rows = sys.env.getOrElse("GRAFT_E2E_ROWS", "300000").toLong
    val spark = Session.local("graft-e2e")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // ---- fixture (untimed): 300k RAW trips, the wire shape the
    // producer reads — ISO-string timestamps (what JSON carries),
    // learnable fare signal identical to the MlBench fixture
    val base = spark.range(rows)
      .withColumn("pu_ts", // 2024-05-01T00:00:00Z + (id%30) days + (id%86400) s
        timestamp_seconds(lit(1714521600L) +
          (col("id") % 30) * 86400 + col("id") % 86400))
      .withColumn("trip_distance", round(rand(7) * 12 + 0.2, 2))
      .withColumn("duration_min", round(col("trip_distance") * 4 + rand(13) * 10, 2))
      .withColumn("do_ts",
        timestamp_seconds(unix_timestamp(col("pu_ts")) + col("duration_min") * 60.0))
      .withColumn("tpep_pickup_datetime",
        date_format(col("pu_ts"), "yyyy-MM-dd'T'HH:mm:ss"))
      .withColumn("tpep_dropoff_datetime",
        date_format(col("do_ts"), "yyyy-MM-dd'T'HH:mm:ss"))
      .withColumn("vendorid", (col("id") % 2 + 1).cast("double"))
      .withColumn("ratecodeid", (col("id") % 6 + 1).cast("double"))
      .withColumn("pulocationid", (pmod(hash(col("id")), lit(265)) + 1).cast("double"))
      .withColumn("dolocationid", (pmod(hash(col("id") + 7), lit(265)) + 1).cast("double"))
      .withColumn("passenger_count", (col("id") % 4 + 1).cast("double"))
      .withColumn("payment_type", (col("id") % 4 + 1).cast("double"))
      .withColumn("fare_amount",
        round(lit(3.0) + col("trip_distance") * 2.5 +
          col("duration_min") * 0.12 +
          when(hour(col("pu_ts")).between(17, 20), 2.0).otherwise(0.0) +
          randn(11) * 1.5, 2))
      .withColumn("tip_amount", round(col("fare_amount") * 0.15 + randn(17) * 0.5, 2))
      .withColumn("improvement_surcharge", lit(1.0))
      .withColumn("total_amount",
        round(col("fare_amount") + col("tip_amount") + lit(1.0), 2))
      .drop("id", "pu_ts", "do_ts", "duration_min")
    val workDir = Files.createTempDirectory("graft_e2e").toString
    try {
      val fixtureDir = s"$workDir/trips_raw"
      base.write.mode("overwrite").parquet(fixtureDir)

      val legs = scala.collection.mutable.ArrayBuffer
        .empty[(String, Double, Long)]
      def timed[T](name: String)(body: => (T, Long)): T = {
        val t0 = System.nanoTime()
        val (v, n) = body
        legs += ((name, (System.nanoTime() - t0) / 1e9, n))
        v
      }

      // ---- leg 1: producer — parquet scan → JSON rows on the driver ----
      val jsonRows = timed("produce_json") {
        val js = spark.read.parquet(fixtureDir)
          .select(to_json(struct(col("*"))).as("value"))
          .as[String].collect()
        (js, js.length.toLong)
      }

      // ---- leg 2: streaming decode → enrich → Derby append ----
      System.setProperty("derby.stream.error.file", s"$workDir/derby.log")
      val url = s"jdbc:derby:$workDir/tripsdb;create=true"
      val schema = StructType(spark.read.parquet(fixtureDir).schema.fields.toSeq)
      val batchMs = timed("stream_enrich_jdbc") {
        val ms = MemoryStream[String]
        val q = StreamPipeline.foreachBatchSink(
          StreamPipeline.consumerTransform(ms.toDF(), schema),
          s"$workDir/ckpt",
          (batch, _) => graft.io.Sinks.jdbcAppend(
            batch, url, "trips_enriched", "app", "app"))
        jsonRows.grouped((jsonRows.length / 10).max(1)).foreach { chunk =>
          ms.addData(chunk.toSeq: _*)
          q.processAllAvailable()
        }
        // median time per phase over the micro-batches that ran a batch
        val ran = q.recentProgress.filter(_.durationMs.containsKey("addBatch"))
        q.stop()
        val medians = StreamPhases.map { k =>
          val v = ran.map(_.durationMs.get(k).longValue).sorted
          k -> (if (v.isEmpty) 0.0 else (v((v.length - 1) / 2) + v(v.length / 2)) / 2.0)
        }
        // report what actually LANDED: foreachBatchSink catch-log-drops a
        // failed batch (reference parity), so the requested row count
        // would overstate the measured flow after any sink error
        val landed = graft.io.Sources.jdbc(spark, url, "trips_enriched",
          "app", "app").count()
        (medians, landed)
      }

      // ---- leg 3: partitioned JDBC read-back ----
      val trips = timed("jdbc_read") {
        val df = graft.io.Sources.jdbc(spark, url, "trips_enriched",
          "app", "app", partitionColumn = Some("pickup_hour"),
          lowerBound = 0L, upperBound = 24L, numPartitions = 4)
        (df, df.count())
      }

      // ---- leg 4: train + eval + save at reference hyperparameters ----
      val numericCols = Seq("vendorid", "ratecodeid", "pulocationid",
        "dolocationid", "passenger_count", "trip_distance", "tip_amount",
        "improvement_surcharge", "total_amount", "trip_duration",
        "payment_type", "pickup_hour", "fare_per_mile")
      val modelDir = s"$workDir/model"
      val metrics = timed("train_eval_save") {
        val (model, m) = FarePipeline.fitEval(trips, FareConfig(
          labelCol = "fare_amount",
          categoricalCol = "pickup_timeofday",
          numericCols = numericCols,
          numTrees = 100, maxDepth = 10))
        model.write.overwrite().save(modelDir)
        (m, rows)
      }

      // ---- leg 5: batch serve of a CSV upload ----
      val uploadCsv = s"$workDir/upload_csv"
      trips.limit(20000).write.option("header", "true")
        .mode("overwrite").csv(uploadCsv) // untimed: the user's upload file
      timed("serve_batch") {
        val n = Serve.serve(spark, modelDir, uploadCsv, s"$workDir/served")
        ((), n)
      }

      // ---- leg 6: the EDA dashboard query set over the enriched store ----
      timed("dashboard") {
        val tod = trips.groupBy($"pickup_timeofday")
          .agg(count(lit(1)).as("n"), avg($"fare_amount").as("avg_fare"))
          .orderBy($"pickup_timeofday").collect()
        val dayn = trips
          .withColumn("day_name", TripFeatures.dayName($"tpep_pickup_datetime"))
          .groupBy($"day_name").agg(count(lit(1)).as("n"))
          .orderBy($"n".desc).collect()
        val hourly = trips.groupBy($"pickup_hour")
          .agg(avg($"fare_amount").as("avg_fare"), avg($"trip_distance").as("avg_dist"))
          .orderBy($"pickup_hour").collect()
        val routes = trips
          .groupBy($"pulocationid", $"dolocationid")
          .agg(count(lit(1)).as("n"))
          .orderBy($"n".desc, $"pulocationid", $"dolocationid")
          .limit(10).collect()
        val pay = trips
          .withColumn("payment", TripFeatures.paymentTypeName($"payment_type"))
          .groupBy($"payment").agg(count(lit(1)).as("n"))
          .orderBy($"n".desc).collect()
        ((), (tod.length + dayn.length + hourly.length + routes.length + pay.length).toLong)
      }

      def r4(x: Double) = math.rint(x * 10000) / 10000
      val total = legs.map(_._2).sum
      val legsJson = legs.map { case (n, s, c) =>
        s""""$n":{"sec":${r4(s)},"rows":$c}""" }.mkString("{", ",", "}")
      val batchJson = batchMs.map { case (k, ms) => s""""$k":$ms""" }.mkString("{", ",", "}")
      val json =
        s"""{"metric":"e2e_reference_flow","rows":$rows,"cpus":"${Session.cores}",
           |"total_sec":${r4(total)},"legs":$legsJson,
           |"stream_batch_ms":$batchJson,
           |"ml_metrics":{"test_rmse":${r4(metrics.testRmse)},"test_mae":${r4(metrics.testMae)},
           |"test_r2":${r4(metrics.testR2)}},
           |"baseline":{"train_leg_sec":147.6,"rows":"~300k","source":"logs/sparkML.log:1-16",
           |"note":"reference wall clock covers ONLY the training process; this artifact composes the five reference processes measured as six legs (produce, stream+sink, read-back, train, serve, dashboard - read-back is part of the reference ML process) at the same row scale"}}"""
          .stripMargin.replace("\n", "")
      Files.writeString(Paths.get(out), json + "\n")
      println(json)
    } finally {
      spark.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(workDir))
    }
  }
}
