package perfbench

import java.io.File
import java.sql.{DriverManager, SQLException}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.TripFeatures
import graft.io.{Sinks, Sources}
import graft.ml.{FareConfig, FarePipeline}
import graft.streaming.StreamPipeline
import graft.tools.Serve

/** taxi_flow: the reference pipeline, one closed-loop client. Its
  * inputs are generated from the seed before the JVM starts (see
  * datagen.py): raw trips, the same trips as JSON messages, and CSV
  * uploads. A timed run then:
  *
  *  1. streams the messages through `consumerTransform` →
  *     `foreachBatchSink` → `Sinks.jdbcAppend` into a fresh embedded
  *     Derby database, one micro-batch in flight at a time;
  *  2. reads the table back with the partitioned `Sources.jdbc` and runs
  *     the five dashboard aggregates;
  *  3. fits the fare model on the read-back with `FarePipeline.fitEval`
  *     at the reference hyperparameters (random forest, 100 trees of
  *     depth 10) and saves it;
  *  4. scores each upload with `Serve.serve`.
  *
  * The ops are the micro-batches and the serve requests. */
final class FlowWorkload(spark: SparkSession, workDir: String, fixtureDir: String,
                         batches: Int, uploads: Int, uploadRows: Int,
                         rmseBound: Double) extends Workload {
  private val fixture = s"$fixtureDir/trips_raw"
  private val modelDir = s"$workDir/model"
  private def upload(i: Int) = s"$fixtureDir/upload_$i"
  private def served(i: Int) = s"$workDir/served_$i"
  private var messages: Array[String] = Array.empty
  private var schema: StructType = _
  private val cfg = FareConfig(
    labelCol = "fare_amount",
    categoricalCol = "pickup_timeofday",
    numericCols = Seq("vendorid", "ratecodeid", "pulocationid", "dolocationid",
      "passenger_count", "trip_distance", "tip_amount", "improvement_surcharge",
      "total_amount", "trip_duration", "payment_type", "pickup_hour", "fare_per_mile"),
    numTrees = 100, maxDepth = 10)

  // per timed run: rows landed, test RMSE, rows scored per upload
  private val landed = mutable.LinkedHashMap.empty[Int, Long]
  private val testRmse = mutable.LinkedHashMap.empty[Int, Double]
  private val scored = mutable.LinkedHashMap.empty[Int, Seq[Long]]
  // (aggregate, result hash) -> (schema, rows, runs with that result)
  private val dash = mutable.LinkedHashMap.empty[(String, Int), (StructType, Array[Row], Int)]
  // traced runs: sink failures and (input rows, trigger ms) per batch
  private val sinkFailed = mutable.Map.empty[Int, Int].withDefaultValue(0)
  private val progress = mutable.Map.empty[Int, mutable.ArrayBuffer[(Long, Long)]]
  System.setProperty("derby.stream.error.file", s"$workDir/derby.log")

  /** Loads the messages, then runs the whole flow once on the first
    * [[FlowWorkload.SetupBatches]] micro-batches' messages with a
    * 10-tree model and one upload, so every code path, a streaming
    * query's later batches included, is compiled before timing. */
  override def setupCycle(t: Tracer): Unit = {
    schema = spark.read.parquet(fixture).schema
    messages = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(s"$fixtureDir/messages.jsonl"))
      .toArray(Array.empty[String])
    val n = math.min(FlowWorkload.SetupBatches, batches)
    flow(t, 0, messages.take(messages.length / batches * n), n, cfg.copy(numTrees = 10), 1,
      record = false)
  }

  override def runUnit(t: Tracer, u: Int): (Seq[OpRec], Long) =
    flow(t, u, messages, batches, cfg, uploads, record = true)

  private def flow(t: Tracer, u: Int, msgs: Array[String], nBatches: Int, fare: FareConfig,
                   nUploads: Int, record: Boolean): (Seq[OpRec], Long) = {
    val db = s"$workDir/derby_u$u"
    val ckpt = s"$workDir/ckpt_u$u"
    val url = s"jdbc:derby:$db;create=true"
    // 1. stream → enrich → JDBC sink
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[String]
    val writer: (DataFrame, Long) => Unit = (batch, _) =>
      t("jdbcAppend", "io.sink") { _ =>
        try Sinks.jdbcAppend(batch, url, "trips_enriched", "app", "app")
        catch { case e: Exception => sinkFailed(u) += 1; throw e }
      }
    val chunks = msgs.grouped(math.max(1, msgs.length / nBatches)).toSeq
    val batchSecs = mutable.ArrayBuffer.empty[Double]
    t("foreachBatchSink", "streaming.query") { _ =>
      val q = StreamPipeline.foreachBatchSink(
        StreamPipeline.consumerTransform(ms.toDF(), schema), ckpt, writer)
      try chunks.foreach { chunk =>
        val o0 = System.nanoTime()
        t("micro-batch", "streaming.batch") { _ =>
          ms.addData(chunk.toSeq: _*)
          q.processAllAvailable()
        }
        batchSecs += (System.nanoTime() - o0) / 1e9
        if (t.enabled) Option(q.lastProgress).foreach { p =>
          progress.getOrElseUpdate(u, mutable.ArrayBuffer.empty) += ((p.numInputRows,
            Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)))
        }
      } finally q.stop()
    }

    // 2. partitioned read-back and the dashboard
    val (back, n) = t("Sources.jdbc", "io.source") { _ =>
      val df = Sources.jdbc(spark, url, "trips_enriched", "app", "app",
        partitionColumn = Some("pickup_hour"), lowerBound = 0L, upperBound = 24L,
        numPartitions = 4)
      (df, df.count())
    }
    val aggs = t("dashboard", "dashboard")(_ => dashboard(back))

    // A micro-batch delivers the rows it landed. The transform drops
    // trips, so the landed total is shared out by message count. A batch
    // the sink dropped (foreachBatchSink logs and continues) is a failed
    // op; which one is not observable, so the last ones are charged.
    val ops = mutable.ArrayBuffer.empty[OpRec]
    chunks.zip(batchSecs).zipWithIndex.foreach { case ((chunk, secs), i) =>
      ops += OpRec("micro-batch", secs, math.round(chunk.length.toDouble * n / msgs.length),
        failed = i >= chunks.size - sinkFailed(u))
    }

    // 3. train, evaluate and save the fare model
    val (model, metrics) = t("fitEval", "ml.fit")(_ => FarePipeline.fitEval(back, fare))
    t("save", "ml.save")(_ => model.write.overwrite().save(modelDir))

    // 4. score the uploads
    val scores = (0 until nUploads).map { i =>
      val o0 = System.nanoTime()
      val r = t("serve", "serve.request") { _ =>
        try Right(Serve.serve(spark, modelDir, upload(i), served(i)))
        catch { case e: Exception => Left(e) }
      }
      val secs = (System.nanoTime() - o0) / 1e9
      r match {
        case Right(k) => ops += OpRec("serve", secs, k, failed = false); k
        case Left(e) =>
          System.err.println(s"[perfbench] serve failed: ${e.getMessage}")
          ops += OpRec("serve", secs, 0L, failed = true); 0L
      }
    }

    if (record) {
      landed(u) = n
      testRmse(u) = metrics.testRmse
      scored(u) = scores
      aggs.foreach { case (name, df, rows) =>
        val key = (name, rows.toSeq.hashCode)
        val prev = dash.get(key)
        dash(key) = (df.schema, rows, prev.map(_._3).getOrElse(0) + 1)
      }
    }
    val disk = Seq(db, ckpt, modelDir).map(p => Disk.size(new File(p))).sum +
      (0 until uploads).map(i => Disk.size(new File(served(i)))).sum
    try DriverManager.getConnection(s"jdbc:derby:$db;shutdown=true")
    catch { case _: SQLException => () } // Derby reports a clean shutdown as 08006
    Disk.delete(new File(db))
    Disk.delete(new File(ckpt))
    (ops.toSeq, disk)
  }

  /** The EDA dashboard's aggregates over the enriched store, collected
    * as the dashboard renders them. */
  private def dashboard(trips: DataFrame): Seq[(String, DataFrame, Array[Row])] = {
    val tod = trips.groupBy(col("pickup_timeofday"))
      .agg(count(lit(1)).as("n"), avg(col("fare_amount")).as("avg_fare"))
      .orderBy(col("pickup_timeofday"))
    val dayn = trips.withColumn("day_name", TripFeatures.dayName(col("tpep_pickup_datetime")))
      .groupBy(col("day_name")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("day_name"))
    val hourly = trips.groupBy(col("pickup_hour"))
      .agg(avg(col("fare_amount")).as("avg_fare"), avg(col("trip_distance")).as("avg_dist"))
      .orderBy(col("pickup_hour"))
    val routes = trips.groupBy(col("pulocationid"), col("dolocationid"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pulocationid"), col("dolocationid")).limit(10)
    val pay = trips.withColumn("payment", TripFeatures.paymentTypeName(col("payment_type")))
      .groupBy(col("payment")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("payment"))
    Seq("time_of_day" -> tod, "day_name" -> dayn, "hourly" -> hourly, "top_routes" -> routes,
      "payment" -> pay).map { case (name, df) => (name, df, df.collect()) }
  }

  override def writeChecks(dir: String, corrupt: Boolean): Seq[Map[String, Any]] = {
    val opsPerRun = batches + uploads
    val perRun = landed.keys.toSeq.flatMap { u =>
      Seq(
        Map[String, Any]("kind" -> "landed", "unit" -> u,
          "rows" -> (if (corrupt) landed(u) - 1 else landed(u)), "ops" -> batches),
        Map[String, Any]("kind" -> "fit", "unit" -> u, "test_rmse" -> testRmse(u),
          "bound" -> rmseBound, "ops" -> uploads)) ++
        scored(u).map(k => Map[String, Any]("kind" -> "scored", "unit" -> u, "rows" -> k,
          "expected" -> uploadRows, "ops" -> 1))
    }
    val perName = mutable.Map.empty[String, Int]
    val aggs = dash.toSeq.map { case ((name, _), (sch, rows, runs)) =>
      val k = perName.getOrElse(name, 0)
      perName(name) = k + 1
      val out = s"$dir/$name-$k"
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), sch)
        .coalesce(1).write.mode("overwrite").parquet(out)
      // a wrong aggregate fails every op of the runs that made it
      Map[String, Any]("kind" -> "dashboard", "name" -> name, "dir" -> out,
        "ops" -> runs * opsPerRun)
    }
    // the last run's scored files stay on disk for the file-level check
    val files = (0 until uploads).map { i =>
      Map[String, Any]("kind" -> "scored_file", "dir" -> s"${served(i)}/scored",
        "expected" -> uploadRows, "bound" -> rmseBound, "ops" -> 1)
    }
    Map[String, Any]("kind" -> "fixture", "dir" -> fixture) +: (perRun ++ aggs ++ files)
  }

  override def layerMetrics(t: Tracer, u: Int): Map[String, Double] = {
    val (batchS, _, nBatches) = SparkLayers.layer(t, u, "streaming.batch")
    val (sinkS, _, _) = SparkLayers.layer(t, u, "io.sink")
    val (sourceS, _, _) = SparkLayers.layer(t, u, "io.source")
    val (fitS, _, _) = SparkLayers.layer(t, u, "ml.fit")
    val (saveS, _, _) = SparkLayers.layer(t, u, "ml.save")
    val (serveS, serveJobs, nServes) = SparkLayers.layer(t, u, "serve.request")
    val prog = progress.getOrElse(u, mutable.ArrayBuffer.empty)
    val trig = prog.map(_._2.toDouble).toSeq
    val progRows = prog.map(_._1).sum
    Map(
      "streaming.batch_s" -> batchS,
      "streaming.batches" -> nBatches.toDouble,
      "streaming.trigger_ms" -> Main.median(trig),
      "streaming.rows_per_s" -> (if (trig.sum > 0) progRows / (trig.sum / 1e3) else 0.0),
      "streaming.self_s" -> (batchS - sinkS),
      "io.sink_s" -> sinkS,
      "io.sink_rows" -> landed.getOrElse(u, 0L).toDouble,
      "io.sink_failed" -> sinkFailed(u).toDouble,
      "io.source_s" -> sourceS,
      "ml.fit_s" -> fitS,
      "ml.save_s" -> saveS,
      "serve.request_s" -> (if (nServes > 0) serveS / nServes else 0.0),
      "serve.jobs" -> (if (nServes > 0) serveJobs / nServes else 0.0),
      "serve.rows_per_s" -> (if (serveS > 0) scored.getOrElse(u, Nil).sum / serveS else 0.0))
  }
}

object FlowWorkload {
  /** Micro-batches a set-up cycle streams. The first batch of a
    * streaming query starts it and is about twice as slow as the rest;
    * warming only that one would leave the later batches, the ones
    * `op_p50_s` measures, cold. */
  val SetupBatches = 4
}
