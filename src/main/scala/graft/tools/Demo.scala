package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Session
import graft.ml.{FareConfig, FarePipeline}
import graft.multimodal.Multimodal
import graft.streaming.StreamPipeline

/** End-to-end usage demo of the non-query modules (streaming, ML,
  * multimodal) through the public API — `sbt "runMain graft.tools.Demo"`.
  * Prints one DEMO line per module; used by the verify recipe. */
object Demo {
  def main(args: Array[String]): Unit = {
    implicit val spark: SparkSession = Session.local("graft-demo", cores = 4)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // 1 — streaming: memory source → consumer transform → foreachBatch sink
    implicit val sq = spark.sqlContext
    val schema = StructType(Seq(
      StructField("tpep_pickup_datetime", StringType),
      StructField("tpep_dropoff_datetime", StringType),
      StructField("passenger_count", DoubleType),
      StructField("trip_distance", DoubleType),
      StructField("fare_amount", DoubleType)))
    val ms = MemoryStream[String]
    val out = java.nio.file.Files.createTempDirectory("demo_out").toString
    val ck = java.nio.file.Files.createTempDirectory("demo_ck").toString
    val q = StreamPipeline.foreachBatchSink(
      StreamPipeline.consumerTransform(ms.toDF(), schema),
      ck, StreamPipeline.parquetAppendWriter(out))
    ms.addData(
      """{"tpep_pickup_datetime":"2024-05-01T08:30:00","tpep_dropoff_datetime":"2024-05-01T08:45:30","passenger_count":2,"trip_distance":3.0,"fare_amount":15.0}""",
      "garbage not json",
      """{"tpep_pickup_datetime":"2024-05-01T23:00:00","tpep_dropoff_datetime":"2024-05-01T23:30:00","passenger_count":0,"trip_distance":1.0,"fare_amount":5.0}""")
    q.processAllAvailable(); q.stop()
    val sunk = spark.read.parquet(out)
    println(s"DEMO1 stream: sunk=${sunk.count()} of 3 msgs (1 malformed, 1 zero-passenger), " +
      s"tod=${sunk.select("pickup_timeofday").as[String].collect().mkString}")

    // 2 — ML fare pipeline
    val trips = spark.range(1500)
      .withColumn("trip_distance", rand(7) * 10)
      .withColumn("pickup_timeofday",
        element_at(array(lit("morning"), lit("evening")), (col("id") % 2 + 1).cast("int")))
      .withColumn("passenger_count", lit(1.0))
      .withColumn("fare_amount", lit(3.0) + col("trip_distance") * 2.5 + randn(11) * 0.3)
      .select("fare_amount", "trip_distance", "passenger_count", "pickup_timeofday")
    val (_, m) = FarePipeline.fitEval(trips, FareConfig(
      "fare_amount", "pickup_timeofday", Seq("trip_distance", "passenger_count"),
      numTrees = 15, maxDepth = 8, featureSubsetStrategy = "all"))
    println(f"DEMO2 ml: testR2=${m.testR2}%.3f testRmse=${m.testRmse}%.3f top=${m.importances.head._1}")

    // 3 — multimodal plumbing
    val docs = Seq((1L, "binary payload one"), (2L, "binary payload two longer"))
      .toDF("doc_id", "text")
    val dec = Multimodal.decodeStub(Multimodal.attachBinary(docs, "doc_id", "text", "image/fake"))
    val fr = Multimodal.sampleFrames(dec, 2)
    println(s"DEMO3 multimodal: decoded=${dec.count()} frames=${fr.count()} " +
      s"digestLen=${dec.collect()(0).digest.length}")

    // 4 — corpus toolkit: BM25 retrieval + BPE tokenizer training
    val corpus = Seq(
      (1L, "spark shuffles data between stages"),
      (2L, "spark broadcasts small tables"),
      (3L, "tokenizers split text into subwords")).toDF("doc_id", "text")
    val hits = graft.operators.Ranking
      .bm25TopK(corpus, "doc_id", "text", Seq("spark", "tables"), topK = 2)
      .collect().map(_.getLong(0)).mkString(",")
    val wordFreq = corpus
      .select(explode(split(lower($"text"), " ")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("f"))
    val merges = graft.operators.Bpe.trainMerges(wordFreq, "w", "f", rounds = 3)
      .orderBy($"round").collect()
      .map(r => s"${r.getString(1)}+${r.getString(2)}").mkString(" ")
    println(s"DEMO4 corpus: bm25Top=[$hits] bpeMerges=[$merges]")

    // 5 — iterative graph analytics: fixed-point PageRank
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"))
      .toDF("src", "dst")
    val top = graft.operators.Graph.pageRankFixed(edges, "src", "dst", iters = 5)
      .orderBy(col("rank").desc, col("node")).collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(" ")
    println(s"DEMO5 graph: pagerank($top)")
    spark.stop()
  }
}
