package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.Sinks
import graft.streaming.StreamPipeline

/** Streaming parity (SURVEY.md §2.8): the consumer transform over a
  * MemoryStream, foreachBatch sink semantics, watermarked windows —
  * and the batch/stream unification (same function, same results). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val tripSchema = StructType(Seq(
    StructField("tpep_pickup_datetime", StringType),
    StructField("tpep_dropoff_datetime", StringType),
    StructField("passenger_count", DoubleType),
    StructField("trip_distance", DoubleType),
    StructField("fare_amount", DoubleType)))

  private val messages = Seq(
    """{"tpep_pickup_datetime":"2024-05-01T08:30:00","tpep_dropoff_datetime":"2024-05-01T08:45:30","passenger_count":2,"trip_distance":3.0,"fare_amount":15.0}""",
    """{"tpep_pickup_datetime":"2024-05-01T09:00:00","tpep_dropoff_datetime":"2024-05-01T09:10:00","passenger_count":0,"trip_distance":1.0,"fare_amount":5.0}""",
    "not json at all")

  test("consumer transform: decode -> enrich -> filter, batch and stream agree") {
    // batch run
    val batchRaw = messages.toDF("value")
    val batchOut = StreamPipeline.consumerTransform(batchRaw, tripSchema)
    assert(batchOut.count() == 1, "zero-passenger row filtered; malformed JSON row all-null filtered")
    val row = batchOut.select($"trip_duration", $"pickup_timeofday").collect()(0)
    assert(row.getDouble(0) == 15.5 && row.getString(1) == "morning")

    // identical function over a MemoryStream + foreachBatch parquet sink
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val outDir = Files.createTempDirectory("stream_out").toString
    val ckpt = Files.createTempDirectory("stream_ckpt").toString
    val q = StreamPipeline.foreachBatchSink(
      StreamPipeline.consumerTransform(stream.toDF(), tripSchema),
      ckpt, StreamPipeline.parquetAppendWriter(outDir))
    stream.addData(messages: _*)
    q.processAllAvailable()
    stream.addData(messages: _*) // second micro-batch: append semantics
    q.processAllAvailable()
    q.stop()
    val sunk = spark.read.parquet(outDir)
    assert(sunk.count() == 2, "one surviving row per micro-batch, appended")
    assert(sunk.columns.contains("fare_per_mile"))
  }

  /** One valid trip whose fare tells which micro-batch carried it. */
  private def trip(fare: Int) =
    s"""{"tpep_pickup_datetime":"2024-05-01T08:30:00","tpep_dropoff_datetime":"2024-05-01T08:45:30","passenger_count":2,"trip_distance":3.0,"fare_amount":$fare}"""

  /** Streams one micro-batch per message group through
    * `foreachBatchSink` into `writer(outDir)`. Returns the fares that
    * landed in `outDir` and the jobs each micro-batch ran. */
  private def sinkBatches(raw: DataFrame => DataFrame,
                          writer: String => (DataFrame, Long) => Unit,
                          batches: Seq[Seq[String]]): (Seq[Double], Seq[Seq[String]]) = {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val outDir = Files.createTempDirectory("stream_out").toString + "/t"
    val ckpt = Files.createTempDirectory("stream_ckpt").toString
    val q = StreamPipeline.foreachBatchSink(
      StreamPipeline.consumerTransform(raw(stream.toDF()), tripSchema),
      ckpt, writer(outDir))
    val jobs = try batches.zipWithIndex.map { case (msgs, i) =>
      val js = jobsOf("graft.") { stream.addData(msgs: _*); q.processAllAvailable() }
      assert(q.isActive, s"the query must survive batch $i")
      js
    } finally q.stop()
    (spark.read.parquet(outDir).select($"fare_amount").as[Double].collect().sorted.toSeq, jobs)
  }

  test("foreachBatchSink runs one job per micro-batch: the single-read writer's own") {
    val (fares, jobs) = sinkBatches(identity, StreamPipeline.parquetAppendWriter,
      (0 until 3).map(i => Seq(trip(i))))
    assert(fares == Seq(0.0, 1.0, 2.0))
    assert(jobs.forall(_.length == 1), jobs.map(_.mkString("\n")).mkString("\n--- next batch ---\n"))
  }

  test("foreachBatchSink drops the batch its writer fails and keeps the query running") {
    val (fares, _) = sinkBatches(identity, out => {
      val append = StreamPipeline.parquetAppendWriter(out)
      (b, id) => if (id == 1) throw new IllegalStateException("sink down") else append(b, id)
    }, Seq(Seq(trip(0)), Seq(trip(1)), Seq(trip(2))))
    assert(fares == Seq(0.0, 2.0))
  }

  test("a batch whose transform throws lands no rows, and the next batch lands") {
    val poisoned = (raw: DataFrame) => raw.withColumn("value",
      when($"value" === "poison", raise_error(lit("poison message"))).otherwise($"value"))
    val (fares, _) = sinkBatches(poisoned, StreamPipeline.parquetAppendWriter,
      Seq(Seq(trip(0)), Seq(trip(1), "poison"), Seq(trip(2))))
    assert(fares == Seq(0.0, 2.0))
  }

  test("watermarked tumbling window emits per-window counts") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = stream.toDF().toDF("ts", "event_type", "value")
    val agg = StreamPipeline.windowedCounts(events, "ts", "10 minutes", "5 minutes")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("win_out").start()
    stream.addData(
      (java.sql.Timestamp.valueOf("2024-05-01 08:01:00"), "click", 1.0),
      (java.sql.Timestamp.valueOf("2024-05-01 08:03:00"), "click", 2.0),
      (java.sql.Timestamp.valueOf("2024-05-01 08:07:00"), "view", 4.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.sql("SELECT event_type, n, sum_value FROM win_out ORDER BY event_type")
      .as[(String, Long, Double)].collect()
    assert(out.toSeq == Seq(("click", 2L, 3.0), ("view", 1L, 4.0)))
  }

  test("mapGroupsWithState keeps running per-user counts across micro-batches") {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Double)]
    val counts = stream.toDS()
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[Long]) =>
          val c = state.getOption.getOrElse(0L) + rows.size
          state.update(c)
          (user, c)
      }
    val q = counts.toDF("user_id", "n_events").writeStream
      .outputMode(OutputMode.Update).format("memory").queryName("state_out").start()
    stream.addData((1L, 1.0), (1L, 2.0), (2L, 3.0))
    q.processAllAvailable()
    stream.addData((1L, 4.0))
    q.processAllAvailable()
    q.stop()
    val last = spark.sql(
      "SELECT user_id, max(n_events) FROM state_out GROUP BY user_id ORDER BY user_id")
      .as[(Long, Long)].collect()
    assert(last.toSeq == Seq((1L, 3L), (2L, 1L)),
      "state must carry the first batch's counts into the second")
  }

  test("dropDuplicatesWithinWatermark suppresses re-delivered keys across batches") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, java.sql.Timestamp)]
    val deduped = StreamPipeline.dedupWithinWatermark(
      stream.toDF().toDF("msg_id", "ts"), "ts", "10 minutes", Seq("msg_id"))
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    val t0 = java.sql.Timestamp.valueOf("2024-05-01 08:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-05-01 08:01:00")
    stream.addData((1L, t0), (1L, t0), (2L, t1)) // duplicate within batch
    q.processAllAvailable()
    stream.addData((1L, t1)) // re-delivery in a later batch, same key
    q.processAllAvailable()
    q.stop()
    val out = spark.sql("SELECT msg_id FROM dedup_out ORDER BY msg_id")
      .as[Long].collect()
    assert(out.toSeq == Seq(1L, 2L), "each key emitted exactly once within the horizon")
  }

  test("watermarked stream-stream join matches events to attributions in range") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    val buys = MemoryStream[(Long, java.sql.Timestamp)]
    val joined = StreamPipeline.streamStreamJoin(
      clicks.toDF().toDF("user_id", "click_ts"),
      buys.toDF().toDF("user_id", "buy_ts"),
      "user_id", "click_ts", "buy_ts", "1 hour", "30 minutes")
    val q = joined.select(col("user_id"), col("click_ts"), col("buy_ts"))
      .writeStream.outputMode("append")
      .format("memory").queryName("ssj_out").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    clicks.addData((1L, ts("2024-05-01 08:00:00")), (2L, ts("2024-05-01 08:00:00")))
    buys.addData((1L, ts("2024-05-01 08:10:00")),   // in range
                 (2L, ts("2024-05-01 09:50:00")))   // past maxDelay
    q.processAllAvailable()
    q.stop()
    val out = spark.sql("SELECT user_id FROM ssj_out").as[Long].collect()
    assert(out.toSeq == Seq(1L), "only the in-range purchase joins")
  }

  test("flatMapGroupsWithState sessionization closes sessions on gap") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, java.sql.Timestamp)]
    val sessions = StreamPipeline.sessionize(stream.toDS(), gapMinutes = 30)
    val q = sessions.toDF("user_id", "start", "end", "n_events")
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // session 1: two events 10 min apart; then a 2-hour gap starts session 2
    stream.addData((1L, ts("2024-05-01 08:00:00")), (1L, ts("2024-05-01 08:10:00")))
    q.processAllAvailable()
    stream.addData((1L, ts("2024-05-01 10:30:00")))
    q.processAllAvailable()
    q.stop()
    val out = spark.sql(
      "SELECT user_id, start, end, n_events FROM sess_out ORDER BY start")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect()
    assert(out.length == 1, "first session closed by the gap; second still open")
    assert(out(0) == ((1L, ts("2024-05-01 08:00:00"), ts("2024-05-01 08:10:00"), 2L)))
  }

  test("native session_window streaming aggregation matches the batch q29 shape") {
    // Spark's built-in session_window under a watermark — the DECLARATIVE
    // face of sessionization beside the custom flatMapGroupsWithState
    // sessionizer: merged gap-sessions, append-mode emission once the
    // watermark passes a session's close
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, java.sql.Timestamp)]
    val q = stream.toDS().toDF("user_id", "ts")
      .withWatermark("ts", "1 hour")
      .groupBy(session_window($"ts", "30 minutes"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", $"session_window.start".as("start"),
        $"session_window.end".as("end"), $"n_events")
      .writeStream.outputMode("append")
      .format("memory").queryName("native_sess").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    stream.addData((1L, ts("2024-05-01 08:00:00")), (1L, ts("2024-05-01 08:10:00")),
      (2L, ts("2024-05-01 08:05:00")))
    q.processAllAvailable()
    // 4h later: watermark sweeps past both open sessions' close
    stream.addData((9L, ts("2024-05-01 12:00:00")))
    q.processAllAvailable()
    q.stop()
    val out = spark.sql(
        "SELECT user_id, start, end, n_events FROM native_sess ORDER BY user_id")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSeq
    // session end = last event + gap (the batch q29 convention too)
    assert(out == Seq(
      (1L, ts("2024-05-01 08:00:00"), ts("2024-05-01 08:40:00"), 2L),
      (2L, ts("2024-05-01 08:05:00"), ts("2024-05-01 08:35:00"), 1L)),
      s"unexpected native sessions: $out")
  }

  test("session-window foreachBatch append sink is exactly-once under redelivery") {
    // the K2/K3 parity case VERDICT r6 asked for: closed sessions stream
    // into an append-only table through the transactional batch protocol;
    // a crash-redelivered batchId must not double its sessions, and the
    // committed table must equal what the memory sink saw
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("append_once").toString + "/sessions"
    val writer = Sinks.appendOnceWriter(dir)
    val ckpt = Files.createTempDirectory("append_once_ck").toString
    val stream = MemoryStream[(Long, java.sql.Timestamp)]
    val sessions = StreamPipeline.sessionize(stream.toDS(), gapMinutes = 30)
      .toDF("user_id", "start", "end", "n_events")
    val q = StreamPipeline.foreachBatchSink(sessions, ckpt, writer)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def table(): Seq[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)] =
      Sinks.readAppendOnce(spark, dir).get
        .select($"user_id", $"start", $"end", $"n_events")
        .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)]
        .collect().toSeq.sortBy(r => (r._1, r._2.getTime))
    stream.addData((1L, ts("2024-05-01 08:00:00")), (2L, ts("2024-05-01 08:05:00")))
    q.processAllAvailable()
    // the 2h jump closes both open sessions (newer than span + gap)
    stream.addData((1L, ts("2024-05-01 10:30:00")), (2L, ts("2024-05-01 10:40:00")))
    q.processAllAvailable()
    stream.addData((1L, ts("2024-05-01 13:00:00")))
    q.processAllAvailable()
    q.stop()
    val committed = table()
    assert(committed.nonEmpty, "closed sessions must have reached the sink")
    // crash simulation: an upstream retry redelivers already-committed
    // batchIds with the same rows — the commit marker makes each a no-op
    val replay = Sinks.readAppendOnce(spark, dir).get
    (0L to 4L).foreach(id => writer(replay, id))
    assert(table() == committed,
      s"redelivered batchIds must not duplicate rows: ${table()} vs $committed")
    // and the closed-session content is the expected one: u1's first two
    // sessions close on gap-exceeding successors, u2's first on its
    // successor and its second by EVENT-TIME TIMEOUT (the 13:00 event
    // moves the watermark to 12:00, past u2's 11:10 timeout)
    assert(committed == Seq(
      (1L, ts("2024-05-01 08:00:00"), ts("2024-05-01 08:00:00"), 1L),
      (1L, ts("2024-05-01 10:30:00"), ts("2024-05-01 10:30:00"), 1L),
      (2L, ts("2024-05-01 08:05:00"), ts("2024-05-01 08:05:00"), 1L),
      (2L, ts("2024-05-01 10:40:00"), ts("2024-05-01 10:40:00"), 1L)),
      s"unexpected session set: $committed")
  }

  test("sessionize handles out-of-order events: extends start, isolates stragglers") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, java.sql.Timestamp)]
    val sessions = StreamPipeline.sessionize(stream.toDS(), gapMinutes = 30)
    val q = sessions.toDF("user_id", "start", "end", "n_events")
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_ooo").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    stream.addData((1L, ts("2024-05-01 08:00:00")))
    q.processAllAvailable()
    // batch 2 delivers (within the 1h watermark horizon) a slightly-late
    // event that extends the open session's START, and a straggler more
    // than a gap older than the session (own singleton, emitted now).
    // Anything below the watermark itself never reaches the state
    // function — Spark drops it before the gap logic sees it.
    stream.addData((1L, ts("2024-05-01 07:50:00")), (1L, ts("2024-05-01 07:10:00")))
    q.processAllAvailable()
    q.stop()
    val out = spark.sql("SELECT start, end, n_events FROM sess_ooo ORDER BY start")
      .as[(java.sql.Timestamp, java.sql.Timestamp, Long)].collect()
    assert(out.length == 1, "only the straggler singleton is closed so far")
    assert(out(0) == ((ts("2024-05-01 07:10:00"), ts("2024-05-01 07:10:00"), 1L)))
  }

  test("foreachBatch latest-wins upsert maintains the CDC snapshot incrementally") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, java.sql.Timestamp, String, Double, Long)]
    val ev = stream.toDF().toDF("user_id", "ts", "event_type", "value", "event_id")
    val snapDir = Files.createTempDirectory("snap").toString + "/state"
    val ckpt = Files.createTempDirectory("snap_ckpt").toString
    val q = StreamPipeline.foreachBatchSink(ev, ckpt,
      StreamPipeline.upsertLatestWriter(spark, snapDir, "user_id", Seq("ts", "event_id")))
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    stream.addData((1L, t("2024-01-01 10:00:00"), "view", 1.0, 1L),
                   (2L, t("2024-01-01 10:05:00"), "click", 2.0, 2L))
    q.processAllAvailable()
    // batch 2: newer state for user 1; LATE (older) update for user 2 —
    // event-time ranking must keep user 2's existing state
    stream.addData((1L, t("2024-01-01 11:00:00"), "purchase", 3.0, 3L),
                   (2L, t("2024-01-01 09:00:00"), "view", 9.0, 4L))
    q.processAllAvailable()
    q.stop()
    val snap = StreamPipeline.readUpsertSnapshot(spark, snapDir).get
      .select($"user_id", $"event_type", $"value")
      .as[(Long, String, Double)].collect().sortBy(_._1).toSeq
    assert(snap == Seq((1L, "purchase", 3.0), (2L, "click", 2.0)),
      s"snapshot must reflect event-time latest per key, got $snap")
  }

  test("upsert sink rewrites only dirty buckets and survives a mid-commit crash") {
    val snapDir = Files.createTempDirectory("snap_inc").toString + "/state"
    val writer = StreamPipeline.upsertLatestWriter(spark, snapDir, "user_id",
      Seq("ts", "event_id"), nBuckets = 8)
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    def df(rows: (Long, java.sql.Timestamp, Long)*) =
      rows.toDF("user_id", "ts", "event_id")
    def manifest(): Map[Int, String] =
      Files.readAllLines(java.nio.file.Paths.get(snapDir, "_MANIFEST"))
        .toArray.map(_.toString).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l => val Array(b, p) = l.split("\t", 2); b.toInt -> p }.toMap

    // batch 0 seeds many buckets; batch 1 touches a single key
    writer(df((1L, t("2024-01-01 10:00:00"), 1L), (2L, t("2024-01-01 10:00:00"), 2L),
              (3L, t("2024-01-01 10:00:00"), 3L), (4L, t("2024-01-01 10:00:00"), 4L)), 0L)
    val m0 = manifest()
    writer(df((1L, t("2024-01-01 11:00:00"), 5L)), 1L)
    val m1 = manifest()
    val dirtyBuckets = m1.filter { case (_, p) => p.startsWith("merge-000001") }.keys
    assert(dirtyBuckets.size < m1.size,
      s"a one-key batch must not rewrite every bucket: $m1")
    assert(m1.filterNot { case (b, _) => dirtyBuckets.toSet(b) } ==
      m0.filterNot { case (b, _) => dirtyBuckets.toSet(b) },
      "clean buckets must keep their previous files untouched")

    // crash simulation: a merge dir from a dead batch exists, but the
    // manifest swap never happened — readers must see the old snapshot
    val orphan = new java.io.File(s"$snapDir/merge-000099/__bucket=0")
    orphan.mkdirs()
    Files.writeString(orphan.toPath.resolve("part-junk.parquet"), "not parquet")
    val afterCrash = StreamPipeline.readUpsertSnapshot(spark, snapDir).get
      .select($"user_id", $"ts").as[(Long, java.sql.Timestamp)].collect().toMap
    assert(afterCrash(1L) == t("2024-01-01 11:00:00") && afterCrash.size == 4,
      "an uncommitted merge dir must be invisible to snapshot readers")

    // retry of the crashed batch overwrites the orphan and commits; GC
    // then removes every merge dir no manifest entry references
    writer(df((5L, t("2024-01-01 12:00:00"), 6L)), 99L)
    val snap = StreamPipeline.readUpsertSnapshot(spark, snapDir).get
    assert(snap.count() == 5, "retried batch must commit cleanly over its orphan")
    val liveDirs = manifest().values.map(_.takeWhile(_ != '/')).toSet
    val onDisk = Option(new java.io.File(snapDir).listFiles).get
      .filter(f => f.isDirectory && f.getName.startsWith("merge-")).map(_.getName).toSet
    assert(onDisk == liveDirs, s"GC must drop unreferenced merge dirs: $onDisk vs $liveDirs")
  }

  test("upsert retry of an already-committed batchId must not corrupt the snapshot") {
    // foreachBatch can re-deliver a batchId whose previous attempt already
    // swapped the manifest (crash after commit, before checkpoint ack). The
    // retry must write to a FRESH dir: overwriting the committed one would
    // delete files the lazy merge plan is about to read — and the manifest
    // would then reference deleted files forever.
    val snapDir = Files.createTempDirectory("snap_retry").toString + "/state"
    val writer = StreamPipeline.upsertLatestWriter(spark, snapDir, "user_id",
      Seq("ts", "event_id"), nBuckets = 4)
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    def df(rows: (Long, java.sql.Timestamp, Long)*) =
      rows.toDF("user_id", "ts", "event_id")
    writer(df((1L, t("2024-01-01 10:00:00"), 1L), (2L, t("2024-01-01 10:00:00"), 2L)), 0L)
    writer(df((1L, t("2024-01-01 11:00:00"), 3L)), 1L)
    // redelivery of batch 1 after its commit: must succeed and be a no-op
    writer(df((1L, t("2024-01-01 11:00:00"), 3L)), 1L)
    val snap = StreamPipeline.readUpsertSnapshot(spark, snapDir).get
      .select($"user_id", $"ts").as[(Long, java.sql.Timestamp)].collect().toMap
    assert(snap == Map(1L -> t("2024-01-01 11:00:00"), 2L -> t("2024-01-01 10:00:00")),
      s"retried commit must leave the latest-wins snapshot intact, got $snap")
  }

  test("upsert chronic retries leave no orphaned attempt dirs behind") {
    // every redelivery of a committed batchId writes a FRESH attempt dir
    // (merge-<id>-a0, -a1, ...); once its swap supersedes the older
    // attempt's buckets, GC must reclaim the stale dirs or the snapshot
    // grows without bound under a crash-looping checkpoint ack
    val snapDir = Files.createTempDirectory("snap_gc").toString + "/state"
    val writer = StreamPipeline.upsertLatestWriter(spark, snapDir, "user_id",
      Seq("ts", "event_id"), nBuckets = 4)
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    def df(rows: (Long, java.sql.Timestamp, Long)*) =
      rows.toDF("user_id", "ts", "event_id")
    writer(df((1L, t("2024-01-01 10:00:00"), 1L), (2L, t("2024-01-01 10:00:00"), 2L)), 0L)
    // batch 1 delivered, then redelivered twice (crash before ack, twice)
    (1 to 3).foreach { _ =>
      writer(df((1L, t("2024-01-01 11:00:00"), 3L)), 1L)
    }
    val live = Files.readAllLines(java.nio.file.Paths.get(snapDir, "_MANIFEST"))
      .toArray.map(_.toString).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t", 2)(1).takeWhile(_ != '/')).toSet
    val onDisk = Option(new java.io.File(snapDir).listFiles).get
      .filter(f => f.isDirectory && f.getName.startsWith("merge-")).map(_.getName).toSet
    assert(onDisk == live,
      s"chronic-retry attempts must be GC'd after each swap: disk=$onDisk live=$live")
    assert(onDisk.exists(_.startsWith("merge-000001-a")),
      s"precondition: batch 1 must own at least one live attempt dir: $onDisk")
    val snap = StreamPipeline.readUpsertSnapshot(spark, snapDir).get
      .select($"user_id", $"ts").as[(Long, java.sql.Timestamp)].collect().toMap
    assert(snap == Map(1L -> t("2024-01-01 11:00:00"), 2L -> t("2024-01-01 10:00:00")),
      s"snapshot must stay latest-wins through the retries, got $snap")
  }

  test("upsert epoch fence rejects commits from a zombie writer") {
    val snapDir = Files.createTempDirectory("snap_fence").toString + "/state"
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    def df(rows: (Long, java.sql.Timestamp, Long)*) =
      rows.toDF("user_id", "ts", "event_id")
    val writerA = StreamPipeline.upsertLatestWriter(spark, snapDir, "user_id",
      Seq("ts", "event_id"), nBuckets = 4)
    writerA(df((1L, t("2024-01-01 10:00:00"), 1L)), 0L)
    // a restarted query takes over the snapshot at a higher epoch
    val writerB = StreamPipeline.upsertLatestWriter(spark, snapDir, "user_id",
      Seq("ts", "event_id"), nBuckets = 4)
    writerB(df((2L, t("2024-01-01 11:00:00"), 2L)), 0L)
    // the orphaned old writer retries: fenced, snapshot unchanged
    val e = intercept[IllegalStateException] {
      writerA(df((1L, t("2024-01-01 12:00:00"), 3L)), 1L)
    }
    assert(e.getMessage.contains("fenced"), e.getMessage)
    val snap = StreamPipeline.readUpsertSnapshot(spark, snapDir).get
      .select($"user_id", $"ts").as[(Long, java.sql.Timestamp)].collect().toMap
    assert(snap == Map(1L -> t("2024-01-01 10:00:00"), 2L -> t("2024-01-01 11:00:00")),
      s"a fenced commit must not touch the snapshot, got $snap")
  }

  test("K1/P1 round-trip: to_json with ISO timestamps parses back losslessly") {
    val df = Seq((java.sql.Timestamp.valueOf("2024-05-01 08:30:00"), 2.0, 3.0, 15.0))
      .toDF("tpep_pickup_datetime", "passenger_count", "trip_distance", "fare_amount")
    val json = Sinks.toKafkaJson(df).as[String].collect()(0)
    assert(json.contains(""""tpep_pickup_datetime":"2024-05-01T08:30:00""""),
      "DateTimeEncoder parity: ISO-8601, no fractional seconds")
    val schema = StructType(Seq(
      StructField("tpep_pickup_datetime", StringType),
      StructField("passenger_count", DoubleType),
      StructField("trip_distance", DoubleType),
      StructField("fare_amount", DoubleType)))
    val back = StreamPipeline.decodeJson(Seq(json).toDF("value"), schema)
      .select(to_timestamp($"tpep_pickup_datetime", "yyyy-MM-dd'T'HH:mm:ss").as("ts"),
        $"fare_amount")
      .as[(java.sql.Timestamp, Double)].collect()(0)
    assert(back._1 == java.sql.Timestamp.valueOf("2024-05-01 08:30:00") && back._2 == 15.0)
  }

  test("anomalyStream matches the batch rollingZScore flags across micro-batch splits") {
    implicit val sqlCtx = spark.sqlContext
    def ts(i: Int) = java.sql.Timestamp.valueOf(f"2024-05-01 ${i}%02d:00:00")
    // flat-ish baseline, one planted spike at hour 10, then recovery
    val cents = Seq(100L, 104L, 96L, 101L, 99L, 103L, 97L, 100L, 102L, 98L, 140L, 101L)
    val rows = cents.zipWithIndex.map { case (c, i) => ("k", ts(i), c) }

    val stream = MemoryStream[(String, java.sql.Timestamp, Long)]
    val q = StreamPipeline.anomalyStream(stream.toDS(), lookback = 10, minObs = 5, z = 3)
      .toDF("k", "ts", "c", "win_n", "is_anomaly")
      .writeStream.outputMode("append")
      .format("memory").queryName("zs_out").start()
    // split mid-series: state (the ring) must carry across micro-batches
    stream.addData(rows.take(7))
    q.processAllAvailable()
    stream.addData(rows.drop(7))
    q.processAllAvailable()
    q.stop()

    val streamed = spark.sql("SELECT ts, win_n, is_anomaly FROM zs_out ORDER BY ts")
      .as[(java.sql.Timestamp, Long, Boolean)].collect()
    val batch = graft.operators.TimeSeries.rollingZScore(
        rows.toDF("k", "b", "c"), "k", "b", $"c", lookback = 10, minObs = 5, z = 3)
      .orderBy($"b").select($"b", $"win_n", $"is_anomaly")
      .as[(java.sql.Timestamp, Long, Boolean)].collect()
    assert(streamed.toSeq == batch.toSeq,
      s"streaming flags must equal the batch operator's:\n${streamed.toSeq}\nvs\n${batch.toSeq}")
    assert(streamed.count(_._3) == 1 && streamed.find(_._3).get._1 == ts(10),
      "exactly the planted spike flags")
  }

  test("heavyHittersStream honors the Misra-Gries guarantees across batches") {
    implicit val sqlCtx = spark.sqlContext
    // 300 items: 'hot' appears 120x (40% >> N/(k+1) = 20%), the rest is
    // a spread of cold items — hot MUST survive with count in
    // [true - N/(k+1), true]; nothing may ever over-count
    val k = 4
    val hot = Seq.fill(120)(("a", "hot"))
    val cold = (0 until 180).map(i => ("a", s"c${i % 60}"))
    // interleave deterministically, then split mid-batch
    val all = (hot ++ cold).zipWithIndex.sortBy { case (_, i) => i * 37 % 300 }.map(_._1)

    val stream = MemoryStream[(String, String)]
    val q = StreamPipeline.heavyHittersStream(stream.toDS(), k)
      .toDF("k", "item", "cnt")
      .writeStream.outputMode("append")
      .format("memory").queryName("hh_out").start()
    stream.addData(all.take(130))
    q.processAllAvailable()
    stream.addData(all.drop(130))
    q.processAllAvailable()
    q.stop()

    // last batch's emission = the final summary (batches re-emit, take
    // the max count per item: counters only reflect the latest state,
    // and 'hot' grows monotonically here)
    val last = spark.sql(
        """SELECT item, cnt FROM (
             SELECT item, cnt, row_number() OVER (
               PARTITION BY item ORDER BY cnt DESC) AS rn FROM hh_out)
           WHERE rn = 1""")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    val n = all.size
    val slack = n / (k + 1)
    assert(last.contains("hot"), s"40% item must survive MG with k=$k: $last")
    assert(last("hot") <= 120, s"MG must never over-count: ${last("hot")}")
    assert(last("hot") >= 120 - slack,
      s"undercount bound violated: ${last("hot")} < ${120 - slack}")
    // no counter may exceed its item's true frequency
    val trueCounts = all.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    last.foreach { case (i, c) =>
      assert(c <= trueCounts(i), s"$i over-counted: $c > ${trueCounts(i)}")
    }
  }

  test("hllDistinctStream equals the batch sketch estimate exactly") {
    implicit val sqlCtx = spark.sqlContext
    // key a: 300 distinct (harmonic-mean regime for b=4's m=16);
    // key b: 2 distinct with duplicates (linear-counting regime,
    // duplicate-insensitivity across batches)
    val elemsA = (0 until 300).map(i => ("a", s"user$i"))
    val elemsB = Seq(("b", "x"), ("b", "y"), ("b", "x"), ("b", "y"))
    val all = elemsA ++ elemsB

    val stream = MemoryStream[(String, String)]
    val q = StreamPipeline.hllDistinctStream(stream.toDS(), b = 4, salt = "hs")
      .toDF("k", "n_nonzero", "est")
      .writeStream.outputMode("append")
      .format("memory").queryName("hll_out").start()
    stream.addData(all.take(150)) // state must carry across the split
    q.processAllAvailable()
    stream.addData(all.drop(150))
    q.processAllAvailable()
    q.stop()

    // registers only grow, so the final (= max-est) row per key is the
    // full-stream sketch
    val streamed = spark.sql(
        """SELECT k, n_nonzero, est FROM (
             SELECT k, n_nonzero, est, row_number() OVER (
               PARTITION BY k ORDER BY est DESC, n_nonzero DESC) AS rn FROM hll_out)
           WHERE rn = 1""")
      .as[(String, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap

    val batchOf = (key: String) => {
      val rows = all.filter(_._1 == key).map(_._2).toDF("v")
      graft.operators.Sketches.hllDistinct(rows, $"v", b = 4, salt = "hs")
        .select($"n_nonzero", $"est_distinct")
        .as[(Long, Double)].head()
    }
    assert(streamed("a") == batchOf("a"),
      s"streamed a != batch: ${streamed("a")} vs ${batchOf("a")}")
    assert(streamed("b") == batchOf("b"),
      s"streamed b != batch: ${streamed("b")} vs ${batchOf("b")}")
  }

  test("kmvDistinctStream converges to the batch sketch estimate exactly") {
    implicit val sqlCtx = spark.sqlContext
    val k = 16
    // key a sees 200 distinct elements (> k, estimated); key b sees 5 (exact)
    val elemsA = (0 until 200).map(i => ("a", s"user$i"))
    val elemsB = (0 until 5).map(i => ("b", s"acct$i"))
    val all = (elemsA ++ elemsB)

    val stream = MemoryStream[(String, String)]
    val q = StreamPipeline.kmvDistinctStream(stream.toDS(), k, salt = "s")
      .toDF("k", "n_kept", "est")
      .writeStream.outputMode("append")
      .format("memory").queryName("kmv_out").start()
    stream.addData(all.take(80))  // state must carry across the split
    q.processAllAvailable()
    stream.addData(all.drop(80))
    q.processAllAvailable()
    q.stop()

    // The sketch only refines monotonically (kth min shrinks, est grows),
    // so the max-est row per key IS the final state; a batch that adds
    // nothing below the prior kth re-emits an identical tuple, which the
    // toMap collapses.
    val streamed = spark.sql(
        """SELECT k, n_kept, est FROM (
             SELECT k, n_kept, est, row_number() OVER (
               PARTITION BY k ORDER BY est DESC, n_kept DESC) AS rn FROM kmv_out)
           WHERE rn = 1""")
      .as[(String, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap

    val batch = graft.operators.Sketches.kmvEstimateGrouped(
        graft.operators.Sketches.kmvSketchGrouped(
          all.toDF("g", "v"), Seq("g"), $"v", k, salt = "s"),
        Seq("g"), k)
      .select($"g", $"n_kept", $"est_distinct")
      .as[(String, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap

    assert(streamed == batch,
      s"streamed sketch must equal the batch sketch:\n$streamed\nvs\n$batch")
    assert(batch("b")._1 == 5L && batch("b")._2 == 5.0, "under-k key is exact")
  }

  test("transformWithState grid-quantile monitor equals the batch recomputation") {
    // Spark 4's StatefulProcessor API over RocksDB: per-key bucket
    // histogram in MapState, running (n, p50, p95) emitted per batch.
    // The monitor's final per-key row must equal a driver-side batch
    // recomputation over ALL rows — state survives across micro-batches
    // and the grid arithmetic is deterministic.
    val prevProvider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val grid = 100L
      val stream = MemoryStream[(String, Long)]
      val q = StreamPipeline.gridQuantileStream(stream.toDS(), grid)
        .toDF("key", "n", "p50", "p95")
        .writeStream
        .format("memory").queryName("gridq")
        .outputMode("update")
        .option("checkpointLocation",
          Files.createTempDirectory("gridq_ck").toString)
        .start()
      val batch1 = Seq(("api", 120L), ("api", 250L), ("api", 260L), ("db", 40L))
      val batch2 = Seq(("api", 900L), ("api", 130L), ("db", 45L), ("db", 980L))
      stream.addData(batch1: _*)
      q.processAllAvailable()
      stream.addData(batch2: _*)
      q.processAllAvailable()
      q.stop()
      // last emitted row per key (largest n) = full-data state
      val got = spark.table("gridq")
        .orderBy($"key", $"n")
        .as[(String, Long, Long, Long)].collect()
        .groupBy(_._1).map { case (k, rs) => k -> rs.maxBy(_._2) }
      // driver-side batch recomputation with the same grid rule
      def expect(vals: Seq[Long]): (Long, Long, Long) = {
        val cells = vals.groupBy(v => Math.floorDiv(v, grid))
          .map { case (b, vs) => (b, vs.size.toLong) }.toSeq.sortBy(_._1)
        val n = vals.size.toLong
        def qq(p: Double): Long = {
          val rank = math.max(1L, math.ceil(p * n).toLong)
          var cum = 0L
          cells.collectFirst {
            case (b, c) if { cum += c; cum >= rank } => (b + 1) * grid
          }.get
        }
        (n, qq(0.5), qq(0.95))
      }
      val all = batch1 ++ batch2
      for (k <- Seq("api", "db")) {
        val (n, p50, p95) = expect(all.filter(_._1 == k).map(_._2))
        assert(got(k) == ((k, n, p50, p95)),
          s"streamed state for $k must equal batch recomputation: " +
            s"${got(k)} vs ($k, $n, $p50, $p95)")
      }
      // state boundedness: the api histogram holds 4 occupied buckets for
      // 5 values — bucket count tracks the value RANGE, not row count
      assert(got("api")._2 == 5 && got("db")._2 == 3)
    } finally {
      prevProvider match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streamed CUSUM alarms equal the batch q202 plan on the same data") {
    // The changepoint monitor in its streaming form: state = one
    // (S, lastDay) pair per key, folded through Page's literal recursion
    // — StatsSpec pins recursion == prefix-sum identity, and THIS test
    // pins the streamed operator == the registered batch plan end-to-end
    // on the same orders data (sf0.001, 1995 detection half).
    val prevProvider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val dir = sf("sf0.001")
      // batch truth: the registered q202 plan
      val batch = SparkEntry.queries("q202_cusum_drift")(spark, dir)
        .select($"day".cast("string"), $"cusum", $"alarm")
        .as[(String, Double, Int)].collect().toSeq
      assert(batch.nonEmpty, "q202 must produce detection days at sf0.001")
      // the monitor's inputs, derived exactly as the batch plan derives
      // them: daily cents + the first-half baseline
      val daily = Tables(spark, dir, "orders")
        .filter(year($"o_orderdate") === 1995)
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("c"))
      val mu = daily.filter($"day" < "1995-07-01")
        .agg(expr("sum(c) div count(*)")).as[Long].collect()(0)
      val feed = daily.filter($"day" >= "1995-07-01")
        .select(datediff($"day", lit("1970-01-01")).as("d"), $"c")
        .orderBy($"d").as[(Int, Long)].collect().toSeq
      val stream = MemoryStream[(String, Int, Long)]
      val q = StreamPipeline.cusumStream(stream.toDS(),
          mu = mu, slack = mu / 20, alarmAt = mu)
        .toDF("key", "d", "cusum_cents", "alarm")
        .writeStream.format("memory").queryName("cusumq")
        .outputMode("append")
        .option("checkpointLocation",
          Files.createTempDirectory("cusum_ck").toString)
        .start()
      // three micro-batches in event order — state must carry across
      val chunks = feed.grouped(math.max(1, feed.size / 3 + 1)).toSeq
      chunks.foreach { ch =>
        stream.addData(ch.map { case (d, c) => ("rev", d, c) }: _*)
        q.processAllAvailable()
      }
      q.stop()
      val streamed = spark.table("cusumq")
        .select(date_format(date_add(lit("1970-01-01"), $"d"), "yyyy-MM-dd"),
          round($"cusum_cents" / 100.0, 2), $"alarm")
        .as[(String, Double, Int)].collect().toSeq.sortBy(_._1)
      val batchCmp = batch.map { case (d, cu, a) =>
        (d, math.rint(cu * 100) / 100, a) }.sortBy(_._1)
      assert(streamed == batchCmp,
        s"streamed CUSUM diverged from batch q202 (first rows: " +
          s"${streamed.take(3)} vs ${batchCmp.take(3)})")
      // order contract: replaying an already-folded period must kill the
      // query loudly, not silently corrupt S
      val stream2 = MemoryStream[(String, Int, Long)]
      val q2 = StreamPipeline.cusumStream(stream2.toDS(), 100L, 5L, 100L)
        .toDF("key", "d", "cusum_cents", "alarm")
        .writeStream.format("memory").queryName("cusumq2")
        .outputMode("append")
        .option("checkpointLocation",
          Files.createTempDirectory("cusum_ck2").toString)
        .start()
      stream2.addData(("k", 10, 50L))
      q2.processAllAvailable()
      stream2.addData(("k", 10, 60L)) // replay of day 10
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(ex.getMessage.contains("strictly increasing"),
        s"replay must fail the order contract: ${ex.getMessage.take(200)}")
      q2.stop()
    } finally {
      prevProvider match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streamed SCD2 closed versions equal the batch operator on the same log") {
    // the q219 build maintained incrementally: state = ONE open version
    // per key; every emitted row is a CLOSED version, and the emitted
    // set must equal the batch operator's valid_to-closed rows exactly
    // — including the null-safe attribute compare and the run-collapse
    val prevProvider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val base = Tables(spark, sf("sf0.001"), "events")
        .filter($"user_id" < 8)
        .select($"user_id".cast("string").as("k"),
          unix_micros($"ts".cast("timestamp")).as("ord"),
          $"event_id".as("tie"), $"event_type".as("attr"))
      val batch = graft.operators.Incremental
        .scd2(base, "k", "ord", "tie", "attr")
        .filter($"valid_to".isNotNull)
        .select($"k", $"attr", $"version", $"valid_from", $"valid_to")
        .as[(String, String, Int, Long, Long)].collect().toSeq.sorted
      assert(batch.nonEmpty, "the fixture log must close some versions")
      val feed = base.orderBy($"ord", $"tie")
        .as[(String, Long, Long, String)].collect().toSeq
      val stream = MemoryStream[(String, Long, Long, String)]
      val q = StreamPipeline.scd2Stream(stream.toDS())
        .toDF("k", "attr", "version", "valid_from", "valid_to")
        .writeStream.format("memory").queryName("scd2q")
        .outputMode("append")
        .option("checkpointLocation",
          Files.createTempDirectory("scd2_ck").toString)
        .start()
      // three micro-batches; versions opened in one batch must close in
      // a later one purely from state
      feed.grouped(math.max(1, feed.size / 3 + 1)).foreach { ch =>
        stream.addData(ch: _*)
        q.processAllAvailable()
      }
      q.stop()
      val streamed = spark.table("scd2q")
        .as[(String, String, Int, Long, Long)].collect().toSeq.sorted
      assert(streamed == batch,
        s"streamed SCD2 diverged from the batch build " +
          s"(${streamed.size} vs ${batch.size} closed versions; first: " +
          s"${streamed.take(2)} vs ${batch.take(2)})")
      // order contract: an out-of-order change must kill the query loudly
      val stream2 = MemoryStream[(String, Long, Long, String)]
      val q2 = StreamPipeline.scd2Stream(stream2.toDS())
        .toDF("k", "attr", "version", "valid_from", "valid_to")
        .writeStream.format("memory").queryName("scd2q2")
        .outputMode("append")
        .option("checkpointLocation",
          Files.createTempDirectory("scd2_ck2").toString)
        .start()
      stream2.addData(("k", 100L, 1L, "a"))
      q2.processAllAvailable()
      stream2.addData(("k", 90L, 2L, "b")) // ordinal rollback
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(ex.getMessage.contains("(ord, tie) order"),
        s"rollback must fail the order contract: ${ex.getMessage.take(200)}")
      q2.stop()
    } finally {
      prevProvider match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming near-dup suppression: LSH bucket index filters across batches") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("neardup").toString
    val (indexDir, outDir) = (s"$base/index", s"$base/out")
    val writer = StreamPipeline.nearDupSuppressWriter(
      indexDir, outDir, "doc_id", "text")
    val ckpt = Files.createTempDirectory("neardup_ck").toString
    val stream = MemoryStream[(Long, String)]
    val q = StreamPipeline.foreachBatchSink(
      stream.toDF().toDF("doc_id", "text"), ckpt, writer)
    def admitted(): Seq[Long] =
      Sinks.readAppendOnce(spark, outDir).get
        .select($"doc_id").as[Long].collect().toSeq.sorted
    // batch 0: doc 2 is doc 1's token-set permutation (near-dup, not
    // byte-equal — identical MinHash signature, all bands collide);
    // doc 3 is unrelated
    stream.addData(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "lazy dog the quick brown fox jumps over the"),
      (3L, "completely different subject matter entirely here"))
    q.processAllAvailable()
    assert(admitted() == Seq(1L, 3L),
      s"within-batch: min id per bucket group survives: ${admitted()}")
    // batch 1: doc 4 re-sends doc 1's text (hits the PERSISTED index,
    // not within-batch state); doc 5 is new
    stream.addData(
      (4L, "the quick brown fox jumps over the lazy dog"),
      (5L, "yet another fresh and unrelated piece of text"))
    q.processAllAvailable()
    q.stop()
    assert(admitted() == Seq(1L, 3L, 5L),
      s"cross-batch: the bucket index must suppress doc 4: ${admitted()}")
    // crash redelivery: both batchIds replayed verbatim — the single
    // commit point makes each a no-op (in particular batch 0's docs must
    // NOT be suppressed by their own index entries on replay)
    val replay0 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "lazy dog the quick brown fox jumps over the"),
      (3L, "completely different subject matter entirely here"))
      .toDF("doc_id", "text")
    writer(replay0, 0L)
    assert(admitted() == Seq(1L, 3L, 5L),
      s"redelivered batch must be a no-op: ${admitted()}")
    // the admitted corpus carries no near-dup pair at all — the batch
    // verifier over the admitted output finds nothing to merge
    val pairs = graft.operators.Dedup.minhashNearDups(
        Sinks.readAppendOnce(spark, outDir).get, "doc_id", "text",
        k = 16, bands = 4, threshold = 0.9, scheme = "lcg")
    assert(pairs.count() == 0, "admitted set must be near-dup free")
    // log-structured housekeeping: fold both deltas into base-0 and keep
    // filtering — a doc-1 dup must now be suppressed via the BASE, and
    // survivor visibility (outDir markers untouched) must be unchanged
    assert(StreamPipeline.compactNearDupIndex(spark, indexDir, outDir) == 2,
      "both committed deltas fold into the first base generation")
    writer(Seq(
      (6L, "the quick brown fox jumps over the lazy dog"),
      (7L, "entirely novel content appearing after compaction"))
      .toDF("doc_id", "text"), 2L)
    assert(admitted() == Seq(1L, 3L, 5L, 7L),
      s"post-compaction: base suppresses doc 6, doc 7 admitted: ${admitted()}")
    // the second compaction folds base-0 + the one new delta into base-1
    assert(StreamPipeline.compactNearDupIndex(spark, indexDir, outDir) == 1)
    assert(StreamPipeline.compactNearDupIndex(spark, indexDir, outDir) == 0,
      "compaction with no uncovered deltas is a no-op")

    // ---- crash window: base dir written, meta NOT yet promoted ----
    // (a compactor killed between the parquet write and the atomic meta
    // rename) — the orphan generation is invisible: readers keep using
    // the newest PROMOTED generation, and admission behavior is unchanged
    new java.io.File(s"$indexDir/base-7").mkdirs()
    writer(Seq((8L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text"), 3L)
    assert(admitted() == Seq(1L, 3L, 5L, 7L),
      s"orphan un-promoted base must be invisible: ${admitted()}")

    // ---- janitor: grace window, then full reclaim ----
    def idxDirs(): Int =
      Option(new java.io.File(indexDir).listFiles).map(_.length).getOrElse(0)
    val before = idxDirs()
    // grace=1: newest promoted gen is 1, so only generation-0-covered
    // dirs die (batch-000000, batch-000001) — a concurrent reader that
    // resolved its paths against gen 0 just before gen 1's promotion
    // would still find everything it holds
    assert(StreamPipeline.janitorNearDupIndex(spark, indexDir, grace = 1) == 2,
      "grace=1 reclaims exactly the two generation-0-covered deltas")
    writer(Seq((9L, "lazy dog the quick brown fox jumps over the"))
      .toDF("doc_id", "text"), 4L)
    assert(admitted() == Seq(1L, 3L, 5L, 7L),
      s"suppression intact after grace-window janitor: ${admitted()}")
    // grace=0 (maintenance window): everything covered by the NEWEST
    // meta dies — batch-000002's delta plus base-0 and its meta
    assert(StreamPipeline.janitorNearDupIndex(spark, indexDir, grace = 0) == 3,
      "grace=0 reclaims the newest-covered delta and the old generation")
    info(s"index dirs before janitor: $before, after: ${idxDirs()}")
    assert(idxDirs() < before, "janitor must shrink the index listing")
    // regression: after grace=0 removed the older generation, a routine
    // grace=1 run's cutoff meta no longer exists — it must fall back to
    // a no-op, not crash on the missing base-<cutoff>.meta
    assert(StreamPipeline.janitorNearDupIndex(spark, indexDir, grace = 1) == 0,
      "janitor with no surviving generation at/below the cutoff is a no-op")
    // the index now serves entirely from base-1 + uncovered deltas:
    // dups still suppressed, novel docs still admitted
    writer(Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "post janitor novel document with fresh words"))
      .toDF("doc_id", "text"), 5L)
    assert(admitted() == Seq(1L, 3L, 5L, 7L, 11L),
      s"post-janitor: base suppresses doc 10, doc 11 admitted: ${admitted()}")
  }

  test("streamed EWMA trajectory and alarms equal the batch ewmaChart fold") {
    // the q229 monitor in its streaming form: state = one
    // (z_micro, lastDay) pair per key. The batch operator fits its
    // control limits on its own series; the stream takes them as fixed
    // inputs (the classical reference-window deployment), so feeding
    // the stream the batch-fit pair (the SHARED TimeSeries.ewmaLimits —
    // one implementation, no formula drift) must reproduce the batch
    // trajectory AND flags bit-for-bit.
    val prevProvider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val ser = Tables(spark, sf("sf0.001"), "orders")
        .filter($"o_orderdate" >= "1997-01-01" && $"o_orderdate" < "1998-01-01")
        .groupBy(datediff($"o_orderdate", lit("1997-01-01"))
          .cast("long").as("day"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
        .localCheckpoint()
      val batch = graft.operators.TimeSeries.ewmaChart(ser, "day", "cents")
        .select($"day".cast("int"), $"ewma_micro", $"alarm")
        .as[(Int, Long, Int)].collect().toSeq.sortBy(_._1)
      assert(batch.nonEmpty && batch.exists(_._2 != 0L))
      val feed = ser.select($"day".cast("int"), $"cents")
        .orderBy($"day").as[(Int, Long)].collect().toSeq
      val (mu, band) = graft.operators.TimeSeries.ewmaLimits(
        feed.map(_._2), lamNum = 2, lamDen = 10, l = 3.0)
      val zInit = graft.operators.TimeSeries.ewmaSeed(feed.map(_._2))
      val stream = MemoryStream[(String, Int, Long)]
      val q = StreamPipeline.ewmaStream(stream.toDS(), 2L, 10L, zInit, mu, band)
        .toDF("key", "d", "ewma_micro", "alarm")
        .writeStream.format("memory").queryName("ewmaq")
        .outputMode("append")
        .option("checkpointLocation",
          Files.createTempDirectory("ewma_ck").toString)
        .start()
      val chunks = feed.grouped(math.max(1, feed.size / 3 + 1)).toSeq
      chunks.foreach { ch =>
        stream.addData(ch.map { case (d, c) => ("rev", d, c) }: _*)
        q.processAllAvailable() // state must carry across micro-batches
      }
      q.stop()
      val streamed = spark.table("ewmaq")
        .select($"d", $"ewma_micro", $"alarm")
        .as[(Int, Long, Int)].collect().toSeq.sortBy(_._1)
      assert(streamed == batch,
        s"streamed EWMA diverged from batch (first rows: " +
          s"${streamed.take(3)} vs ${batch.take(3)})")
      // order contract: a replayed period must kill the query loudly
      val stream2 = MemoryStream[(String, Int, Long)]
      val q2 = StreamPipeline.ewmaStream(stream2.toDS(), 2L, 10L,
        100L * 1000000L, 100.0, 10.0)
        .toDF("key", "d", "ewma_micro", "alarm")
        .writeStream.format("memory").queryName("ewmaq2")
        .outputMode("append")
        .option("checkpointLocation",
          Files.createTempDirectory("ewma_ck2").toString)
        .start()
      stream2.addData(("k", 10, 50L))
      q2.processAllAvailable()
      stream2.addData(("k", 10, 60L)) // replay of period 10
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(ex.getMessage.contains("strictly increasing"),
        s"replay must fail the order contract: ${ex.getMessage.take(200)}")
      q2.stop()
    } finally {
      prevProvider match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streamed Misra-Gries holds every guarantee against the exact counts") {
    // MG summaries are arrival-order-dependent (no order-free exact
    // form exists), so the pins are the GUARANTEES, which hold under
    // any order: ≤ k counters per key; counter ≤ true count; counter ≥
    // true − N/(k+1); every item with true frequency > N/(k+1) present.
    // Zipf-ish stream: item frequencies 40, 25, 12, and 23 singletons.
    val prevProvider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val items = Seq.fill(40)("hot") ++ Seq.fill(25)("warm") ++
        Seq.fill(12)("mild") ++ (1 to 23).map(i => s"one$i")
      // deterministic interleave so no single run front-loads a tail item
      val feed = items.zipWithIndex.sortBy { case (_, i) => (i % 7, i) }.map(_._1)
      val n = feed.size
      val k = 5
      val stream = MemoryStream[(String, String)]
      val q = StreamPipeline.mgTopKStream(stream.toDS(), k)
        .toDF("key", "ver", "item", "cnt")
        .writeStream.format("memory").queryName("mgq")
        .outputMode("append")
        .option("checkpointLocation",
          Files.createTempDirectory("mg_ck").toString)
        .start()
      feed.grouped(n / 3 + 1).foreach { ch => // state carries across batches
        stream.addData(ch.map(it => ("events", it)): _*)
        q.processAllAvailable()
      }
      q.stop()
      val lastVer = spark.table("mgq").agg(max($"ver")).as[Long].head()
      val snap = spark.table("mgq").filter($"ver" === lastVer)
        .select($"item", $"cnt").as[(String, Long)].collect().toMap
      val truth = feed.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val slack = n.toDouble / (k + 1)
      assert(snap.size <= k, s"state must stay <= $k counters: $snap")
      snap.foreach { case (it, c) =>
        assert(c <= truth(it), s"$it: counter $c exceeds true ${truth(it)}")
        assert(c >= truth(it) - slack,
          s"$it: counter $c below true ${truth(it)} - N/(k+1) $slack")
      }
      truth.filter(_._2 > slack).keys.foreach { it =>
        assert(snap.contains(it),
          s"item '$it' (freq ${truth(it)} > $slack) must survive MG: $snap")
      }
    } finally {
      prevProvider match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streamed seq-pairs == batch q243 on the same events; out-of-order fails loudly") {
    // The funnel-family stream (VERDICT r12 #7): per-user first-
    // occurrence map as enum-bounded value state; each (user, a, b)
    // increment emitted at most once, so the grouped count over the
    // emitted rows must equal the batch self-join's n_users EXACTLY.
    val prevProvider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val dir = sf("sf0.001")
      val batch = graft.queries.Registry.queries("q243_seq_pairs")(spark, dir)
        .as[(String, String, Long)].collect().toSeq.sorted
      assert(batch.nonEmpty, "fixture sanity: some ordered pairs must exist")
      // global ts order implies per-user nondecreasing order — the
      // processor's arrival contract; ties within a user are harmless
      // (simultaneous firsts pair in neither direction)
      val feed = Tables(spark, dir, "events")
        .select($"user_id".cast("string"), // NTZ→TS is a no-op in the UTC session
          unix_micros($"ts".cast("timestamp")), $"event_type")
        .orderBy($"ts").as[(String, Long, String)].collect().toSeq
      val stream = MemoryStream[(String, Long, String)]
      val q = StreamPipeline.seqPairsStream(stream.toDS())
        .toDF("user", "a", "b")
        .writeStream.format("memory").queryName("sqp")
        .outputMode("append")
        .option("checkpointLocation",
          Files.createTempDirectory("sqp_ck").toString)
        .start()
      // three micro-batches: firsts recorded in one batch must pair
      // with types first seen in a LATER batch purely from state
      feed.grouped(feed.size / 3 + 1).foreach { ch =>
        stream.addData(ch: _*)
        q.processAllAvailable()
      }
      q.stop()
      val streamed = spark.table("sqp").groupBy($"a", $"b")
        .agg(count(lit(1)).as("n_users"))
        .as[(String, String, Long)].collect().toSeq.sorted
      assert(streamed == batch,
        s"streamed pair support diverged from batch q243 " +
          s"(${streamed.size} vs ${batch.size} pairs; first: " +
          s"${streamed.take(3)} vs ${batch.take(3)})")
      // a timestamp rollback must kill the query loudly (a late event
      // could retroactively change an already-emitted first occurrence)
      val stream2 = MemoryStream[(String, Long, String)]
      val q2 = StreamPipeline.seqPairsStream(stream2.toDS())
        .toDF("user", "a", "b")
        .writeStream.format("memory").queryName("sqp2")
        .outputMode("append")
        .option("checkpointLocation",
          Files.createTempDirectory("sqp_ck2").toString)
        .start()
      stream2.addData(("u1", 100L, "view"))
      q2.processAllAvailable()
      stream2.addData(("u1", 90L, "purchase")) // rollback
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(ex.getMessage.contains("nondecreasing"),
        s"rollback must fail the order contract: ${ex.getMessage.take(200)}")
      q2.stop()
    } finally {
      prevProvider match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming IMAGE dedup suppression: dHash band index filters across batches") {
    // The suppression protocol instantiated on the image modality
    // (bucketSuppressWriter with the dHash bucket derivation AND the
    // exact-Hamming verify match rule — the within-batch rule here is
    // a verified pairwise self-join, NOT the text writer's min-id
    // window): the index lifecycle and single-commit exactly-once
    // protocol are the shared implementation. Fixture ids chosen from
    // the closed form: sources 0/2/3 pairwise band-disjoint; id 3
    // (source 1) and id 12 (source 4) band-COLLIDE with admitted
    // images at Hamming ≫ 7 — the verify-stage pins.
    implicit val sqlCtx = spark.sqlContext
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val base = Files.createTempDirectory("imgdedup").toString
    val (indexDir, outDir) = (s"$base/index", s"$base/out")
    val writer = StreamPipeline.imageDedupSuppressWriter(
      indexDir, outDir, "media_id", "content")
    // real PNG bytes for the chosen ids, via the actual codec
    val png = graft.multimodal.Multimodal.encodeVariantPngs(
        Seq(0L, 1L, 2L, 3L, 6L, 9L, 12L).toDF("doc_id"), "doc_id")
      .as[(Long, Array[Byte])].collect().toMap
    def admitted(): Seq[Long] =
      Sinks.readAppendOnce(spark, outDir).get
        .select($"media_id").as[Long].collect().toSeq.sorted
    // batch 0: id 1 is id 0's brightness twin (dHash-IDENTICAL — all 8
    // bands collide AND the verify sees distance 0 ⇒ suppressed); id 3
    // (source 1) SHARES a band with id 0 in the SAME batch but sits at
    // Hamming 35 — the within-batch VERIFY must admit it (collision-
    // only suppression, the pre-verify design, fails exactly here and
    // saturates the filter at a ~256-image ceiling: the 8-bit band
    // space holds only 2048 keys); id 6 (source 2) is unrelated
    writer(Seq((0L, png(0L)), (1L, png(1L)), (3L, png(3L)), (6L, png(6L)))
      .toDF("media_id", "content"), 0L)
    assert(admitted() == Seq(0L, 3L, 6L),
      s"within-batch: twin suppressed, band-colliding FAR image admitted: ${admitted()}")
    // batch 1: id 2 is id 0's LOCAL EDIT (Hamming ≤ 7 ⇒ pigeonhole
    // guarantees ≥ 1 colliding band with the PERSISTED index, and the
    // verify confirms) — suppressed; id 9 (source 3) band-collides
    // with admitted id 3 at Hamming 26 — verify-admitted
    writer(Seq((2L, png(2L)), (9L, png(9L)))
      .toDF("media_id", "content"), 1L)
    assert(admitted() == Seq(0L, 3L, 6L, 9L),
      s"cross-batch: edited copy suppressed, far collider admitted: ${admitted()}")
    // batch 2: id 12 (source 4) shares bands with THREE admitted images
    // (3, 6, 9) — every collision at Hamming > 7, all must verify-pass
    writer(Seq((12L, png(12L))).toDF("media_id", "content"), 2L)
    assert(admitted() == Seq(0L, 3L, 6L, 9L, 12L),
      s"multi-collision FAR image must pass every Hamming verify: ${admitted()}")
    // crash redelivery of batch 0: the single commit point makes it a
    // no-op — its docs must NOT be suppressed by their own index rows
    writer(Seq((0L, png(0L)), (1L, png(1L)), (3L, png(3L)), (6L, png(6L)))
      .toDF("media_id", "content"), 0L)
    assert(admitted() == Seq(0L, 3L, 6L, 9L, 12L),
      s"redelivered batch must be a no-op: ${admitted()}")
  }

  test("wide-band IMAGE ingest filter: 16-bit bands, d<=3, scheme pinned in the index") {
    // The q261 wide-band regime at INGEST (round-14 verdict #1): nBands
    // = 4 gives a 4×65,536-key band space — occupancy stays sparse at
    // corpus density where the 8-bit default saturates — with the
    // tighter d ≤ 3 guarantee. Fixture ids from the closed form:
    // source 1 (ids 3/4/5) has its p=2 edit at distance exactly 3
    // (suppressed); source 0's p=2 edit (id 2) sits at distance 7 —
    // inside the 8-band scheme's reach but OUTSIDE the wide scheme's
    // declared d ≤ 3 recall, so it must be ADMITTED (the trade is
    // observable, not hidden); p0 sources 3 and 8 (ids 9, 24) share a
    // 16-bit band at Hamming 10 — the verify stage must admit.
    implicit val sqlCtx = spark.sqlContext
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val base = Files.createTempDirectory("imgwide").toString
    val (indexDir, outDir) = (s"$base/index", s"$base/out")
    val writer = StreamPipeline.imageDedupSuppressWriter(
      indexDir, outDir, "media_id", "content", maxDist = 3, nBands = 4)
    val png = graft.multimodal.Multimodal.encodeVariantPngs(
        Seq(0L, 2L, 3L, 4L, 5L, 9L, 24L).toDF("doc_id"), "doc_id")
      .as[(Long, Array[Byte])].collect().toMap
    def admitted(): Seq[Long] =
      Sinks.readAppendOnce(spark, outDir).get
        .select($"media_id").as[Long].collect().toSeq.sorted
    // batch 0: 4 is 3's brightness twin (d=0), 5 its local edit (d=3) —
    // both inside the 4-band pigeonhole, both suppressed within-batch
    writer(Seq((3L, png(3L)), (4L, png(4L)), (5L, png(5L)))
      .toDF("media_id", "content"), 0L)
    assert(admitted() == Seq(3L),
      s"within-batch: d=0 twin and d=3 edit both suppressed: ${admitted()}")
    // batch 1: id 2 (d=7 from id 0, same batch) is ADMITTED — the wide
    // scheme's declared trade surrenders the d in [4,7] tail; id 4
    // (d=0 from PERSISTED survivor 3) is suppressed cross-batch
    writer(Seq((0L, png(0L)), (2L, png(2L)), (4L, png(4L)), (9L, png(9L)))
      .toDF("media_id", "content"), 1L)
    assert(admitted() == Seq(0L, 2L, 3L, 9L),
      s"d=7 edit admitted (declared trade), persisted twin suppressed: ${admitted()}")
    // batch 2: id 24 shares a 16-bit band with survivor 9 at Hamming 10
    // — collision alone must not suppress; the exact verify admits
    writer(Seq((24L, png(24L))).toDF("media_id", "content"), 2L)
    assert(admitted() == Seq(0L, 2L, 3L, 9L, 24L),
      s"band-colliding far image must verify-admit: ${admitted()}")
    // the band scheme is part of the index contract: an 8-band writer
    // against this 4-band index must refuse loudly, not silently admit
    // every duplicate (16-bit values never equal 8-bit values)
    val writer8 = StreamPipeline.imageDedupSuppressWriter(
      indexDir, outDir, "media_id", "content", maxDist = 7, nBands = 8)
    val e = intercept[IllegalArgumentException] {
      writer8(Seq((6L, png(3L))).toDF("media_id", "content"), 3L)
    }
    // the generalized marker protocol (round-16) names both schemes
    assert(e.getMessage.contains("'4'") && e.getMessage.contains("'8'"),
      e.getMessage)
    // the tie between maxDist and nBands is enforced at construction
    val e2 = intercept[IllegalArgumentException] {
      StreamPipeline.imageDedupSuppressWriter(indexDir, outDir,
        "media_id", "content", maxDist = 7, nBands = 4)
    }
    assert(e2.getMessage.contains("pigeonhole"), e2.getMessage)
  }

  test("streaming AUDIO dedup suppression: the sketch writer core is modality-generic") {
    // audioDedupSuppressWriter = sketchDedupSuppressWriter with the
    // q258 WAV pipeline as the sketch derivation — the whole banding /
    // verify / index / exactly-once machinery is the SAME code the
    // image writer runs, so this pins the one thing the audio
    // instantiation adds: the codec slot. Closed-form distances:
    // gain twin (0,1) at 0, burst edit (0,2) at 1, cross-source far.
    implicit val sqlCtx = spark.sqlContext
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val base = Files.createTempDirectory("wavdedup").toString
    val (indexDir, outDir) = (s"$base/index", s"$base/out")
    val writer = StreamPipeline.audioDedupSuppressWriter(
      indexDir, outDir, "media_id", "content")
    val wav = graft.multimodal.Multimodal.encodeVariantWavs(
        Seq(0L, 1L, 2L, 3L).toDF("doc_id"), "doc_id")
      .as[(Long, Array[Byte])].collect().toMap
    def admitted(): Seq[Long] =
      Sinks.readAppendOnce(spark, outDir).get
        .select($"media_id").as[Long].collect().toSeq.sorted
    // batch 0: 1 is 0's gain twin (d=0, suppressed within-batch);
    // 3 (source 1) is far — admitted
    writer(Seq((0L, wav(0L)), (1L, wav(1L)), (3L, wav(3L)))
      .toDF("media_id", "content"), 0L)
    assert(admitted() == Seq(0L, 3L),
      s"gain twin suppressed within-batch: ${admitted()}")
    // batch 1: 2 is 0's burst edit (d=1 vs the PERSISTED index row)
    writer(Seq((2L, wav(2L))).toDF("media_id", "content"), 1L)
    assert(admitted() == Seq(0L, 3L),
      s"burst edit suppressed cross-batch: ${admitted()}")
  }

  test("streaming WINNOW dedup suppression: containment caught, == batch q270 rule") {
    // winnowDedupSuppressWriter drops an arrival sharing >= minShared
    // distinct winnowed fingerprints with an admitted doc — the
    // count-threshold rule the MinHash band writer cannot express.
    // The fixture's doc 1 CONTAINS doc 0's 12-token run inside a much
    // longer unrelated body: its winnowed fingerprints overlap doc 0's
    // (guaranteed for runs >= k+w-1), while its MinHash LSH bands do
    // NOT collide with doc 0's (asserted below, not assumed) — the
    // exact arrival the nearDupSuppressWriter admits and this one
    // suppresses.
    implicit val sqlCtx = spark.sqlContext
    val run = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val corpus = Seq(
      0L -> s"intro words $run closing remarks",
      1L -> (s"$run entirely different continuation making this document " +
        "much longer than the original with many extra tokens about " +
        "unrelated matters and still more padding words here"),
      2L -> "completely unrelated content about spark plans and shuffles")
    val later = Seq(
      3L -> s"another wrapper around $run with its own tail",
      4L -> "fresh unrelated arrival about broadcast joins and skew")
    val (k, w, minShared) = (4, 4, 3)
    // precondition guards: the planted overlap really carries >= 3
    // shared fingerprints, and the batch pair op agrees
    val batchPairs = graft.operators.Dedup.winnowedNearDupPairs(
        (corpus ++ later).toDF("doc_id", "text"), "doc_id", $"text",
        k, w, minShared, maxDf = 50)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(p => (p._1, p._2))
    assert(batchPairs.map(p => (p._1, p._2)).contains((0L, 1L)),
      s"fixture lost its containment pair: $batchPairs")
    // the MinHash writer's evidence: doc 1's LSH bands do NOT collide
    // with doc 0's (the containment arrival is invisible to it)
    val bands = graft.operators.Dedup.lshBands(
        graft.operators.Dedup.minhashSignaturesLcg(
          graft.operators.Dedup.tokens(
            corpus.take(2).toDF("doc_id", "text"), "doc_id", "text"),
          "doc_id", k = 16),
        "doc_id", k = 16, bands = 4)
      .as[(Long, Int, String)].collect()
    val collide = bands.filter(_._1 == 0L).map(b => (b._2, b._3)).toSet &
      bands.filter(_._1 == 1L).map(b => (b._2, b._3)).toSet
    assert(collide.isEmpty,
      s"fixture must be MinHash-invisible containment, but bands collide: $collide")
    val base = Files.createTempDirectory("winnowdedup").toString
    val (indexDir, outDir) = (s"$base/index", s"$base/out")
    val writer = StreamPipeline.winnowDedupSuppressWriter(
      indexDir, outDir, "doc_id", "text", k, w, minShared)
    def admitted(): Seq[Long] =
      Sinks.readAppendOnce(spark, outDir).get
        .select($"doc_id").as[Long].collect().toSeq.sorted
    // batch 0 == the q270 keep-first rule: suppressed = every id_b of
    // a batch pair among batch-0 docs
    writer(corpus.toDF("doc_id", "text"), 0L)
    val expect0 = corpus.map(_._1).toSet --
      batchPairs.filter(p => p._1 < 3 && p._2 < 3).map(_._2)
    assert(admitted() == expect0.toSeq.sorted,
      s"within-batch must match the batch pair rule: ${admitted()} vs $expect0")
    // batch 1: doc 3 shares the run with ADMITTED doc 0 -> suppressed
    // against the persisted index; doc 4 unrelated -> admitted
    writer(later.toDF("doc_id", "text"), 1L)
    assert(admitted() == (expect0 + 4L).toSeq.sorted,
      s"cross-batch containment must suppress: ${admitted()}")
    // posting cap (the q270 stop-gram trade at ingest), A/B: seed an
    // index with TWO admitted carriers of the run (via a permissive
    // writer — thresholds are read-side policy over the shared index
    // rows), then present the same containment arrival to a capped
    // (maxPosting = 1: every run fingerprint has posting 2, skipped)
    // and an uncapped reader of that index — the cap ADMITS what the
    // uncapped writer suppresses, which is exactly the declared trade
    def seedTwoCarriers(base2: String): Unit = {
      val permissive = StreamPipeline.winnowDedupSuppressWriter(
        s"$base2/index", s"$base2/out", "doc_id", "text", k, w,
        minShared = 999)
      permissive(Seq(0L -> s"intro words $run closing remarks")
        .toDF("doc_id", "text"), 0L)
      permissive(Seq(10L -> s"other carrier of $run in its body elsewhere")
        .toDF("doc_id", "text"), 1L)
    }
    val (capBase, unBase) = (Files.createTempDirectory("winnowcap").toString,
      Files.createTempDirectory("winnowuncap").toString)
    Seq(capBase, unBase).foreach(seedTwoCarriers)
    StreamPipeline.winnowDedupSuppressWriter(
      s"$capBase/index", s"$capBase/out", "doc_id", "text", k, w,
      minShared, maxPosting = 1)(later.take(1).toDF("doc_id", "text"), 2L)
    StreamPipeline.winnowDedupSuppressWriter(
      s"$unBase/index", s"$unBase/out", "doc_id", "text", k, w,
      minShared)(later.take(1).toDF("doc_id", "text"), 2L)
    def adm(b: String): Seq[Long] =
      Sinks.readAppendOnce(spark, s"$b/out").get
        .select($"doc_id").as[Long].collect().toSeq.sorted
    assert(adm(capBase) == Seq(0L, 3L, 10L),
      s"over-cap postings must stop contributing evidence: ${adm(capBase)}")
    assert(adm(unBase) == Seq(0L, 10L),
      s"the uncapped twin must still suppress the arrival: ${adm(unBase)}")
  }

  test("streaming CDC chunk dedup suppression: shifted copy caught, index == batch chunks, compaction fold") {
    // cdcDedupSuppressWriter drops an arrival sharing >= minShared
    // distinct CDC chunk hashes with an admitted doc — shift-robust
    // BLOCK evidence: doc 3 re-ships doc 0's body behind an inserted
    // prefix, so once the first content-defined cut inside the common
    // region realigns them, every later chunk hash matches verbatim
    // (fixed-offset chunking would see nothing aligned — the q287
    // boundary theorem at ingest).
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Curation
    val body = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra " +
      "tango uniform victor whiskey xray yankee zulu one two three four " +
      "five six seven eight nine ten eleven twelve thirteen fourteen"
    val (cw, den, minShared) = (8, 16, 2)
    val corpus = Seq(
      0L -> s"original document body: $body",
      2L -> "completely unrelated content about spark plans and shuffles")
    val later = Seq(
      3L -> s"INSERTED PREFIX SHIFTING EVERYTHING $body",
      4L -> "fresh unrelated arrival about broadcast joins and skew work")
    // precondition guards (asserted, not assumed): the shifted copy
    // shares >= minShared distinct chunk hashes with doc 0 under
    // (cw, den), and no unrelated pair does
    def chunkSets(docs: Seq[(Long, String)]): Map[Long, Set[String]] =
      Curation.cdcChunks(docs.toDF("doc_id", "text"), "doc_id", "text",
          cw, den)
        .select($"doc_id", $"chunk_md5").distinct()
        .as[(Long, String)].collect().toSeq
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val sets = chunkSets(corpus ++ later)
    assert((sets(0L) & sets(3L)).size >= minShared,
      s"fixture must share chunks across the shift: ${(sets(0L) & sets(3L)).size}")
    for (u <- Seq(2L, 4L); v <- sets.keys if v != u)
      assert((sets(u) & sets(v)).size < minShared,
        s"unrelated docs $u/$v must stay below the threshold")
    val base = Files.createTempDirectory("cdcdedup").toString
    val (indexDir, outDir) = (s"$base/index", s"$base/out")
    val writer = StreamPipeline.cdcDedupSuppressWriter(
      indexDir, outDir, "doc_id", "text", cw, den, minShared)
    def admitted(): Seq[Long] =
      Sinks.readAppendOnce(spark, outDir).get
        .select($"doc_id").as[Long].collect().toSeq.sorted
    writer(corpus.toDF("doc_id", "text"), 0L)
    assert(admitted() == Seq(0L, 2L), s"batch 0: ${admitted()}")
    // batch 1: doc 3 shares the realigned chunks with ADMITTED doc 0 →
    // suppressed against the persisted index; doc 4 unrelated → admitted
    writer(later.toDF("doc_id", "text"), 1L)
    assert(admitted() == Seq(0L, 2L, 4L),
      s"shifted copy must suppress cross-batch: ${admitted()}")
    // stream == batch chunk equality: admitted docs' index rows are
    // EXACTLY the batch operator's distinct (id, chunk_md5) projection
    // over the same docs (id-ordered batches, so arrival order = id
    // order and the writer's keep-first matches the batch rule)
    val idxRows = spark.read
      .parquet(s"$indexDir/batch-000000", s"$indexDir/batch-000001")
      .select($"doc_id", $"band_hash").as[(Long, String)]
      .collect().toSet
    val admittedDocs = (corpus ++ later).filter(d => Set(0L, 2L, 4L)(d._1))
    val batchRows = chunkSets(admittedDocs).toSeq
      .flatMap { case (k, v) => v.toSeq.map(k -> _) }.toSet
    assert(idxRows == batchRows,
      s"index must equal batch chunks: ${idxRows.size} vs ${batchRows.size}")
    // compaction folds the two deltas into a promoted base generation;
    // suppression continues against the folded index
    assert(StreamPipeline.compactNearDupIndex(spark, indexDir, outDir) == 2)
    writer(Seq(
        5L -> s"yet another wrapper before $body",
        6L -> "genuinely novel closing arrival about catalyst rules")
      .toDF("doc_id", "text"), 2L)
    assert(admitted() == Seq(0L, 2L, 4L, 6L),
      s"post-compaction re-ship must still suppress: ${admitted()}")
  }

  test("streaming substring SCRUB: two-batch replay == batch q273, cross-batch excision") {
    // substringScrubWriter TRANSFORMS arrivals (hash hit -> excise)
    // instead of dropping them — the third suppression semantics. The
    // pin: an id-ordered two-batch replay must equal the batch
    // operator's output ROW-FOR-ROW (same cleaned text hashes), because
    // within-batch the rule is the (id, pos)-packed first occurrence
    // and across batches arrival order IS id order here.
    implicit val sqlCtx = spark.sqlContext
    val boiler = "this exact license header repeats verbatim in many files"
    val x = "a sentence long enough to exceed the window width by a fair margin indeed"
    val b0 = Seq(
      0L -> s"alpha opening words $boiler and then unique tail zero",
      1L -> s"beta different start $boiler with other ending one",
      2L -> "entirely novel content with no repeated forty character window at all in it")
    val b1 = Seq(
      3L -> x,                // fresh content, first occurrence: kept
      4L -> x,                // within-batch exact copy: scrubbed empty
      5L -> s"gamma third copy $boiler of the admitted header",  // cross-batch hit
      6L -> (x + " plus a wholly distinct continuation that nobody else shares"))
    val width = 40
    val base = Files.createTempDirectory("sscrub").toString
    val (indexDir, outDir) = (s"$base/index", s"$base/out")
    val writer = StreamPipeline.substringScrubWriter(
      indexDir, outDir, "doc_id", "text", width)
    writer(b0.toDF("doc_id", "text"), 0L)
    writer(b1.toDF("doc_id", "text"), 1L)
    val streamed = Sinks.readAppendOnce(spark, outDir).get
      .select($"doc_id", md5($"text").as("clean_md5"), $"n_spans_removed",
        $"chars_removed")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    val batch = graft.operators.Dedup.substringDedup(
        (b0 ++ b1).toDF("doc_id", "text"), "doc_id", "text", width)
      .select($"doc_id", $"clean_md5", $"n_spans_removed", $"chars_removed")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(streamed == batch,
      s"id-ordered two-batch replay must equal batch q273:\n$streamed\nvs\n$batch")
    // the semantics themselves, not just equivalence: the cross-batch
    // copy of the admitted boilerplate is excised (doc 5 lost chars),
    // the within-batch copy cleans to EMPTY, and doc 6's contained
    // prefix is excised while its unique suffix survives
    val byId = streamed.map(r => r._1 -> r).toMap
    assert(byId(4L)._4 == x.length.toLong && byId(4L)._2 == md5hexJvm(""),
      s"within-batch exact copy must scrub to empty: ${byId(4L)}")
    assert(byId(5L)._4 >= boiler.length.toLong,
      s"cross-batch boilerplate hit must excise: ${byId(5L)}")
    assert(byId(6L)._4 == x.length.toLong,
      s"contained prefix must excise, suffix survive: ${byId(6L)}")
    assert(byId(3L)._4 == 0L, s"first occurrence kept whole: ${byId(3L)}")
    // crash-safety marker: replaying a committed batch id is a no-op
    writer(Seq(99L -> (x + x)).toDF("doc_id", "text"), 1L)
    assert(Sinks.readAppendOnce(spark, outDir).get
        .filter($"doc_id" === 99L).count() == 0L,
      "replayed batch id must be a no-op")
    // the index rides the shared lifecycle: compaction folds the two
    // deltas into a promoted base and the occupancy probe reads it
    // (posting length per window hash — band_idx 0 by construction).
    // The boilerplate-heavy fixture (docs 0 and 1 both carry `boiler`,
    // so its window hashes have posting length 2) must trip the WARN
    // at threshold 2 — with the SUBSTRING hint, not the band-widening
    // advice that doesn't apply to a hash-hit-excise index (round-15
    // verdict #5: hot window hash = boilerplate to excise, the
    // threshold guards excise-join fan-out, not band saturation)
    val errBuf = new java.io.ByteArrayOutputStream()
    val folded = Console.withErr(new java.io.PrintStream(errBuf, true, "UTF-8")) {
      StreamPipeline.compactNearDupIndex(spark, indexDir, outDir,
        warnBucketAt = 2, warnHint = StreamPipeline.SubstringOccupancyHint)
    }
    assert(folded == 2, s"expected 2 deltas folded, got $folded")
    val err = errBuf.toString("UTF-8")
    assert(err.contains("WARN") && err.contains("boilerplate") &&
        !err.contains("wider bands"),
      s"boilerplate-heavy substring index must WARN with the excise hint: $err")
    val stats = StreamPipeline.nearDupIndexStats(spark, indexDir, outDir)
      .as[(Int, Long, Long, Long, Double)].collect()
    assert(stats.length == 1 && stats(0)._1 == 0 && stats(0)._2 > 0,
      s"occupancy probe must see the folded wh index: ${stats.toSeq}")
  }

  private def md5hexJvm(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("seeded substring index: benchmark text excised AT INGEST (streaming decontamination)") {
    // seedSubstringIndex = q282's decontamination as a stream property:
    // the bench window set lands as a promoted base generation, so the
    // scrub writer treats eval text as already-admitted and excises a
    // verbatim quote from every arrival — before the doc ever lands
    implicit val sqlCtx = spark.sqlContext
    val benchPara = "the canonical benchmark question about the seven " +
      "bridges of koenigsberg appears here verbatim"
    val base = Files.createTempDirectory("sseed").toString
    val (indexDir, outDir) = (s"$base/index", s"$base/out")
    StreamPipeline.seedSubstringIndex(spark, indexDir,
      Seq(0L -> s"intro $benchPara outro").toDF("doc_id", "text"),
      "doc_id", "text", width = 40)
    val writer = StreamPipeline.substringScrubWriter(
      indexDir, outDir, "doc_id", "text", width = 40)
    writer(Seq(
      100L -> s"leading text $benchPara trailing text",
      101L -> "wholly unrelated arrival content touching nothing benchmark shaped at all")
      .toDF("doc_id", "text"), 0L)
    val got = Sinks.readAppendOnce(spark, outDir).get
      .select($"doc_id", $"text", $"chars_removed")
      .as[(Long, String, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(100L)._3 >= benchPara.length.toLong &&
        !got(100L)._2.contains("koenigsberg"),
      s"the quoted benchmark must be excised at ingest: ${got(100L)}")
    assert(got(100L)._2.startsWith("leading text") &&
        got(100L)._2.endsWith("trailing text"),
      s"non-quoted content must survive: ${got(100L)}")
    assert(got(101L)._3 == 0L,
      s"an unrelated arrival lands untouched: ${got(101L)}")
    // the writer's OWN dedup semantics ride on top: a later arrival
    // duplicating doc 100's admitted (scrubbed) content is excised
    // against the delta like any in-corpus duplicate
    writer(Seq(102L -> s"leading text $benchPara trailing text")
      .toDF("doc_id", "text"), 1L)
    val got2 = Sinks.readAppendOnce(spark, outDir).get
      .filter($"doc_id" === 102L)
      .select(length(trim($"text"))).as[Long].head()
    assert(got2 == 0L,
      s"a full duplicate of an admitted arrival must scrub to empty, got len $got2")
    // the seed survives compaction (folds like any base generation)
    StreamPipeline.compactNearDupIndex(spark, indexDir, outDir)
    writer(Seq(103L -> s"prefix $benchPara suffix").toDF("doc_id", "text"), 2L)
    val got3 = Sinks.readAppendOnce(spark, outDir).get
      .filter($"doc_id" === 103L).select($"text").as[String].head()
    assert(!got3.contains("koenigsberg"),
      s"post-compaction arrivals must still decontaminate: '$got3'")
    // seeding is create-time only: a second seed must refuse
    val e = intercept[IllegalArgumentException] {
      StreamPipeline.seedSubstringIndex(spark, indexDir,
        Seq(1L -> "more bench").toDF("doc_id", "text"), "doc_id", "text", 40)
    }
    assert(e.getMessage.contains("fresh index"), e.getMessage)
  }

  test("seeded winnow index: an EDITED benchmark quote dropped at ingest (fuzzy decontamination)") {
    // seedWinnowIndex = the decontamination ladder's FUZZY rung as a
    // stream property: the substring seeder is blind to an edited
    // quote (one changed token breaks every 40-char window crossing
    // it); the winnow seed catches it — any unbroken shared run of
    // >= k+w-1 tokens guarantees a shared fingerprint (q269 theorem)
    implicit val sqlCtx = spark.sqlContext
    // 27 three-char tokens: unbroken runs between edits stay >= 7
    // tokens (fingerprints guaranteed) but < 40 CHARS (every verbatim
    // window must cross an edit or the wrapper boundary — the
    // substring rung is provably blind, asserted below)
    val toks = (1 to 27).map(i => f"t$i%02d")
    val bench = toks.mkString(" ")
    val edited = toks.updated(8, "zz1").updated(17, "zz2").mkString(" ")
    val base = Files.createTempDirectory("wseed").toString
    val (indexDir, outDir) = (s"$base/index", s"$base/out")
    val (k, w, minShared) = (4, 4, 3)
    StreamPipeline.seedWinnowIndex(spark, indexDir,
      Seq(0L -> bench).toDF("doc_id", "text"), "doc_id", "text", k, w)
    // precondition 1: the substring rung really is blind to the edit
    // (no 40-char window of the edited text occurs verbatim in bench —
    // checked via the batch operator: zero chars excised)
    val blind = graft.operators.Dedup.substringDecontaminate(
        Seq(100L -> s"wrapper $edited tail").toDF("doc_id", "text"),
        Seq(0L -> bench).toDF("doc_id", "text"), "doc_id", "text", width = 40)
      .select($"chars_removed").as[Long].head()
    assert(blind == 0L,
      s"fixture broken: the verbatim rung must be blind to the edit ($blind)")
    // precondition 2: the fuzzy rung sees it — >= minShared distinct
    // shared fingerprints via the batch operator
    val flagged = graft.operators.Dedup.winnowDecontaminate(
        Seq(100L -> s"wrapper $edited tail").toDF("doc_id", "text"),
        Seq(0L -> bench).toDF("doc_id", "text"), "doc_id", $"text",
        k, w, minShared)
      .as[(Long, Long, Long)].collect()
    assert(flagged.map(_._1).toSeq == Seq(100L),
      s"fixture broken: batch winnow must flag the edited quote: ${flagged.toSeq}")
    val writer = StreamPipeline.winnowDedupSuppressWriter(
      indexDir, outDir, "doc_id", "text", k, w, minShared)
    writer(Seq(
      100L -> s"wrapper $edited tail",
      101L -> "wholly unrelated arrival content about spark joins and shuffles here")
      .toDF("doc_id", "text"), 0L)
    def admitted(): Seq[Long] =
      Sinks.readAppendOnce(spark, outDir).get
        .select($"doc_id").as[Long].collect().toSeq.sorted
    assert(admitted() == Seq(101L),
      s"the edited quote must be dropped at ingest, unrelated admitted: ${admitted()}")
    // the seed survives compaction (folds like any base generation)
    StreamPipeline.compactNearDupIndex(spark, indexDir, outDir)
    writer(Seq(102L -> s"other wrapper $edited different tail")
      .toDF("doc_id", "text"), 1L)
    assert(admitted() == Seq(101L),
      s"post-compaction arrivals must still drop: ${admitted()}")
    // scheme refusal: a seeded index pins (k, w) — a writer opened at a
    // drifted k must refuse by name, not silently admit everything
    val e = intercept[IllegalArgumentException] {
      StreamPipeline.winnowDedupSuppressWriter(
        indexDir, outDir, "doc_id", "text", k = 5, w = 4, minShared)(
        Seq(103L -> "any text at all for the refused batch").toDF("doc_id", "text"), 2L)
    }
    assert(e.getMessage.contains("k=4 w=4") && e.getMessage.contains("k=5 w=4"),
      e.getMessage)
    // seeding is create-time only: a second seed must refuse
    val e2 = intercept[IllegalArgumentException] {
      StreamPipeline.seedWinnowIndex(spark, indexDir,
        Seq(1L -> "more bench").toDF("doc_id", "text"), "doc_id", "text", k, w)
    }
    assert(e2.getMessage.contains("fresh index"), e2.getMessage)
  }

  test("suppression index scheme markers: mismatched reopen refuses loudly, matched proceeds") {
    // The `_bands` protocol generalized to every suppression writer
    // (round-16): persisted index hashes are only comparable under the
    // parameters they were derived with — a restarted stream with a
    // drifted width / (k, w) / (k, bands) / nBands would match NOTHING
    // and silently admit every duplicate. Each writer pins its scheme
    // in a create-only marker on first batch; a mismatched reopen must
    // THROW (naming both schemes), and a matched reopen must proceed.
    implicit val sqlCtx = spark.sqlContext
    // token-DISJOINT texts per id: the marker is what's under test, so
    // no batch may be suppressed as an actual duplicate of another
    def batch(ids: Long*) = ids.map(i =>
        i -> (0 until 24).map(j => s"tok${i}x$j").mkString(" "))
      .toDF("doc_id", "text")
    def refuse(msgBoth: Seq[String])(body: => Unit): Unit = {
      val e = intercept[IllegalArgumentException](body)
      msgBoth.foreach(m => assert(e.getMessage.contains(m),
        s"refusal must name '$m': ${e.getMessage}"))
    }
    // substring scrub: width IS the scheme (window md5s are width-keyed)
    locally {
      val b = Files.createTempDirectory("scheme_ss").toString
      val w40 = StreamPipeline.substringScrubWriter(
        s"$b/i", s"$b/o", "doc_id", "text", width = 40)
      w40(batch(0L), 0L)
      assert(graft.io.Fs.readText(spark, s"$b/i/_scheme").trim ==
        "substring width=40")
      refuse(Seq("width=40", "width=20")) {
        StreamPipeline.substringScrubWriter(
          s"$b/i", s"$b/o", "doc_id", "text", width = 20)(batch(1L), 1L)
      }
      w40(batch(2L), 2L) // matched reopen proceeds
      assert(Sinks.readAppendOnce(spark, s"$b/o").get.count() == 2L)
    }
    // winnow: (k, w) key the fingerprints; minShared/maxPosting are
    // read-side policy (the posting-cap A/B above reopens one index
    // under different thresholds BY DESIGN) and must NOT refuse
    locally {
      val b = Files.createTempDirectory("scheme_wn").toString
      val w = StreamPipeline.winnowDedupSuppressWriter(
        s"$b/i", s"$b/o", "doc_id", "text", k = 4, w = 4, minShared = 3)
      w(batch(0L), 0L)
      assert(graft.io.Fs.readText(spark, s"$b/i/_scheme").trim ==
        "winnow k=4 w=4")
      refuse(Seq("k=4 w=4", "k=5 w=4")) {
        StreamPipeline.winnowDedupSuppressWriter(
          s"$b/i", s"$b/o", "doc_id", "text", k = 5, w = 4,
          minShared = 3)(batch(1L), 1L)
      }
      StreamPipeline.winnowDedupSuppressWriter( // policy retune: allowed
        s"$b/i", s"$b/o", "doc_id", "text", k = 4, w = 4,
        minShared = 5)(batch(2L), 2L)
      assert(Sinks.readAppendOnce(spark, s"$b/o").get.count() == 2L)
    }
    // cdc: (w, den) key BOTH the boundaries and the chunk hashes;
    // minShared/maxPosting are read-side policy and must NOT refuse
    locally {
      val b = Files.createTempDirectory("scheme_cdc").toString
      val w = StreamPipeline.cdcDedupSuppressWriter(
        s"$b/i", s"$b/o", "doc_id", "text") // w=8 den=64
      w(batch(0L), 0L)
      assert(graft.io.Fs.readText(spark, s"$b/i/_scheme").trim ==
        "cdc w=8 den=64")
      refuse(Seq("den=64", "den=32")) {
        StreamPipeline.cdcDedupSuppressWriter(
          s"$b/i", s"$b/o", "doc_id", "text", den = 32)(batch(1L), 1L)
      }
      StreamPipeline.cdcDedupSuppressWriter( // policy retune: allowed
        s"$b/i", s"$b/o", "doc_id", "text", minShared = 5)(batch(2L), 2L)
      assert(Sinks.readAppendOnce(spark, s"$b/o").get.count() == 2L)
    }
    // minhash LSH: (scheme, k, bands) key the band hashes
    locally {
      val b = Files.createTempDirectory("scheme_mh").toString
      val w = StreamPipeline.nearDupSuppressWriter(
        s"$b/i", s"$b/o", "doc_id", "text", k = 16, bands = 4)
      w(batch(0L), 0L)
      assert(graft.io.Fs.readText(spark, s"$b/i/_scheme").trim ==
        "minhash-lcg k=16 bands=4")
      refuse(Seq("bands=4", "bands=2")) {
        StreamPipeline.nearDupSuppressWriter(
          s"$b/i", s"$b/o", "doc_id", "text", k = 16, bands = 2)(batch(1L), 1L)
      }
      w(batch(2L), 2L)
      assert(Sinks.readAppendOnce(spark, s"$b/o").get.count() == 2L)
    }
    // sketch family (`_bands`, pre-existing marker, now refusal-pinned):
    // the embedding writer exercises it without a codec in the loop
    locally {
      val b = Files.createTempDirectory("scheme_sk").toString
      def vecs(ids: Long*) = ids.map(i =>
          i -> Array.tabulate(64)(j => if ((j + i) % 3 == 0) 1f else -1f))
        .toDF("vec_id", "embedding")
      val w = StreamPipeline.embeddingDedupSuppressWriter(
        s"$b/i", s"$b/o", "vec_id", "embedding") // nBands = 4
      w(vecs(0L), 0L)
      refuse(Seq("'4'", "'8'")) {
        StreamPipeline.embeddingDedupSuppressWriter(
          s"$b/i", s"$b/o", "vec_id", "embedding",
          maxDist = 7, nBands = 8)(vecs(1L), 1L)
      }
      w(vecs(2L), 2L)
      assert(Sinks.readAppendOnce(spark, s"$b/o").get.count() == 2L)
    }
  }

  test("streaming EMBEDDING dedup suppression: sign-SimHash bands, no codec slot") {
    // embeddingDedupSuppressWriter = sketchDedupSuppressWriter with a
    // PURE-EXPRESSION sketch (bit i = v[i] > 0) — no codec slot at
    // all, the sharpest proof the suppression core is modality-
    // generic. Vectors constructed so sign distances are theorems:
    // a positive scaling never flips a sign (gain twin, d = 0); two
    // flipped dims give d = 2 <= 3 (suppressed); 24 flips confined to
    // dims 16..39 leave band 0 COLLIDING while d = 24 >> 3 — the
    // verify stage must admit exactly there.
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("embdedup").toString
    val (indexDir, outDir) = (s"$base/index", s"$base/out")
    val writer = StreamPipeline.embeddingDedupSuppressWriter(
      indexDir, outDir, "vec_id", "embedding")
    // deterministic sign pattern: dim i of the base vector is positive
    // iff i % 3 == 0 (magnitudes vary to rule out value-equality luck)
    def v(flips: Set[Int], scale: Float = 1f): Array[Float] =
      Array.tabulate(64) { i =>
        val s = if ((i % 3 == 0) ^ flips(i)) 1f else -1f
        s * scale * (1f + i * 0.01f)
      }
    val rows = Seq(
      (0L, v(Set.empty)),            // base
      (1L, v(Set.empty, scale = 2f)), // gain twin: d = 0
      (3L, v((16 until 40).toSet)),  // band-0 collider at d = 24
      (2L, v(Set(5, 40))))           // near-dup edit: d = 2
    def admitted(): Seq[Long] =
      Sinks.readAppendOnce(spark, outDir).get
        .select($"vec_id").as[Long].collect().toSeq.sorted
    // batch 0: twin suppressed within-batch; band-colliding far vector
    // must survive the exact-Hamming verify
    writer(rows.take(3).toDF("vec_id", "embedding"), 0L)
    assert(admitted() == Seq(0L, 3L),
      s"gain twin suppressed, band collider verify-admitted: ${admitted()}")
    // batch 1: the 2-flip edit suppresses against the PERSISTED index
    writer(rows.drop(3).toDF("vec_id", "embedding"), 1L)
    assert(admitted() == Seq(0L, 3L),
      s"2-flip near-dup suppressed cross-batch: ${admitted()}")
    // the index carries the wide-band scheme marker (the q261 regime)
    assert(graft.io.Fs.readText(spark, s"$indexDir/_bands").trim == "4")
  }

  test("near-dup index occupancy telemetry: per-band stats + compaction WARN") {
    // The saturation point of the ingest filters is DECLARED in their
    // docs (round-14); this pins the probe that makes it OBSERVABLE:
    // every admitted image contributes exactly one index entry per
    // band, so n_entries per band == the admitted count, and the stats
    // survive compaction unchanged (one generation, same rows). The
    // compaction WARN fires once any bucket crosses the threshold.
    implicit val sqlCtx = spark.sqlContext
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val base = Files.createTempDirectory("imgstats").toString
    val (indexDir, outDir) = (s"$base/index", s"$base/out")
    val writer = StreamPipeline.imageDedupSuppressWriter(
      indexDir, outDir, "media_id", "content", maxDist = 3, nBands = 4)
    val png = graft.multimodal.Multimodal.encodeVariantPngs(
        Seq(0L, 3L, 4L, 9L, 24L).toDF("doc_id"), "doc_id")
      .as[(Long, Array[Byte])].collect().toMap
    writer(Seq((0L, png(0L)), (3L, png(3L)), (4L, png(4L)))
      .toDF("media_id", "content"), 0L) // 4 suppressed (twin of 3)
    writer(Seq((9L, png(9L)), (24L, png(24L)))
      .toDF("media_id", "content"), 1L) // both admitted (far/verify)
    val stats = StreamPipeline.nearDupIndexStats(spark, indexDir, outDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(stats.map(_._1).toSeq == Seq(0, 1, 2, 3), s"4 bands: ${stats.toSeq}")
    stats.foreach { case (bi, entries, buckets, maxB, avgB) =>
      assert(entries == 4L, s"band $bi: one entry per admitted image: $entries")
      // ids 9 and 24 share a 16-bit band (sources 3/8, band 2) — that
      // band has a 2-bucket; every other band has 4 singletons
      if (bi == 2) assert(maxB == 2L && buckets == 3L, s"band 2: ($buckets, $maxB)")
      else assert(maxB == 1L && buckets == 4L, s"band $bi: ($buckets, $maxB)")
      assert(avgB == math.rint(entries.toDouble / buckets * 10000) / 10000,
        s"band $bi avg: $avgB")
    }
    // compaction folds the two deltas into generation 0, warns past the
    // threshold (1 forces it here), and leaves the stats IDENTICAL
    val buf = new java.io.ByteArrayOutputStream()
    val folded = Console.withErr(new java.io.PrintStream(buf, true, "UTF-8")) {
      StreamPipeline.compactNearDupIndex(spark, indexDir, outDir, warnBucketAt = 1)
    }
    assert(folded == 2, s"two deltas folded: $folded")
    assert(buf.toString("UTF-8").contains("WARN"),
      s"threshold 1 must trip the saturation warning: ${buf.toString("UTF-8").take(200)}")
    val after = StreamPipeline.nearDupIndexStats(spark, indexDir, outDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(after.toSeq == stats.toSeq,
      s"stats must survive compaction unchanged: ${after.toSeq} vs ${stats.toSeq}")
    // an empty index reports an empty frame, not a crash
    assert(StreamPipeline.nearDupIndexStats(spark, s"$base/none", s"$base/none2")
      .isEmpty)
  }

  test("streamed basket pair supports == batch q250 pair stage; snapshots are versioned") {
    // The q250 streaming twin (VERDICT r13 #5): per-order distinct
    // brand set as enum-bounded value state; each (order, ba<bb) pair
    // emitted exactly once — across duplicated lines, shuffled arrival
    // order, and batch splits — so the grouped count over emissions
    // equals the batch distinct-basket pair support EXACTLY, and the
    // per-batch snapshots form a monotone version chain.
    val prevProvider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val dir = sf("sf0.001")
      // q250's basket frame: raw order lines → brand, duplicates KEPT
      // (the stream must collapse them via state, as the batch stage
      // collapses them via DISTINCT)
      val lines = Tables(spark, dir, "lineitem")
        .select($"l_orderkey", $"l_partkey")
        .join(broadcast(Tables(spark, dir, "part")
          .select($"p_partkey", $"p_brand")), $"l_partkey" === $"p_partkey")
        .select($"l_orderkey".as("ok"), $"p_brand".as("b"))
      val batch = lines.distinct()
        .as("x").join(lines.distinct().as("y"), Seq("ok"))
        .filter($"x.b" < $"y.b")
        .groupBy($"x.b".as("ba"), $"y.b".as("bb"))
        .agg(count(lit(1)).as("supp"))
        .as[(String, String, Long)].collect().toSeq.sorted
      assert(batch.nonEmpty, "fixture sanity: some brand pairs must exist")
      // shuffled feed: an order's lines land in DIFFERENT batches
      val feed = new scala.util.Random(42).shuffle(
        lines.as[(Long, String)].collect().toSeq)
      val stream = MemoryStream[(Long, String)]
      val q = StreamPipeline.basketPairsStream(stream.toDS())
        .toDF("ok", "ba", "bb")
        .writeStream.format("memory").queryName("bps")
        .outputMode("append")
        .option("checkpointLocation",
          Files.createTempDirectory("bps_ck").toString)
        .start()
      // versioned snapshots: after each batch, the support table is a
      // superset of the previous version (supports only grow)
      var prev = Map.empty[(String, String), Long]
      feed.grouped(feed.size / 3 + 1).foreach { ch =>
        stream.addData(ch: _*)
        q.processAllAvailable()
        val snap = spark.table("bps").groupBy($"ba", $"bb")
          .agg(count(lit(1)).as("supp"))
          .as[(String, String, Long)].collect()
          .map(r => (r._1, r._2) -> r._3).toMap
        prev.foreach { case (k, n) =>
          assert(snap.getOrElse(k, 0L) >= n,
            s"pair support regressed across versions: $k $n -> ${snap.get(k)}")
        }
        prev = snap
      }
      q.stop()
      val streamed = prev.toSeq.map { case ((a, b), n) => (a, b, n) }.sorted
      assert(streamed == batch,
        s"streamed basket supports diverged from batch q250 pair stage " +
          s"(${streamed.size} vs ${batch.size} pairs; first: " +
          s"${streamed.take(3)} vs ${batch.take(3)})")
      // enum-bound contract: an order exceeding maxBrands distinct
      // brands must kill the query loudly, not grow state silently
      val stream2 = MemoryStream[(Long, String)]
      val q2 = StreamPipeline.basketPairsStream(stream2.toDS(), maxBrands = 2)
        .toDF("ok", "ba", "bb")
        .writeStream.format("memory").queryName("bps2")
        .outputMode("append")
        .option("checkpointLocation",
          Files.createTempDirectory("bps_ck2").toString)
        .start()
      stream2.addData((1L, "A"), (1L, "B"))
      q2.processAllAvailable()
      stream2.addData((1L, "C")) // third distinct brand: over the cap
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(ex.getMessage.contains("enum-bounded"),
        s"over-cap basket must fail loudly: ${ex.getMessage.take(200)}")
      q2.stop()
    } finally {
      prevProvider match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("multi-step funnel stream == literal k-step replay == batch q256 histogram") {
    // The k-step timer funnel (VERDICT r13 #7): view → click → purchase
    // with a 24h window per transition, timers RE-ARMED per stage and
    // stale expirations disarmed by deadline comparison. Pinned two
    // independent ways: per-user outcomes against a literal driver-side
    // fold of the k-step rule, and the outcome histogram against the
    // registered batch q256 (which reaches the same stages through
    // range-join min-aggregates, not a fold).
    val prevProvider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val dir = sf("sf0.001")
      val winUs = 24L * 3600 * 1000000
      val ev = Tables(spark, dir, "events")
        .select($"user_id".cast("string"),
          unix_micros($"ts".cast("timestamp")), $"event_type")
        .as[(String, Long, String)].collect().sortBy(_._2)
      // literal k-step rule: first view anchors; each stage advances on
      // the FIRST qualifying next-step event inside its window
      val want = ev.groupBy(_._1).flatMap { case (u, rows) =>
        rows.filter(_._3 == "view").map(_._2).minOption.map { t0 =>
          val t1 = rows.filter(r => r._3 == "click" &&
            r._2 > t0 && r._2 <= t0 + winUs).map(_._2).minOption
          val t2 = t1.flatMap(a => rows.filter(r => r._3 == "purchase" &&
            r._2 > a && r._2 <= a + winUs).map(_._2).minOption)
          val stages = if (t2.isDefined) 2 else if (t1.isDefined) 1 else 0
          (u, t0, stages, t2.map(_ - t0).getOrElse(-1L))
        }
      }.toSeq.sorted
      assert(Set(0, 1, 2).subsetOf(want.map(_._3).toSet),
        s"fixture sanity: need all three outcomes, got ${want.map(_._3).distinct}")
      val stream = MemoryStream[(String, Long, String)]
      val q = StreamPipeline.funnelStepsStream(
          stream.toDF().toDF("user_id", "ts_us", "event_type")
            .withColumn("ts", expr("timestamp_micros(ts_us)")),
          "ts", "1 minute",
          steps = Seq("view", "click", "purchase"),
          windowsUs = Seq(winUs, winUs))
        .toDF("user", "t0_us", "stages", "lag_us")
        .writeStream.format("memory").queryName("fsq")
        .outputMode("append")
        .option("checkpointLocation",
          Files.createTempDirectory("fs_ck").toString)
        .start()
      ev.grouped(ev.length / 3 + 1).foreach { ch =>
        stream.addData(ch.toSeq: _*)
        q.processAllAvailable()
      }
      // two sentinel batches: advance the watermark past every possible
      // deadline, then give the timers a batch to fire in
      val far = ev.map(_._2).max + 8 * winUs
      stream.addData(("__wm", far, "view")); q.processAllAvailable()
      stream.addData(("__wm2", far + 1, "view")); q.processAllAvailable()
      q.stop()
      val got = spark.table("fsq")
        .filter(!$"user".startsWith("__wm"))
        .select($"user", $"t0_us", $"stages", $"lag_us")
        .as[(String, Long, Int, Long)].collect().toSeq.sorted
      assert(got == want,
        s"streamed k-step outcomes diverged (${got.size} vs ${want.size}; " +
          s"first: ${got.take(3)} vs ${want.take(3)})")
      // full completions carry the true view→purchase lag, partials −1
      assert(got.forall { case (_, _, st, l) =>
        if (st == 2) l > 0 && l <= 2 * winUs else l == -1L },
        "lag contract broke")
      // independent cross-check: the outcome histogram equals batch
      // q256's range-join construction on the same fixture
      val wantHist = want.groupBy(_._3).map { case (st, rows) =>
        (st, rows.size.toLong,
          rows.map(r => if (st == 2) r._4 else 0L).sum)
      }.toSeq.sorted
      val q256 = graft.queries.Registry.queries("q256_funnel_steps")(spark, dir)
        .as[(Int, Long, Long)].collect().toSeq.sorted
      assert(q256 == wantHist,
        s"batch q256 histogram diverged from the literal rule: " +
          s"$q256 vs $wantHist")
    } finally {
      prevProvider match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("timer-driven funnel timeout matches the batch window semantics") {
    // transformWithState EVENT-TIME TIMERS: converted funnels emit on
    // the purchase row; unconverted ones emit ONLY when the watermark
    // passes t0+window and handleExpiredTimer fires — the outcome an
    // append query cannot produce (absence of an event is not an
    // event). Pinned against a literal driver-side replay of q247's
    // window rule on the same events.
    val prevProvider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val dir = sf("sf0.001")
      val winUs = 24L * 3600 * 1000000
      val ev = Tables(spark, dir, "events")
        .select($"user_id".cast("string"),
          unix_micros($"ts".cast("timestamp")), $"event_type")
        .as[(String, Long, String)].collect().sortBy(_._2)
      // definitional replay of the q247 rule: first view t0; converted
      // iff some purchase lands in (t0, t0 + 24h]
      val want = ev.groupBy(_._1).flatMap { case (u, rows) =>
        rows.filter(_._3 == "view").map(_._2).minOption.map { t0 =>
          val conv = rows.exists(r => r._3 == "purchase" &&
            r._2 > t0 && r._2 <= t0 + winUs)
          (u, t0, if (conv) 1 else 0)
        }
      }.toSeq.sorted
      assert(want.exists(_._3 == 1) && want.exists(_._3 == 0),
        s"fixture sanity: need both outcomes, got ${want.count(_._3 == 1)} conv")
      val stream = MemoryStream[(String, Long, String)]
      val q = StreamPipeline.funnelTimeoutStream(
          stream.toDF().toDF("user_id", "ts_us", "event_type")
            .withColumn("ts", expr("timestamp_micros(ts_us)")),
          "ts", "1 minute", winUs)
        .toDF("user", "t0_us", "converted", "lag_us")
        .writeStream.format("memory").queryName("funq")
        .outputMode("append")
        .option("checkpointLocation",
          Files.createTempDirectory("fun_ck").toString)
        .start()
      ev.grouped(ev.length / 3 + 1).foreach { ch =>
        stream.addData(ch.toSeq: _*)
        q.processAllAvailable()
      }
      // two sentinel batches: the first advances the watermark past
      // every deadline, the second gives the timers a batch to fire in
      val far = ev.map(_._2).max + 4 * winUs
      stream.addData(("__wm", far, "view")); q.processAllAvailable()
      stream.addData(("__wm2", far + 1, "view")); q.processAllAvailable()
      q.stop()
      val got = spark.table("funq")
        .filter(!$"user".startsWith("__wm"))
        .select($"user", $"t0_us", $"converted")
        .as[(String, Long, Int)].collect().toSeq.sorted
      assert(got == want,
        s"streamed funnel outcomes diverged (${got.size} vs ${want.size}; " +
          s"first: ${got.take(3)} vs ${want.take(3)})")
      // converted rows carry the true in-window lag; timeouts carry -1
      val lags = spark.table("funq").filter(!$"user".startsWith("__wm"))
        .select($"converted", $"lag_us").as[(Int, Long)].collect()
      assert(lags.forall { case (c, l) =>
        if (c == 1) l > 0 && l <= winUs else l == -1L },
        s"lag contract broke: ${lags.take(5).toSeq}")
    } finally {
      prevProvider match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streamed Misra-Gries emits a tombstone when decrement-all empties the map") {
    // Without the tombstone, a latest-wins sink (max version) would keep
    // serving batch 1's counters after batch 2 emptied them — the empty
    // snapshot must still carry a row for its version to win.
    val prevProvider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val stream = MemoryStream[(String, String)]
      val q = StreamPipeline.mgTopKStream(stream.toDS(), k = 1)
        .toDF("key", "ver", "item", "cnt")
        .writeStream.format("memory").queryName("mgtomb")
        .outputMode("append")
        .option("checkpointLocation",
          Files.createTempDirectory("mg_tomb_ck").toString)
        .start()
      stream.addData(("events", "a")) // batch 1: {a: 1}
      q.processAllAvailable()
      // batch 2: 'b' decrements 'a' to 0 and is not inserted (classic
      // MG: a full map decrements instead of inserting) — map empty
      stream.addData(("events", "b"))
      q.processAllAvailable()
      q.stop()
      val v2 = spark.table("mgtomb").filter($"ver" === 2L)
        .select($"item", $"cnt").as[(String, Long)].collect()
      assert(v2.toSeq == Seq((null, 0L)),
        s"version 2 must be exactly the (null, 0) tombstone: ${v2.toSeq}")
      val v1 = spark.table("mgtomb").filter($"ver" === 1L)
        .select($"item", $"cnt").as[(String, Long)].collect()
      assert(v1.toSeq == Seq(("a", 1L)))
    } finally {
      prevProvider match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }
}
