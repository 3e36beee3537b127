package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.types._

import graft.io.{Sinks, Sources}

/** File source/sink coverage (S5/S6, K1-K5): schema-on-read CSV and
  * JSON lines — round trips preserving values. */
class IoSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("amount", DoubleType)))

  private lazy val df = Seq((1L, "alpha", 10.5), (2L, "beta,comma", -3.25),
    (3L, null.asInstanceOf[String], 0.0)).toDF("id", "name", "amount")

  test("CSV sink → schema'd CSV source round-trips values incl. quoting and nulls") {
    val dir = Files.createTempDirectory("csv_rt").toString + "/out"
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(dir)
    val back = Sources.csv(spark, dir, schema).orderBy($"id")
      .as[(Long, Option[String], Double)].collect()
    assert(back.toSeq == Seq((1L, Some("alpha"), 10.5),
      (2L, Some("beta,comma"), -3.25), (3L, None, 0.0)))
  }

  test("JSON-lines source reads Kafka-message-shaped fixtures with explicit schema") {
    val dir = Files.createTempDirectory("json_rt").toString + "/out"
    df.write.mode(SaveMode.Overwrite).json(dir)
    val back = Sources.jsonLines(spark, dir, schema).orderBy($"id")
      .as[(Long, Option[String], Double)].collect()
    assert(back.length == 3 && back(1)._2.contains("beta,comma"))
  }

  test("gzip-compressed JSONL and CSV round-trip transparently") {
    // 100 TB text stores are compressed; Spark's codec handling must be
    // invisible to the schema'd source factories (splittability differs
    // — gz is one stream per file — but values must not)
    val jd = Files.createTempDirectory("gz_rt").toString
    df.write.mode(SaveMode.Overwrite).option("compression", "gzip")
      .json(s"$jd/j")
    df.write.mode(SaveMode.Overwrite).option("compression", "gzip")
      .option("header", "true").csv(s"$jd/c")
    assert(Option(new java.io.File(s"$jd/j").listFiles).get
      .exists(_.getName.endsWith(".gz")), "json output must actually be gz")
    val jBack = Sources.jsonLines(spark, s"$jd/j", schema).orderBy($"id")
      .as[(Long, Option[String], Double)].collect().toSeq
    val cBack = Sources.csv(spark, s"$jd/c", schema).orderBy($"id")
      .as[(Long, Option[String], Double)].collect().toSeq
    val want = Seq((1L, Some("alpha"), 10.5),
      (2L, Some("beta,comma"), -3.25), (3L, None, 0.0))
    assert(jBack == want, s"json-gz: $jBack")
    assert(cBack == want, s"csv-gz: $cBack")
  }

  test("fit-metrics JSON-lines sink round-trips params, metrics and importances") {
    import graft.ml.{FareConfig, FareMetrics, FarePipeline}
    val path = Files.createTempDirectory("metrics").toString + "/runs.jsonl"
    val cfg = FareConfig("fare_amount", "pickup_timeofday",
      Seq("trip_distance"), numTrees = 30, maxDepth = 10)
    FarePipeline.appendMetrics(path, cfg,
      FareMetrics(1.5, 1.0, 0.9, 2.5, 2.0, 0.8,
        Seq("trip_distance" -> 0.7, "pickup_timeofday_0" -> 0.3)))
    FarePipeline.appendMetrics(path, cfg.copy(modelKind = "gbt"),
      FareMetrics(1.1, 0.9, 0.95, Double.NaN, 2.1, 0.85, Nil))
    val back = spark.read.json(path).orderBy($"model")
    val rows = back.select($"model", $"num_trees", $"test_rmse", $"train_rmse")
      .as[(String, Long, Option[Double], Double)].collect()
    assert(rows.length == 2)
    assert(rows(0) == (("gbt", 30L, None, 1.1)), "NaN slots must read back as null")
    assert(rows(1) == (("rf", 30L, Some(2.5), 1.5)))
    val imps = back.filter($"model" === "rf").select($"importances").collect()(0)
      .getSeq[scala.collection.Seq[Any]](0)
    assert(imps.map(_.head) == Seq("trip_distance", "pickup_timeofday_0"),
      s"importance order must persist: $imps")
  }

  test("jsonString escapes quote, backslash and control chars; Jackson reads it back") {
    val in = "a\"b\\c\td\r\n" + 1.toChar
    val out = Sinks.jsonString(in)
    assert(!out.exists(_ < ' '), s"raw control char left in $out")
    assert(new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(out, classOf[String]) == in)
  }

  test("promoteDir: failing build leaves no tmp; published target is never rebuilt") {
    import graft.io.Fs
    val dir = Files.createTempDirectory("promote").toString
    val path = s"$dir/layout"
    // a throwing build must clean its hidden tmp and publish nothing
    intercept[RuntimeException] {
      Fs.promoteDir(spark, path, "_SUCCESS") { tmp =>
        Fs.touch(spark, s"$tmp/partial")
        throw new RuntimeException("boom")
      }
    }
    assert(!Fs.exists(spark, path), "failed build must not publish")
    assert(new java.io.File(dir).listFiles.forall(
        f => !f.getName.startsWith(".layout.tmp")),
      "failed build leaked its hidden tmp dir")
    // successful publication
    Fs.promoteDir(spark, path, "_SUCCESS") { tmp =>
      Fs.writeText(spark, s"$tmp/v", "1")
      Fs.touch(spark, s"$tmp/_SUCCESS")
    }
    assert(Fs.readText(spark, s"$path/v") == "1")
    // the marker makes a re-promotion a no-op: the build must not even
    // run, and the published content must survive untouched
    Fs.promoteDir(spark, path, "_SUCCESS") { _ =>
      fail("build ran despite a published completeness marker")
    }
    assert(Fs.readText(spark, s"$path/v") == "1")
    // a TORN leftover (no marker) is cleared and rebuilt
    Fs.deleteRecursive(spark, s"$path/_SUCCESS")
    Fs.promoteDir(spark, path, "_SUCCESS") { tmp =>
      Fs.writeText(spark, s"$tmp/v", "2")
      Fs.touch(spark, s"$tmp/_SUCCESS")
    }
    assert(Fs.readText(spark, s"$path/v") == "2")
    // a build that forgets its own marker is MISWIRED and must refuse
    // at the source — publishing it would loop every future call
    // through a delete-and-rebuild of a permanently torn-looking dir
    val path2 = s"$dir/layout2"
    val e = intercept[java.io.IOException] {
      Fs.promoteDir(spark, path2, "_SUCCESS") { tmp =>
        Fs.writeText(spark, s"$tmp/v", "1") // no _SUCCESS touch
      }
    }
    assert(e.getMessage.contains("did not write its marker"), e.getMessage)
    assert(!Fs.exists(spark, path2), "miswired build must not publish")
  }

  private val storeTables = Seq("lineitem", "orders", "customer")

  /** A private copy of three sf0.001 tables: the Store tests move their
    * mtimes, which must not touch the shared testdata. */
  private def storeSources(): String = {
    val d = Files.createTempDirectory("store_src")
    storeTables.foreach(t => Files.copy(
      java.nio.file.Paths.get(sf("sf0.001"), s"$t.parquet"), d.resolve(s"$t.parquet")))
    d.toString
  }

  test("Store.dir builds once per key; a new mtime on ANY source table rebuilds") {
    import graft.io.Fs
    import graft.queries.Store
    val d = storeSources()
    var builds = 0
    def dir(): String = Store.dir(spark, d, storeTables, "probe") { tmp =>
      builds += 1
      Fs.touch(spark, s"$tmp/_SUCCESS")
    }
    val keys = scala.collection.mutable.ArrayBuffer(dir())
    try {
      assert(dir() == keys.head && builds == 1, "a published store must not rebuild")
      for ((t, i) <- storeTables.zipWithIndex) {
        val f = new java.io.File(s"$d/$t.parquet")
        assert(f.setLastModified(f.lastModified + 10000L))
        keys += dir()
        assert(keys.distinct.size == i + 2, s"touching $t must give a new key")
        assert(builds == i + 2, s"touching $t must rebuild the store")
        assert(Fs.exists(spark, s"${keys.last}/_SUCCESS"))
      }
    } finally keys.foreach(k => Fs.deleteRecursive(spark, new java.io.File(k).getParent))
  }

  test("Store.key is the multi-source form, one store dir under the root") {
    import graft.queries.Store
    val d = storeSources()
    Seq("lineitem" -> 1000000000000L, "orders" -> 1100000000000L,
        "customer" -> 1200000000000L).foreach { case (t, ms) =>
      assert(new java.io.File(s"$d/$t.parquet").setLastModified(ms))
    }
    val key = Store.key(d, storeTables, "trade_edges")
    val head = s"$d/lineitem.parquet".replaceAll("[^A-Za-z0-9._-]", "_")
    assert(key == s"/tmp/graft_layout/${head}_lineitem:1000000000000-" +
      "orders:1100000000000-customer:1200000000000/trade_edges")
    assert(new java.io.File(key).getParentFile.getParent == "/tmp/graft_layout")
  }
}
