package graft

import org.apache.spark.sql.functions._

import graft.operators.Relational

class RelationalOpsSpec extends SparkSpec {
  import spark.implicits._

  test("centsSum is exact under any partitioning") {
    val df = Seq.fill(1000)(0.01).toDF("x")
    val a = df.repartition(1).agg(Relational.centsSum($"x")).as[Long].collect()(0)
    val b = df.repartition(7).agg(Relational.centsSum($"x")).as[Long].collect()(0)
    assert(a == 1000L && b == 1000L, "0.01 x 1000 must be exactly 1000 cents")
  }

  test("topKByCount breaks ties deterministically") {
    val df = Seq("b", "b", "a", "a", "c").toDF("k")
    val top = Relational.topKByCount(df, Seq($"k"), 2).as[(String, Long)].collect()
    assert(top.toSeq == Seq(("a", 2L), ("b", 2L)), "equal counts -> ascending key order")
  }

  test("IQR filter keeps [Q1-1.5IQR, Q3+1.5IQR] and drops outliers") {
    val df = (Seq.tabulate(100)(_.toDouble) :+ 10000.0).toDF("x")
    val kept = Relational.iqrFilter(df, "x")
    assert(kept.count() == 100)
    assert(kept.agg(max($"x")).as[Double].collect()(0) == 99.0)
  }

  test("histogram covers min and max rows, buckets sum to row count") {
    val df = spark.range(101).select($"id".cast("double").as("x"))
    val h = Relational.histogram(df, "x", 10).as[(Long, Long)].collect().toMap
    assert(h.values.sum == 101)
    assert(h(0L) >= 1 && h(9L) >= 1, "max value must land in the last bucket, not bucket 10")
  }

  test("nullProfile counts per column in one pass") {
    val df = Seq((Some(1), Some("a")), (None, Some("b")), (Some(3), None))
      .toDF("i", "s")
    val row = Relational.nullProfile(df, Seq("i", "s")).collect()(0)
    assert(row.getLong(0) == 3 && row.getLong(1) == 1 && row.getLong(2) == 1)
  }

  test("argmaxPerGroup returns exactly one row per group with ties broken") {
    val df = Seq(("g1", 5, 1), ("g1", 5, 2), ("g2", 3, 9)).toDF("g", "v", "id")
    val out = Relational.argmaxPerGroup(df, $"g", $"v", $"id")
      .select($"g", $"id").as[(String, Int)].collect().toSet
    assert(out == Set(("g1", 1), ("g2", 9)))
  }

  test("saltedJoin equals the plain join on a skewed key distribution") {
    // 90% of probe rows share one hot key
    val probe = spark.range(1000)
      .select(when($"id" < 900, 7L).otherwise($"id").as("k"), $"id".as("v"))
    val build = spark.range(50).select($"id".as("bk"), ($"id" * 10).as("bv"))
    val plain = probe.join(build, probe("k") === build("bk"))
      .select($"v", $"bv").as[(Long, Long)].collect().toSet
    val saltedDf = Relational.saltedJoin(probe, build, "k", "bk", salt = 8)
    // the internal (nondeterministic) salt columns must not leak to output
    assert(!saltedDf.columns.contains("__salt"),
      s"__salt leaked: ${saltedDf.columns.mkString(",")}")
    val salted = saltedDf.select($"v", $"bv").as[(Long, Long)].collect().toSet
    assert(salted == plain)
    assert(plain.count(_._2 == 70L) == 900, "hot key rows all preserved")
  }

  test("approx summary tracks the exact one within sketch tolerance") {
    val df = spark.range(20000).select(($"id" % 1000).cast("double").as("x"))
    val exact = Relational.summaryStats(df, "x").collect()(0)
    val approx = Relational.summaryStatsApprox(df, "x").collect()(0)
    assert(approx.getAs[Long]("n") == exact.getAs[Long]("n"))
    val relErr = math.abs(approx.getAs[Long]("n_distinct_approx") - 1000.0) / 1000.0
    assert(relErr < 0.1, s"HLL relative error $relErr")
    assert(math.abs(approx.getAs[Double]("median") - exact.getAs[Double]("median")) <= 5.0)
  }

  test("P9 offset slice via row_number over an explicit order (fixture-only op)") {
    import org.apache.spark.sql.expressions.Window
    val df = spark.range(100).toDF("id")
    val sliced = df.withColumn("rn",
        row_number().over(Window.orderBy($"id")))
      .filter($"rn" > 90).drop("rn")
    assert(sliced.as[Long].collect().toSeq == (90L until 100L))
  }

  test("stratified sample (sampleBy) honors per-stratum fractions") {
    val df = spark.range(10000).select(
      (col("id") % 2 === 0).cast("string").as("k"), col("id"))
    val s = df.stat.sampleBy("k", Map("true" -> 0.5, "false" -> 0.1), 7L)
    val counts = s.groupBy("k").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(counts("true") - 2500.0) < 300, s"got ${counts("true")}")
    assert(math.abs(counts("false") - 500.0) < 200, s"got ${counts("false")}")
    // seeded -> deterministic within the engine
    val s2 = df.stat.sampleBy("k", Map("true" -> 0.5, "false" -> 0.1), 7L)
    assert(s2.count() == s.count())
  }

  test("P10 seeded exact-n sample is deterministic within the engine") {
    val df = spark.range(1000).toDF("id")
    def draw() = df.orderBy(rand(42), $"id").limit(5).as[Long].collect().toSeq
    val a = draw(); val b = draw()
    assert(a == b && a.length == 5 && a.distinct.length == 5)
  }

  test("P11 head/tail/limit(1)") {
    val df = spark.range(10).toDF("id")
    assert(df.limit(5).count() == 5)
    assert(df.orderBy($"id").tail(5).map(_.getLong(0)).toSeq == (5L until 10L))
    assert(df.orderBy($"id").limit(1).as[Long].collect()(0) == 0L)
  }

  test("summaryStats percentiles interpolate exactly") {
    val df = Seq(1.0, 2.0, 3.0, 4.0).toDF("x")
    val r = Relational.summaryStats(df, "x").collect()(0)
    assert(r.getAs[Double]("q1") == 1.75 && r.getAs[Double]("median") == 2.5 &&
      r.getAs[Double]("q3") == 3.25)
  }

  test("histogram-path quantiles are bit-identical to buffer-all percentile") {
    val rnd = new scala.util.Random(7)
    val cases = Seq(
      Seq(42.17),                                    // n = 1
      Seq(1.25, 7.50),                               // n = 2
      Seq(3.00, 3.00, 3.00, 3.00),                   // all ties
      Seq.fill(17)(math.floor(rnd.nextDouble() * 10000) / 100),  // small n
      Seq.fill(5000)(math.floor(rnd.nextDouble() * 1e6) / 100)   // dense + dups
    )
    val qs = Seq(0.25, 0.5, 0.75)
    cases.foreach { xs =>
      val df = xs.toDF("x")
      val fast = Relational.exactQuantilesQuantized(df, "x", qs)
        .as[(Double, Double, Double)].collect()(0)
      val exact = df
        .agg(percentile($"x", array(qs.map(lit): _*)))
        .as[Seq[Double]].collect()(0)
      assert(Seq(fast._1, fast._2, fast._3) == exact,
        s"n=${xs.length}: fast=$fast exact=$exact")
    }
  }

  test("multi-column quantiles equal buffer-all percentile per column") {
    // the q226 shape: three metrics with wildly different ranges and
    // distributions (negatives, ties, a wide-range column) through ONE
    // three-pass build — each column must equal Spark's exact
    // percentile value-for-value
    val rnd = new scala.util.Random(11)
    val df = Seq.tabulate(500)(i => (
      (i % 37).toDouble - 18.0,                       // ties + negatives
      math.floor(rnd.nextDouble() * 1e8) / 100,       // wide range
      if (i % 7 == 0) 3.0 else (i % 11).toDouble      // clumped
    )).toDF("a", "b", "c")
    val qs = Seq(0.2, 0.4, 0.6, 0.8)
    val multi = Relational.exactQuantilesQuantizedMulti(
      df, Seq("a", "b", "c"), qs).collect()(0)
    for (c <- Seq("a", "b", "c")) {
      val exact = df.agg(percentile(col(c), array(qs.map(lit): _*)))
        .as[Seq[Double]].collect()(0)
      qs.indices.foreach { i =>
        assert(multi.getAs[Double](s"${c}_p$i") == exact(i),
          s"$c p$i: multi=${multi.getAs[Double](s"${c}_p$i")} exact=${exact(i)}")
      }
    }
    // per-column nulls drop independently (a null in one metric must
    // not shift another metric's ranks)
    val withNulls = Seq[(Option[Double], Option[Double])](
      (Some(1.0), Some(10.0)), (None, Some(20.0)), (Some(3.0), None),
      (Some(2.0), Some(30.0))).toDF("a", "b")
    val m2 = Relational.exactQuantilesQuantizedMulti(
      withNulls, Seq("a", "b"), Seq(0.5)).collect()(0)
    assert(m2.getAs[Double]("a_p0") == 2.0 && m2.getAs[Double]("b_p0") == 20.0,
      s"null handling drifted: $m2")
  }

  test("domainBounded one-pass quantile path equals the three-pass path exactly") {
    // r18: the per-value-histogram path must be value-identical to the
    // re-scanning path in every regime (n=1, ties, dense dups, wide
    // range) and through the multi-column engine; strict mode must still
    // fail fast on sub-cent data through the histogram's folded max-err
    val rnd = new scala.util.Random(13)
    val qs = Seq(0.1, 0.25, 0.5, 0.75, 0.9)
    val cases = Seq(
      Seq(42.17),
      Seq(3.0, 3.0, 3.0, 3.0),
      Seq.fill(4000)(math.floor(rnd.nextDouble() * 1e6) / 100))
    cases.foreach { xs =>
      val df = xs.toDF("x")
      val a = Relational.exactQuantilesQuantized(df, "x", qs).collect()(0)
      val b = Relational.exactQuantilesQuantized(df, "x", qs,
        domainBounded = true).collect()(0)
      qs.indices.foreach(i => assert(
        a.getAs[Double](s"p$i") == b.getAs[Double](s"p$i"),
        s"n=${xs.length} p$i: 3-pass=${a.getAs[Double](s"p$i")} " +
          s"1-pass=${b.getAs[Double](s"p$i")}"))
    }
    val mdf = Seq.tabulate(300)(i =>
      ((i % 23).toDouble, math.floor(rnd.nextDouble() * 1e7) / 100))
      .toDF("a", "b")
    val m0 = Relational.exactQuantilesQuantizedMulti(mdf, Seq("a", "b"), qs)
      .collect()(0)
    val m1 = Relational.exactQuantilesQuantizedMulti(mdf, Seq("a", "b"), qs,
      domainBounded = true).collect()(0)
    for (c <- Seq("a", "b"); i <- qs.indices)
      assert(m0.getAs[Double](s"${c}_p$i") == m1.getAs[Double](s"${c}_p$i"),
        s"multi $c p$i drifted")
    val e = intercept[Exception] {
      Relational.exactQuantilesQuantized(Seq(1.001, 2.0).toDF("x"), "x",
        Seq(0.5), strict = true, domainBounded = true).collect()
    }
    assert(e.getMessage.contains("not 100-quantized"), e.getMessage)
  }

  test("quantile bucket width adapts to a wide value range (bounded coarse histogram)") {
    // range spans ~1e10 cents; fixed W=1024 would make a ~1e7-bucket
    // histogram under the single-partition cumulative window
    val df = (Seq(0.0, 1e8) ++ Seq.tabulate(999)(i => (i * 137 % 100000).toDouble)).toDF("x")
    val qs = Seq(0.25, 0.5, 0.75)
    val fast = Relational.exactQuantilesQuantized(df, "x", qs, maxCoarseBuckets = 4096)
      .as[(Double, Double, Double)].collect()(0)
    val exact = df.agg(percentile($"x", array(qs.map(lit): _*)))
      .as[Seq[Double]].collect()(0)
    assert(Seq(fast._1, fast._2, fast._3) == exact, s"fast=$fast exact=$exact")
  }

  test("headByScoreBudget fills the budget greedily with deterministic ties") {
    import graft.operators.Selection
    // scores: 0.9 -> ids 1,2 (10 tokens each); 0.5 -> ids 3,4,5 (10 each); 0.1 -> id 6
    val df = Seq(
      (1L, 10, 0.9), (2L, 10, 0.9),
      (3L, 10, 0.5), (4L, 10, 0.5), (5L, 10, 0.5),
      (6L, 10, 0.1)
    ).toDF("id", "w", "s")
    def sel(budget: Long): Set[Long] =
      Selection.headByScoreBudget(df, $"s", $"w", $"id", budget)
        .select($"id").as[Long].collect().toSet
    // budget 25: both 0.9 docs (20), then id 3 crosses the line at 30
    assert(sel(25L) == Set(1L, 2L, 3L))
    // budget exactly 20: the 0.9 bucket alone fills it
    assert(sel(20L) == Set(1L, 2L))
    // budget 21: one doc of the 0.5 bucket crosses; smallest id wins
    assert(sel(21L) == Set(1L, 2L, 3L))
    // budget beyond the corpus: everything selected
    assert(sel(1000L) == Set(1L, 2L, 3L, 4L, 5L, 6L))
    // tiny budget: the first doc of the top bucket still crosses the line
    assert(sel(5L) == Set(1L))
  }

  test("hashSample is deterministic, salt-namespaced, and near the target rate") {
    val df = spark.range(10000).toDF("id")
    val s1 = Relational.hashSample(df, $"id", "a", 100).as[Long].collect().toSet
    val s2 = Relational.hashSample(df, $"id", "a", 100).as[Long].collect().toSet
    assert(s1 == s2, "same salt+key must select the same subset on every run")
    // repartitioning must not change the decision (pure function of the key)
    val s3 = Relational.hashSample(df.repartition(13), $"id", "a", 100)
      .as[Long].collect().toSet
    assert(s3 == s1)
    val other = Relational.hashSample(df, $"id", "b", 100).as[Long].collect().toSet
    assert(other != s1, "different salt = independent sample")
    assert(math.abs(s1.size - 1000) < 150, s"rate off: ${s1.size}/10000 vs 10%")
    // nested rates: a 5% sample under the same salt is a subset of the 10%
    val narrower = Relational.hashSample(df, $"id", "a", 50).as[Long].collect().toSet
    assert(narrower.subsetOf(s1), "keepPerMille thresholds must nest")
  }

  test("strict quantiles fail fast on sub-cent precision and pass on exact data") {
    val lossy = Seq(1.001, 2.0, 3.0).toDF("x")
    val e = intercept[Exception] {
      Relational.exactQuantilesQuantized(lossy, "x", Seq(0.5), strict = true).collect()
    }
    assert(e.getMessage.contains("not 100-quantized"), e.getMessage)
    val cleanR = Relational.exactQuantilesQuantized(
      Seq(1.25, 2.5, 3.75).toDF("x"), "x", Seq(0.5), strict = true)
      .as[Double].collect()(0)
    assert(cleanR == 2.5)
    // through the multi-column engine: the error names the lossy column,
    // and the clean column alone passes
    val two = Seq((1.25, 1.001), (2.5, 2.0), (3.75, 3.0)).toDF("clean", "lossy")
    val em = intercept[Exception] {
      Relational.exactQuantilesQuantizedMulti(two, Seq("clean", "lossy"),
        Seq(0.5), strict = true).collect()
    }
    assert(em.getMessage.contains("exactQuantilesQuantized(lossy, scale=100): " +
      "values are not 100-quantized"), em.getMessage)
    val cleanM = Relational.exactQuantilesQuantizedMulti(two, Seq("clean"),
      Seq(0.5), strict = true).collect()(0)
    assert(cleanM.getAs[Double]("clean_p0") == 2.5)
  }

  test("groupedMedian2 matches the sorted-values definition in every regime") {
    // odd n, even n, ties straddling the median, a negative-valued
    // group, and a singleton — med2 must equal c[(n+1)/2] + c[(n+2)/2]
    val rows = Seq(
      ("odd", 1L), ("odd", 7L), ("odd", 3L),
      ("even", 1L), ("even", 3L), ("even", 5L), ("even", 100L),
      ("ties", 2L), ("ties", 2L), ("ties", 2L), ("ties", 9L),
      ("neg", -5L), ("neg", -1L), ("neg", -9L), ("neg", 4L),
      ("one", 42L))
    val got = graft.operators.Relational
      .groupedMedian2(rows.toDF("g", "v"), "g", "v")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def ref(xs: Seq[Long]): Long = {
      val s = xs.sorted; val n = s.length
      s((n + 1) / 2 - 1) + s((n + 2) / 2 - 1)
    }
    val byG = rows.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    byG.foreach { case (g, xs) =>
      assert(got(g) == ((ref(xs), xs.length.toLong)),
        s"group $g: got ${got(g)}, want (${ref(xs)}, ${xs.length})")
    }
  }

  test("groupedMedian2 is bit-equal to the percentile formulation on real data") {
    // the q133 engine-choice contract: the scalable histogram median and
    // the buffering percentile UDAF must be interchangeable — same med2
    // (= 2 x interpolated median, exact in integers) per group
    val li = Tables(spark, sf("sf0.001"), "lineitem")
      .select(col("l_returnflag").as("g"),
        round(col("l_extendedprice") * 100).cast("long").as("v"))
    val hist = graft.operators.Relational.groupedMedian2(li, "g", "v")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val pct = li.groupBy(col("g"))
      .agg((percentile(col("v"), lit(0.5)) * 2).cast("long").as("med2"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(hist == pct, s"hist=$hist pct=$pct")
  }

  test("groupedMedian2SmallDomain agrees with groupedMedian2 in every regime") {
    // the third median engine (driver-assisted two-phase, for
    // enum-bounded group domains) must be bit-equal to the window
    // engine on the same inputs: odd/even/ties/negatives/singleton,
    // NULLs dropped, plus real data
    val rows = Seq(
      ("odd", Some(1L)), ("odd", Some(7L)), ("odd", Some(3L)),
      ("even", Some(1L)), ("even", Some(3L)), ("even", Some(5L)),
      ("even", Some(100L)),
      ("ties", Some(2L)), ("ties", Some(2L)), ("ties", Some(2L)),
      ("ties", Some(9L)),
      ("neg", Some(-5L)), ("neg", Some(-1L)), ("neg", Some(-9L)),
      ("neg", Some(4L)), ("neg", None),
      ("one", Some(42L))).toDF("g", "v")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(
      asMap(graft.operators.Relational.groupedMedian2SmallDomain(rows, "g", "v")) ==
      asMap(graft.operators.Relational.groupedMedian2(rows, "g", "v")))
    val li = Tables(spark, sf("sf0.01"), "lineitem")
      .select(col("l_returnflag").as("g"),
        round(col("l_extendedprice") * 100).cast("long").as("v"))
    assert(
      asMap(graft.operators.Relational.groupedMedian2SmallDomain(li, "g", "v")) ==
      asMap(graft.operators.Relational.groupedMedian2(li, "g", "v")),
      "engines must agree on real cent prices")
    // NULL group keys: the window engine loses them in its equi-join;
    // the driver-assisted engine must drop them too, not NPE
    val nullKeyed = Seq((Some("a"), 1L), (None, 2L), (Some("a"), 3L), (None, 9L))
      .toDF("g", "v")
    assert(
      asMap(graft.operators.Relational.groupedMedian2SmallDomain(nullKeyed, "g", "v")) ==
        Map("a" -> ((4L, 2L))),
      "null group keys must drop, matching the window engine")
  }

  test("groupedMedian2 ignores NULL values like the percentile UDAF does") {
    // the interchangeability contract must hold on null-containing input:
    // a NULL bucket sorting first would shift every rank
    val rows = Seq(("a", Some(1L)), ("a", None), ("a", Some(5L)),
      ("a", Some(3L)), ("a", None), ("b", None), ("b", Some(7L)))
      .toDF("g", "v")
    val got = graft.operators.Relational.groupedMedian2(rows, "g", "v")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // percentile ignores nulls: a -> median of (1,3,5) = 3 -> med2 6, n 3
    assert(got == Map("a" -> ((6L, 3L)), "b" -> ((14L, 1L))), s"got $got")
  }

  test("snapshotDiff classifies all four statuses with null-safe compares") {
    val a = Seq(
      (1L, Option(10.0), "O"),  // unchanged
      (2L, Option(20.0), "O"),  // changed (price)
      (3L, Option.empty[Double], "F"), // unchanged with null price (null <=> null)
      (4L, Option(40.0), "O"),  // removed
      (5L, Option.empty[Double], "O")  // changed: null -> value
    ).toDF("k", "price", "status")
    val b = Seq(
      (1L, Option(10.0), "O"),
      (2L, Option(21.0), "O"),
      (3L, Option.empty[Double], "F"),
      (5L, Option(5.0), "O"),
      (6L, Option(60.0), "O")   // added
    ).toDF("k", "price", "status")
    val out = Relational.snapshotDiff(a, b, "k", Seq("price", "status"))
      .select($"k", $"diff_status").as[(Long, String)].collect().toMap
    assert(out === Map(1L -> "unchanged", 2L -> "changed", 3L -> "unchanged",
      4L -> "removed", 5L -> "changed", 6L -> "added"), s"got $out")
  }
}
