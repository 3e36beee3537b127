package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Physical-plan evidence for the 100 TB posture: filters and column
  * pruning must reach the parquet scan, and partition-column predicates
  * must prune directories before any I/O happens. Complements
  * [[BucketingSpec]] (shuffle-free co-located joins). */
class ScalePostureSpec extends SparkSpec {
  import spark.implicits._

  private def scanNode(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString.linesIterator
      .dropWhile(l => !l.contains("FileScan")).mkString("\n")

  test("filter + projection push down to the parquet scan (PushedFilters/ReadSchema)") {
    val q = Tables(spark, sf("sf0.001"), "lineitem")
      .filter($"l_quantity" > 30.0)
      .select($"l_orderkey", $"l_quantity")
    val scan = scanNode(q)
    assert(scan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"),
      s"filter must reach the scan:\n$scan")
    // ReadSchema must carry ONLY the two referenced columns (16-column table)
    val schema = scan.split("ReadSchema:").last
    assert(schema.contains("l_orderkey") && schema.contains("l_quantity"),
      s"projected columns missing from ReadSchema:\n$schema")
    assert(!schema.contains("l_extendedprice") && !schema.contains("l_comment"),
      s"unreferenced columns must be pruned from the scan:\n$schema")
  }

  test("partition-column predicates prune directories (PartitionFilters)") {
    val dir = Files.createTempDirectory("graft_part").toString
    try {
      Tables(spark, sf("sf0.001"), "lineitem")
        .write.mode("overwrite").partitionBy("l_returnflag").parquet(dir)
      val q = spark.read.parquet(dir).filter($"l_returnflag" === "R")
        .select($"l_orderkey")
      val scan = scanNode(q)
      assert(scan.contains("PartitionFilters") && scan.contains("l_returnflag"),
        s"partition predicate must become a PartitionFilter:\n$scan")
      // the partition predicate must NOT degrade to a post-scan data filter
      assert(!scan.contains("PushedFilters: [IsNotNull(l_returnflag)"),
        s"partition column should never reach data filters:\n$scan")
      // pruning is observable: the pruned scan reads fewer files than the full one
      val partsRead = q.queryExecution.executedPlan.toString
      assert(spark.read.parquet(dir).filter($"l_returnflag" === "R").count() ==
        Tables(spark, sf("sf0.001"), "lineitem").filter($"l_returnflag" === "R").count())
      assert(partsRead.nonEmpty)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("month layout (q94): the partition predicate prunes dirs before listing") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case f: FileSourceScanExec => Seq(f)
      case other =>
        other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
    }
    val dir = Files.createTempDirectory("graft_month").toString
    try {
      val orders = Tables(spark, sf("sf0.001"), "orders")
        .withColumn("o_month", date_format($"o_orderdate", "yyyy-MM"))
      val layout = graft.io.Sources.materializePartitioned(
        spark, orders, s"$dir/orders_by_month", Seq("o_month"))
      val nMonths = layout.select($"o_month").distinct().count()
      assert(nMonths > 10, s"layout must span many month dirs, got $nMonths")
      val q = layout.filter($"o_month" === "1995-03").select($"o_orderkey")
      val scan = scanNode(q)
      assert(scan.contains("PartitionFilters") && scan.contains("o_month"),
        s"month predicate must become a PartitionFilter:\n$scan")
      q.collect()
      // the scan's driver metric counts partitions actually listed — the
      // non-matching month dirs must never appear
      val fs = scans(q.queryExecution.executedPlan)
      assert(fs.nonEmpty, "expected a FileSourceScanExec in the executed plan")
      val partsRead = fs.head.metrics.get("numPartitions").map(_.value)
      assert(partsRead.contains(1L),
        s"exactly one of $nMonths month dirs may be listed; metrics = " +
          s"${fs.head.metrics.view.mapValues(_.value).toMap}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("day layout (q171): the events date predicate lists exactly one dir") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case f: FileSourceScanExec => Seq(f)
      case other =>
        other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
    }
    val dir = Files.createTempDirectory("graft_day").toString
    try {
      val events = Tables(spark, sf("sf0.001"), "events")
        .withColumn("e_day", date_format($"ts", "yyyy-MM-dd"))
      val layout = graft.io.Sources.materializePartitioned(
        spark, events, s"$dir/events_by_day", Seq("e_day"))
      val nDays = layout.select($"e_day").distinct().count()
      assert(nDays > 10, s"layout must span many day dirs, got $nDays")
      val q = layout.filter($"e_day" === "2024-01-15").select($"event_id")
      val scan = scanNode(q)
      assert(scan.contains("PartitionFilters") && scan.contains("e_day"),
        s"day predicate must become a PartitionFilter:\n$scan")
      q.collect()
      val fs = scans(q.queryExecution.executedPlan)
      assert(fs.nonEmpty, "expected a FileSourceScanExec in the executed plan")
      val partsRead = fs.head.metrics.get("numPartitions").map(_.value)
      assert(partsRead.contains(1L),
        s"exactly one of $nDays day dirs may be listed; metrics = " +
          s"${fs.head.metrics.view.mapValues(_.value).toMap}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("broadcast hint keeps dimension joins shuffle-free on the fact side") {
    val li = Tables(spark, sf("sf0.001"), "lineitem")
    val supp = Tables(spark, sf("sf0.001"), "supplier")
    val plan = li.join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n${plan.take(1500)}")
    assert(!plan.contains("SortMergeJoin"), "dim join must not sort-merge")
  }

  test("saltedJoin spreads a planted hot key and preserves join semantics") {
    import graft.operators.Relational
    val orders = Tables(spark, sf("sf0.01"), "orders")
    // ~80% of probe rows share key 1 — the single-stalled-reducer shape
    val probe = orders.select(
      when(pmod($"o_orderkey", lit(5)) > 0, 1)
        .otherwise(pmod($"o_orderkey", lit(1000)) + 1).as("k"),
      $"o_totalprice")
    val customer = Tables(spark, sf("sf0.01"), "customer")
    // semantics: the salted join's multiset equals the plain join's
    val salted = Relational.saltedJoin(probe, customer, "k", "c_custkey", salt = 8)
    val plain = probe.join(customer, $"k" === $"c_custkey")
    assert(salted.count() == plain.count())
    assert(!salted.columns.exists(_.contains("salt")),
      "salt plumbing must not leak into the join output")
    // spread bound: the join shuffles on (k, __salt), so the most rows any
    // reducer receives for the hot key is the biggest (k, salt) group.
    // Mirrors the operator's probe-salt expression (hash of row + ordinal).
    val hot = probe.filter($"k" === 1).count()
    val shares = probe.withColumn("__salt",
        pmod(hash(probe.columns.map(col) :+ monotonically_increasing_id(): _*), lit(8)))
      .filter($"k" === 1)
      .groupBy($"__salt").count().as[(Int, Long)].collect()
    assert(shares.length == 8, s"hot key must spread across all 8 salt replicas: ${shares.toSeq}")
    val maxShare = shares.map(_._2).max
    assert(maxShare <= hot / 8 * 3 / 2,
      s"no salt replica may own more than ~1.5x the fair share of the hot key " +
        s"(hot=$hot, maxShare=$maxShare)")
  }

  test("adaptive salt replicates the hot key only; cold keys join unsalted") {
    import graft.operators.Relational
    val orders = Tables(spark, sf("sf0.01"), "orders")
    val probe = orders.select(
      when(pmod($"o_orderkey", lit(5)) > 0, 1)
        .otherwise(pmod($"o_orderkey", lit(1000)) + 1).as("k"),
      $"o_totalprice")
    val customer = Tables(spark, sf("sf0.01"), "customer")
    // the factor table IS the replication policy: absent key ⇒ factor 1
    // (coalesce in the operator), so hot-key-only content is exactly the
    // "cold keys are never replicated" guarantee
    val factors = Relational.saltFactors(probe, "k",
        targetPerReplica = 2000, maxSalt = 64)
      .as[(Long, Int)].collect().toMap
    assert(factors.keySet == Set(1L),
      s"only the planted hot key may carry a salt factor: $factors")
    assert(factors(1) > 1 && factors(1) <= 64,
      s"hot-key factor must scale with its count: ${factors(1)}")
    // semantics: identical multiset to the plain join, no salt leak
    val joined = Relational.saltedJoinAdaptive(probe, customer,
      "k", "c_custkey", targetPerReplica = 2000)
    val plain = probe.join(customer, $"k" === $"c_custkey")
    assert(joined.count() == plain.count())
    assert(!joined.columns.exists(_.contains("salt")),
      "salt plumbing must not leak into the join output")
  }

  test("Z-order layout: a y-only slice touches fewer files than a linear-x sort") {
    import graft.operators.Layout
    val dir = Files.createTempDirectory("graft_zorder").toString
    try {
      // x and y both fill 8 bits and are uncorrelated, so a linear sort
      // on x scatters any y-slice across every file
      val src = Tables(spark, sf("sf0.001"), "lineitem")
        .select($"l_orderkey", $"l_linenumber",
          ($"l_partkey" % 256).cast("long").as("x"),
          ($"l_orderkey" % 256).cast("long").as("y"))
      val nFiles = 16
      src.repartitionByRange(nFiles, $"x").sortWithinPartitions($"x")
        .write.mode("overwrite").parquet(s"$dir/linear")
      Layout.writeZOrdered(src, $"x", $"y", bits = 8, nFiles = nFiles,
        path = s"$dir/zorder")

      def filesTouched(path: String): Long =
        spark.read.parquet(path)
          .filter($"y".between(16, 31))
          .select(input_file_name()).distinct().count()

      val linear = filesTouched(s"$dir/linear")
      val zorder = filesTouched(s"$dir/zorder")
      // identical rows either way — layout only moves them between files
      assert(spark.read.parquet(s"$dir/zorder").filter($"y".between(16, 31)).count() ==
        src.filter($"y".between(16, 31)).count())
      // y bits sit at odd Morton positions, so a y-range fixes the z-key's
      // top bits and the matching rows collapse into a few z-runs; the
      // x-sorted layout spreads them over every file
      assert(zorder < linear,
        s"z-order must beat the linear layout on the un-sorted dimension: " +
          s"zorder=$zorder linear=$linear of $nFiles files")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("piiScrub is shuffle-free: pure codegen'd projections, no Exchange") {
    val docs = Tables(spark, sf("sf0.001"), "documents")
    val plan = graft.operators.Redact.piiScrub(docs, col("text"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"redaction must not shuffle:\n${plan.take(800)}")
  }

  test("weighted sample: probes broadcast; single-partition windows only over bucket-count rows") {
    val docs = Tables(spark, sf("sf0.001"), "documents")
      .select($"doc_id", $"n_chars")
    val plan = graft.operators.Selection
      .weightedSystematicSample(docs, $"doc_id", $"n_chars", 25, 64)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the m-row probe table must broadcast, never shuffle the corpus:\n${plan.take(800)}")
    // two SinglePartition exchanges are allowed, both over CLUSTER-bounded
    // input: the rangeCumSums per-partition-totals window (one row per
    // shuffle partition) and the total-mass aggregate (partial sums, one
    // row per task) — never the data rows
    val singles = plan.linesIterator.count(_.contains("Exchange SinglePartition"))
    assert(singles <= 2,
      s"only the bounded bucket-list stages may be single-partition ($singles):\n${plan.take(1200)}")
    // no single-partition window over a DATA-scaled frame: the bucket
    // list is rows/bucketWidth and grows with the data, so a global
    // window ordered by __b (windowspecdefinition with __b as the
    // ordering-first argument — partitioned specs list partition columns
    // before it) must never appear; only the __pid-ordered spec over
    // per-shuffle-partition totals is cluster-bounded and allowed
    assert(!"windowspecdefinition\\(__b#\\d+L? ASC".r.findFirstIn(plan).isDefined,
      s"bucket-offset cumsum fell back to a one-task global window:\n${plan.take(1200)}")
  }

  test("resample + rolling z-score windows are all key-partitioned") {
    val e = Tables(spark, sf("sf0.001"), "events")
    val ser = graft.operators.TimeSeries
      .resampleFfill(e, "event_type", "ts", "hour", lit(1L))
    val plan1 = ser.queryExecution.executedPlan.toString
    assert(!plan1.contains("Exchange SinglePartition"),
      s"resample must never run a global-order window over rows:\n${plan1.take(800)}")
    val plan2 = graft.operators.TimeSeries
      .rollingZScore(ser.select($"event_type", $"bucket",
          coalesce($"v", lit(0L)).as("c")),
        "event_type", "bucket", $"c", 24, 12, 3)
      .queryExecution.executedPlan.toString
    assert(!plan2.contains("Exchange SinglePartition"),
      s"z-score trailing window must stay key-partitioned:\n${plan2.take(800)}")
  }

  test("BM25 cuts the token stream to the query vocabulary BEFORE any shuffle") {
    val q = graft.operators.Ranking.bm25TopK(
      Tables(spark, sf("sf0.001"), "documents"), "doc_id", "text",
      Seq("join", "vector"), topK = 10)
    val plan = q.queryExecution.executedPlan
    // every Exchange in the tf branch must sit ABOVE the isin filter:
    // no exchange's subtree may contain an exploded-token Generate that
    // is not already filtered. Mechanically: each Exchange subtree that
    // contains a Generate must also contain the vocabulary Filter.
    val offenders = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
          if e.toString.contains("Generate") &&
            !e.toString.contains("IN (join,vector)") &&
            !e.toString.contains(" INSET ") => e
    }
    // the dl (doc length) branch legitimately aggregates ALL tokens
    // (BM25 normalizes by full document length) — allow exactly that one
    assert(offenders.size <= 1,
      s"unfiltered token streams reached ${offenders.size} shuffles:\n" +
        offenders.map(_.toString.take(400)).mkString("\n---\n"))
  }

  test("HLL register aggregate is partial+final hash aggregation (map-side combine)") {
    val q = graft.operators.Sketches.hllSketch(
      Tables(spark, sf("sf0.001"), "lineitem"), $"l_orderkey", 8, "p")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"),
      s"register max must be a hash aggregate:\n${plan.take(600)}")
    assert(!plan.contains("SortAggregate") && !plan.contains("ObjectHashAggregate"),
      s"register state must stay on the codegen hash-agg fast path:\n${plan.take(600)}")
  }

  test("grouped top-k via TopKPairs aggregates map-side (partial before the exchange)") {
    val topk = udaf(graft.functions.Aggregators.TopKPairs(3))
    val q = Tables(spark, sf("sf0.001"), "lineitem")
      .groupBy($"l_returnflag")
      .agg(topk($"l_partkey", $"l_orderkey").as("top"))
    val plan = q.queryExecution.executedPlan.toString
    // typed Aggregators plan as ObjectHashAggregate — the documented
    // trade-off — but MUST still split into partial + final around the
    // exchange so each mapper ships k pairs per group, not its rows
    assert(plan.contains("ObjectHashAggregate"),
      s"typed aggregator should object-hash-aggregate:\n${plan.take(600)}")
    val aggs = plan.linesIterator.count(_.contains("ObjectHashAggregate"))
    assert(aggs >= 2, s"expected partial+final aggregation, got $aggs:\n${plan.take(800)}")
  }

  private def plan(name: String): String =
    graft.queries.Registry.queries(name)(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString

  test("q219 SCD2: both window passes share ONE exchange on the key") {
    // Incremental.scd2's contract: the lag-collapse pass and the
    // lead/version pass order by the same (key)-partitioned (ord, tie)
    // sort, so Spark must plan a single hash-partitioning exchange —
    // a second exchange would mean the change stream shuffles twice
    val p = plan("q219_scd2_collapse")
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(exchanges == 1,
      s"expected ONE key exchange under both window passes, got $exchanges:\n${p.take(1400)}")
    assert(p.contains("Window"), s"expected the lag/lead windows:\n${p.take(600)}")
  }

  test("q220 log-rank: global windows run over the day-bounded histogram only") {
    // the q207 contract for the two-cohort sequel: the at-risk cumsums
    // may read ONLY the checkpointed (life × grp) histogram. The whole
    // plan carries EXACTLY the two FileScans of the separate one-pass
    // group-counts aggregate (orders + customer) — if the histogram
    // checkpoint were dropped, the per-frame's two scans would reappear
    // under the windows and the count would rise to four (a plan-order
    // line check would miss that: toString prints root-first, so scans
    // always sit after the Window line)
    val p = plan("q220_logrank")
    assert(p.contains("Window"), "expected the at-risk cumsum windows")
    assert(p.linesIterator.exists(_.contains("Scan ExistingRDD")),
      s"windows must read the materialized histogram:\n${p.take(1200)}")
    val scans = p.linesIterator.count(_.contains("FileScan"))
    assert(scans == 2,
      s"expected exactly the counts-branch orders+customer scans, got " +
        s"$scans — subject rows may reach windows only as the day " +
        s"histogram:\n${p.take(1400)}")
  }

  test("q222 KL drift: enum x vocab joins only, no cartesian product") {
    // the drift monitor's bound is langs² · vocab: the language and
    // total frames ride broadcasts (BroadcastNestedLoopJoin is the
    // legal one-row/enum cross), the pair stage is an equi-join on the
    // token, and a CartesianProduct anywhere would mean a data-scaled
    // blowup
    val p = plan("q222_kl_drift")
    assert(!p.contains("CartesianProduct"),
      s"no data-scaled cartesian may exist:\n${p.take(1400)}")
    assert(p.linesIterator.exists(_.contains("Scan ExistingRDD")),
      s"the pair sides must read the checkpointed dense vectors:\n${p.take(1200)}")
  }

  test("q146 OLS: the whole regression is ONE scan + one hash aggregate") {
    val p = plan("q146_ols_normal_eq")
    assert(p.linesIterator.count(_.contains("FileScan")) == 1,
      s"normal equations must not rescan:\n${p.take(800)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    // partial + final: the Gram matrix combines map-side
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2)
  }

  test("q133 MAD: no Percentile UDAF — the registered plan must survive 1/3-table groups") {
    // percentile() buffers every value of the group in executor memory;
    // q133's groups are l_returnflag (3 groups, ~1/3 of the table each),
    // so that engine is an executor OOM at scale. The registered plan
    // must use the grouped two-level rank selection instead.
    // the registered engine itself: grouped two-level rank selection is
    // window + hash-agg shaped and never plans a Percentile UDAF
    val li = Tables(spark, sf("sf0.001"), "lineitem")
      .select($"l_returnflag".as("flag"),
        round($"l_extendedprice" * 100).cast("long").as("c"))
    val enginePlan = graft.operators.Relational
      .groupedMedian2(li, "flag", "c")
      .queryExecution.executedPlan.toString
    assert(!enginePlan.toLowerCase.contains("percentile"),
      s"groupedMedian2 must not plan a Percentile UDAF:\n${enginePlan.take(1200)}")
    assert(enginePlan.contains("Window") && enginePlan.contains("HashAggregate"))
    // and the registered query's final plan (median chains run eagerly at
    // the 3-row checkpoints; this guards the deviation/outlier stage)
    val p = plan("q133_mad_outliers")
    assert(!p.toLowerCase.contains("percentile"),
      s"q133 must not plan a Percentile UDAF:\n${p.take(1200)}")
  }

  test("q152 SNM: candidate pairs come from windows, never a join") {
    val p = plan("q152_sorted_neighborhood")
    assert(!p.contains("Join"), // no join operator of ANY kind
      s"sorted-neighborhood must be join-free:\n${p.take(800)}")
    assert(p.contains("Window"), "expected the lead() window")
  }

  test("q153 Hilbert: flat projections — plan is linear in bit depth") {
    val p = plan("q153_hilbert_box")
    // 8 levels x 5 helper columns must NOT inline into an exponential
    // tree: the executed plan stays small and single-scan
    assert(p.length < 100000, s"plan exploded: ${p.length} chars")
    assert(p.linesIterator.count(_.contains("FileScan")) == 1)
    assert(!p.contains("Join"))
    // box predicate reaches the scan
    assert(p.contains("PushedFilters") || p.contains("pushedFilters"))
  }

  test("q150 BPE encode: token join-back broadcasts; corpus shuffles once") {
    val p = plan("q150_bpe_encode")
    assert(p.contains("BroadcastHashJoin"),
      s"vocab token table must broadcast:\n${p.take(800)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q178 DSIR: the 256-row weight table broadcasts; top-k is a sort-limit") {
    val p = plan("q178_dsir_select")
    assert(p.contains("BroadcastHashJoin"),
      s"the bucket-bounded weight table must broadcast onto the bigram stream:\n${p.take(800)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be a sort-limit, never a global sort:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("q179 packing: the token-offset cumsum never globally sorts the docs") {
    val p = plan("q179_sequence_pack")
    // rangeCumSums shape: the only permitted SinglePartition stage is the
    // one-row-per-shuffle-partition offset table; a window ordered by the
    // doc id itself would be the one-task global cumsum this replaces
    assert(!"windowspecdefinition\\(doc_id#\\d+L? ASC".r.findFirstIn(p).isDefined,
      s"per-doc offsets fell back to a one-task global window:\n${p.take(1200)}")
    val singles = p.linesIterator.count(_.contains("Exchange SinglePartition"))
    assert(singles <= 1,
      s"only the partition-totals stage may be single-partition ($singles):\n${p.take(1200)}")
  }

  test("q180 SemDeDup: the pair scan is a cell equi-join, never all-pairs") {
    val p = plan("q180_semdedup")
    assert(!p.contains("CartesianProduct"),
      s"no unbounded all-pairs stage may exist:\n${p.take(1200)}")
    // the pair join must carry cell as an equi-key (the k-means attach
    // legitimately broadcast-nested-loops k centroid rows onto points;
    // that BNLJ is cluster-bounded and allowed)
    assert("(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin) \\[cell#".r
        .findFirstIn(p).isDefined ||
      "hashpartitioning\\(cell#".r.findFirstIn(p).isDefined,
      s"within-cell pairs must come from an equi-join on cell:\n${p.take(1600)}")
  }

  test("q182 containment: candidates come from PREFIX tokens, via an equi-join on the shingle") {
    // the asymmetric prefix filter (Xiao et al. TODS'11): src-side join
    // input is the __pos-filtered rarest-first prefix, the join carries
    // the shingle hash as an equi-key, and no cartesian stage exists —
    // a boilerplate shingle shared corpus-wide can never drive the
    // candidate stage quadratic
    val toks = Seq((1L, 4, 10L), (2L, 4, 10L)).toDF("doc", "__n", "sh")
    val cand = graft.operators.Dedup
      .containmentCandidates(toks, 1, 2, checkpoint = false)
    val p = cand.queryExecution.executedPlan.toString
    assert(p.contains("__pos"),
      s"src side must filter to the rarest-first prefix:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate stage must never be all-pairs:\n${p.take(1200)}")
    assert("(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin) \\[sh#".r
        .findFirstIn(p).isDefined ||
      "hashpartitioning\\(sh#".r.findFirstIn(p).isDefined,
      s"candidates must come from an equi-join on the shingle hash:\n${p.take(1600)}")
    // behavioral bound: m docs all sharing ONE hot shingle plus three
    // rare shingles each — the full inverted join would emit m(m-1)
    // directed candidates from the hot shingle alone; at t=1/2, n=4
    // the rarest-first prefix holds 3 tokens — the three RARE ones
    // (df=1), never the hot one (df=m) — so no cross-doc candidates
    val m = 40
    val hot = toks.sparkSession.createDataFrame(
      (0 until m).flatMap(i => Seq(
        (i.toLong, 4, 999L), (i.toLong, 4, 1000L + 3 * i),
        (i.toLong, 4, 1001L + 3 * i), (i.toLong, 4, 1002L + 3 * i)))
    ).toDF("doc", "__n", "sh")
    val n = graft.operators.Dedup
      .containmentCandidates(hot, 1, 2, checkpoint = false).count()
    assert(n == 0,
      s"hot shingle must be starved out of candidate generation, got $n candidates")
  }

  test("q41 is the DECLARED brute-force baseline: full shingle self-join allowed THERE ONLY") {
    // q41 (sparseJaccardPairs) is the bounded ground truth that q111's
    // prefix filter is audited against every round — its plan is the
    // full inverted-index self-join BY DESIGN, and it is the only
    // registered query permitted that shape. The two production paths
    // over the same semantics must carry the prefix filter instead.
    val q41 = plan("q41_dedup_ngram_jaccard")
    assert("(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)".r.findFirstIn(q41).isDefined,
      s"q41 must remain the brute-force inverted-index join:\n${q41.take(800)}")
    assert(!q41.contains("__pos"),
      "q41 must stay un-prefixed — it IS the losslessness oracle for q111")
    // production paths: prefix filter present (q111 in-plan; q182's
    // candidate stage is pinned by the dedicated test above since its
    // checkpoints hide lineage)
    val q111 = plan("q111_prefix_jaccard")
    assert(q111.contains("__pos") ||
      // checkpointed candidate stage: lineage hidden — accept the scan
      q111.linesIterator.exists(_.contains("Scan ExistingRDD")),
      s"q111 must be the prefix-filtered path:\n${q111.take(800)}")
  }

  test("q205 dedup-first: replication collapses at the exact stage, before any pairwise work") {
    // The registered composition for duplication-driven corpora: a ×5
    // byte-identical replication (the ScaleStress construction — fresh
    // ids, same text) must collapse back to the base corpus at the
    // exact hash-agg stage, so the MinHash stage sees the SAME keeper
    // set and the near-dup pair count does not grow at all — while the
    // raw (un-composed) pipeline's pair set explodes by construction
    // (every original doc becomes a 5-clique). This is the functional
    // form of the SCALING x100 "composed" measurement.
    val dir = Files.createTempDirectory("graft_dedupfirst").toString
    try {
      val factor = 5
      val base = Tables(spark, sf("sf0.001"), "documents")
      base.crossJoin(spark.range(factor).select($"id".as("__rep")))
        .withColumn("doc_id", $"doc_id" * factor + $"__rep")
        .drop("__rep")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val composed = graft.queries.Registry
        .queries("q205_dedup_first_neardup")(spark, dir).cache()
      val baseline = graft.queries.Registry
        .queries("q205_dedup_first_neardup")(spark, sf("sf0.001"))
      val nBase = baseline.count()
      val nComposed = composed.count()
      assert(nBase > 0, "fixture corpus must contain near-dup pairs")
      assert(nComposed == nBase,
        s"composed pair count must NOT grow under replication: " +
          s"base $nBase vs x$factor $nComposed")
      // every keeper pair carries the collapsed mass: copies = factor
      // per side, pair_weight = factor²
      val weights = composed.select($"copies_a", $"copies_b", $"pair_weight")
        .distinct().as[(Long, Long, Long)].collect().toSet
      assert(weights.subsetOf(Set((factor.toLong, factor.toLong,
        (factor * factor).toLong))),
        s"keeper pairs must carry copy counts of $factor: $weights")
      // contrast: the RAW near-dup pipeline on the replicated corpus
      // explodes — each original doc's 5 copies form C(5,2) = 10 pairs
      val raw = graft.operators.Dedup.minhashNearDups(
        spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
        k = 64, bands = 8, threshold = 0.9, maxBucket = 100,
        scheme = "lcg").count()
      val nDocs = base.count()
      assert(raw >= nDocs * factor * (factor - 1) / 2,
        s"raw pipeline must exhibit the C(k,2)-per-doc blowup the " +
          s"composition removes: $raw pairs vs ${nDocs * 10} floor")
      // and the declared duplication-driven list covers exactly the
      // registered queries whose ×k ratios are output-driven by design
      assert(graft.tools.ScaleStress.DuplicationDriven ==
        Set("q111_prefix_jaccard", "q116_exact_dedup_pipeline",
          "q180_semdedup", "q182_containment"))
      composed.unpersist()
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("q210 matching: both neighbor passes are RUNNING frames — no UnboundedFollowing") {
    // Spark evaluates an UnboundedFollowing window frame by re-scanning
    // the remaining partition per row — O(n²), measured 108 s at sf0.1
    // before the fix. The next-control pass must ride the REVERSED sort
    // as a running (unboundedPreceding → -1) frame instead; this pin
    // keeps the quadratic frame from coming back.
    val p = plan("q210_caliper_match").toLowerCase
    assert(!p.contains("unboundedfollowing"),
      s"q210 must not carry an UnboundedFollowing frame:\n${p.take(1200)}")
    // the series operators share the contract: forward fills and as-of
    // matches ride the reversed sort (q110 interpolate, q104 as-of) —
    // their per-key series are unbounded at 100 TB, so the quadratic
    // frame must never return. (q207's whole-partition total and the
    // OPH ring fill keep unbounded frames legitimately: the first is
    // an O(n)-evaluated UnboundedWindowFunctionFrame, the second runs
    // over a ≤128-row bounded ring.)
    for (q <- Seq("q110_resample_interp", "q104_asof_forward")) {
      val pl = plan(q).toLowerCase
      assert(!pl.contains("unboundedfollowing"),
        s"$q must not carry an UnboundedFollowing frame:\n${pl.take(1200)}")
    }
  }

  test("q193 chunking is shuffle-free: explode + projections in one stage") {
    // chunking is the highest-volume pass a pretraining pipeline runs
    // (every token of the corpus flows through it) — it must stay a
    // narrow generate with NO exchange; the final orderBy is the
    // deterministic-output contract, not part of the operator (a real
    // pipeline writes chunks partitioned, unsorted)
    val p = plan("q193_chunk_overlap")
    assert(p.contains("Generate"), s"expected the sequence explode:\n${p.take(600)}")
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("rangepartitioning"))
    assert(exchanges == 0,
      s"chunking must not shuffle (only the output-order sort may range-partition):\n${p.take(1200)}")
    assert(p.linesIterator.count(_.contains("FileScan")) == 1)
  }

  test("q201 bootstrap: replicate expansion aggregates map-side; no sort-merge join") {
    // the Poisson bootstrap's whole point is ONE narrow pass: the x32
    // explode must partially aggregate into groups×B cells BEFORE its
    // exchange, and the only joins are the broadcast attach of the
    // 5-row exact frame — a SortMergeJoin or a real cartesian would
    // mean the resampling shuffles data
    val p = plan("q201_poisson_bootstrap")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"bootstrap must not shuffle a join:\n${p.take(1200)}")
    val aggLines = p.linesIterator.filter(_.contains("HashAggregate")).toSeq
    assert(aggLines.exists(_.contains("partial_")),
      s"replicate cells must combine map-side:\n${aggLines.mkString("\n").take(800)}")
    assert(p.linesIterator.count(_.contains("FileScan")) <= 2,
      "one scan for the replicate pass, one for the exact frame")
  }

  test("q202 CUSUM: windows run only over the day-bounded materialized frame") {
    // the single-partition windows must run over the DAY-bounded series
    // (the checkpointed daily aggregate), never over order rows — the
    // eager checkpoint makes that structural: the registered plan's
    // windows read the materialized RDD, and NO FileScan (which would
    // mean a window directly over order rows) appears between them
    val p = plan("q202_cusum_drift")
    assert(p.contains("Window"), "expected the cumsum/running-min windows")
    assert(p.linesIterator.exists(_.contains("Scan ExistingRDD")),
      s"windows must read the materialized day-bounded frame:\n${p.take(1200)}")
    assert(p.linesIterator.count(_.contains("FileScan")) == 0,
      s"no window may sort raw order rows — the parquet scan lives inside the checkpoint:\n${p.take(1200)}")
  }

  test("q207/q212: global windows run only over bounded aggregated frames") {
    // the same contract as the q202 pin, for the two new single-
    // partition window consumers: Kaplan-Meier's at-risk cumsum runs
    // over the checkpointed day-bounded lifetime HISTOGRAM (never
    // customer rows), and the mSPRT monitor's cumulative-moment windows
    // run over the ≤365-row daily aggregate — the window input must be
    // the aggregate, so a FileScan may appear only BELOW an Aggregate
    // in each plan
    val km = plan("q207_kaplan_meier")
    assert(km.contains("Window"), "expected the at-risk/survival windows")
    assert(km.linesIterator.exists(_.contains("Scan ExistingRDD")),
      s"q207 windows must read the materialized histogram:\n${km.take(1200)}")
    assert(km.linesIterator.count(_.contains("FileScan")) == 0,
      s"q207: the orders scan lives inside the checkpoint:\n${km.take(1200)}")
    val ms = plan("q212_msprt_monitor")
    val lines = ms.linesIterator.toSeq
    val winIdx = lines.indexWhere(_.contains("Window"))
    val aggAbove = lines.take(winIdx).count(_.contains("HashAggregate"))
    val aggBelow = lines.drop(winIdx).count(_.contains("HashAggregate"))
    assert(winIdx >= 0 && aggBelow >= 2,
      s"q212's windows must sit above the daily partial+final aggregate " +
        s"(win@$winIdx, aggAbove=$aggAbove, aggBelow=$aggBelow):\n${ms.take(1600)}")
  }

  test("nested schema pruning: a subfield projection reads ONLY that leaf") {
    // struct columns are how multimodal metadata travels (SURVEY §1.2);
    // at 100 TB reading a whole struct for one leaf is the same bug as
    // reading all 16 flat columns for 2 — Catalyst prunes nested leaves
    // into the parquet ReadSchema and the scan must show it
    val dir = Files.createTempDirectory("graft_nested").toString
    try {
      Tables(spark, sf("sf0.001"), "lineitem")
        .select($"l_orderkey",
          struct($"l_quantity", $"l_extendedprice", $"l_discount").as("m"))
        .write.mode("overwrite").parquet(dir)
      val q = spark.read.parquet(dir).select($"l_orderkey", $"m.l_quantity")
      val scan = scanNode(q)
      val schema = scan.split("ReadSchema:").last
      assert(schema.contains("l_quantity"),
        s"projected leaf missing from ReadSchema:\n$schema")
      assert(!schema.contains("l_extendedprice") && !schema.contains("l_discount"),
        s"sibling struct leaves must be pruned from the scan:\n$schema")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("dynamic partition pruning: a dim filter prunes fact partitions at runtime") {
    // the 100 TB star-join lever beyond static pruning (q94/q171): the
    // partition predicate isn't known until the dim side is filtered, so
    // Catalyst injects a dynamicpruning subquery into the fact scan's
    // PartitionFilters — only the dim-surviving partitions are listed
    val dir = Files.createTempDirectory("graft_dpp").toString
    try {
      Tables(spark, sf("sf0.001"), "lineitem")
        .write.mode("overwrite").partitionBy("l_returnflag").parquet(dir)
      val fact = spark.read.parquet(dir)
      // the dim must be FILE-backed: a local Seq relation constant-folds
      // its filter away (ConvertToLocalRelation), and DPP's heuristic
      // requires a surviving selective predicate on the build side
      Seq(("R", "keep"), ("A", "drop"), ("N", "drop"))
        .toDF("flag", "verdict")
        .write.mode("overwrite").parquet(s"$dir-dim")
      val dim = spark.read.parquet(s"$dir-dim")
      val q = fact.join(dim.filter($"verdict" === "keep"),
          fact("l_returnflag") === dim("flag"))
        .select($"l_orderkey", $"l_quantity")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning"),
        s"the fact scan must carry a dynamicpruning partition filter:\n" +
          plan.linesIterator.filter(_.contains("PartitionFilters"))
            .mkString("\n"))
      // and the answer equals the statically-pruned equivalent
      val dynamic = q.agg(sum($"l_quantity")).as[Double].head()
      val static0 = fact.filter($"l_returnflag" === "R")
        .agg(sum($"l_quantity")).as[Double].head()
      assert(dynamic == static0, s"DPP must not change results: $dynamic vs $static0")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("compaction: shrinks a fragmented layout shuffle-free, content intact") {
    val base = Files.createTempDirectory("graft_compact").toString
    val (frag, tidy) = (s"$base/frag", s"$base/tidy")
    val li = Tables(spark, sf("sf0.001"), "lineitem")
    li.repartition(64).write.mode("overwrite").parquet(frag)
    def dataFiles(dir: String): Int =
      new java.io.File(dir).listFiles.count(_.getName.endsWith(".parquet"))
    assert(dataFiles(frag) == 64, "precondition: the layout is fragmented")
    // target sized so the whole sf0.001 table compacts to a couple files
    val n = graft.operators.Layout.compact(spark, frag, tidy,
      targetBytes = 256L * 1024)
    assert(n == dataFiles(tidy),
      s"compact must report the WRITTEN file count: $n vs ${dataFiles(tidy)}")
    assert(n < 64, s"compaction must cut the file count: $n")
    // the compact plan is coalesce, not repartition: no exchange
    val plan = spark.read.parquet(frag).coalesce(n)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"compaction must not shuffle:\n$plan")
    // row-for-row content equality, order-independent
    def sig(dir: String): org.apache.spark.sql.Row = spark.read.parquet(dir)
      .agg(count(lit(1)), sum($"l_orderkey"), sum($"l_linenumber"),
        // mod keeps the ANSI-mode long sum from overflowing (the
        // Dedup.cluster signature discipline)
        sum(pmod(xxhash64(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity")), lit(1000000007L))))
      .head
    assert(sig(tidy) == sig(frag), "compaction must preserve every row")
  }

  test("q225 trend pair: the O(n²) stage reads only the checkpointed calendar") {
    // Theil-Sen/Mann-Kendall's pair join is C(366,2) BY CONSTRUCTION —
    // but only if both join sides read the materialized daily aggregate.
    // Dropping the checkpoint would re-derive the rollup per side (and
    // per marginal: n, ties), pushing four orders scans under the join.
    val p = plan("q225_theil_sen")
    assert(p.linesIterator.count(_.contains("FileScan")) == 0,
      s"every stage must read the ≤366-row checkpoint, not orders:\n${p.take(1400)}")
    assert(p.linesIterator.exists(_.contains("Scan ExistingRDD")),
      s"expected the checkpointed calendar frame:\n${p.take(800)}")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the d1<d2 pair stage must broadcast the bounded side:\n${p.take(1200)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q226 RFM: quintile scoring is broadcast CASE logic — no ntile sort") {
    // the classic RFM trap is ntile() over a partitionless window: a
    // single-partition total sort of every customer. The contract here
    // is cutpoints from the bounded-histogram quantile engine landing
    // in a broadcast one-row frame, with the rfm aggregate checkpointed
    // once (zero raw-table scans anywhere in the final plan)
    val p = plan("q226_rfm_segments")
    assert(!p.contains("ntile"), s"no ntile window may exist:\n${p.take(1200)}")
    assert(p.linesIterator.count(_.contains("FileScan")) == 0,
      s"scoring must read the checkpointed rfm frame, not orders:\n${p.take(1400)}")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the 1-row cutpoint frame must ride a broadcast:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("q228 assortativity: moment join reads the checkpointed edge set only") {
    // the q128 checkpoint-before-fanout discipline: the distinct edge
    // build feeds the degree aggregate AND the two endpoint joins — if
    // either side re-derived it, the lineitem⋈orders distinct would run
    // three times and FileScans would reappear under the moment join
    val p = plan("q228_assortativity")
    assert(p.linesIterator.count(_.contains("FileScan")) == 0,
      s"the moment join must read checkpoints, not raw tables:\n${p.take(1400)}")
    assert(p.linesIterator.exists(_.contains("Scan ExistingRDD")))
    assert(!p.contains("CartesianProduct"),
      s"only the broadcast scalar cross is legal:\n${p.take(1200)}")
  }

  test("q230 Kneser-Ney: marginals read the checkpointed bigram-type table; top-k never global-sorts") {
    val p = plan("q230_kneser_ney")
    assert(p.linesIterator.count(_.contains("FileScan")) == 0,
      s"every marginal must read the checkpointed type table:\n${p.take(1400)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-15 must be a bounded take, not a total sort:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("q227 IPW: exactly the two declared passes; stratum frame checkpointed") {
    // the per-row IPW leg is the DELIBERATE second float path of the
    // built-in cross-check; the enum-sized stratum frame is
    // checkpointed, so kept, glob, and the ipw broadcast all read the
    // materialized rows — the FINAL plan carries exactly the IPW leg's
    // orders+customer pair (un-checkpointed, every stratum consumer
    // re-derived the aggregate and this plan carried 8 FileScans)
    val p = plan("q227_stratified_ipw")
    val scans = p.linesIterator.count(_.contains("FileScan"))
    assert(scans == 2,
      s"expected only the IPW leg's orders+customer scans, got $scans:\n${p.take(1400)}")
    assert(p.contains("BroadcastHashJoin"),
      s"the customer dim must broadcast:\n${p.take(1200)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q231 weighted sample: one narrow scan + TakeOrdered, no shuffle at all") {
    // the registration comment's whole scale claim, enforced: A-Res is
    // a projection plus a bounded top-k — any Exchange or Window here
    // means the sample became a data-scaled sort
    val p = plan("q231_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be a bounded take:\n${p.take(1200)}")
    assert(p.linesIterator.count(_.contains("FileScan")) == 1,
      s"exactly one documents scan:\n${p.take(1200)}")
    assert(!p.contains("Exchange") && !p.contains("Window"),
      s"the sample must not shuffle or sort globally:\n${p.take(1400)}")
  }

  test("q232 Yule-Walker: the solve reads only acf's checkpointed series") {
    val p = plan("q232_yule_walker")
    assert(p.linesIterator.count(_.contains("FileScan")) == 0,
      s"every acf pass must read the calendar checkpoint, not orders:\n${p.take(1400)}")
    assert(p.linesIterator.exists(_.contains("Scan ExistingRDD")))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q233 ccf: the 15-lag probe joins read only the checkpointed calendars") {
    // TimeSeries.ccf checkpoints both daily frames — each feeds its
    // moment aggregate AND all 15 lag probes; un-checkpointed, the
    // orders⋈customer rollup would re-run per consumer
    val p = plan("q233_xcorr_leadlag")
    assert(p.linesIterator.count(_.contains("FileScan")) == 0,
      s"lag joins must read the ≤366-row checkpoints, not orders:\n${p.take(1400)}")
    assert(p.linesIterator.exists(_.contains("Scan ExistingRDD")))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q234 prefix sketch: ONE lineitem scan; total count rides the bucket window") {
    // the self-review catch: a separate n = merged.agg(...) branch
    // re-ran the lineitem scan + both aggregation layers — n now rides
    // a full-frame window over the SAME bounded bucket frame
    val p = plan("q234_prefix_quantile_mv")
    assert(p.linesIterator.count(_.contains("FileScan")) == 1,
      s"exactly one lineitem scan — a second means the count branch re-aggregates:\n${p.take(1400)}")
    assert(p.contains("Window"), "the rank walk runs over the bounded bucket frame")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"no join of any kind should remain:\n${p.take(1200)}")
  }

  test("q241 ABC: one lineitem scan; ranking and share ride catalog-bounded windows") {
    // the q234 discipline twice over: the classification window runs on
    // the per-part aggregate (catalog-bounded), and the share total
    // rides a full-frame window over the 3-row class frame — a second
    // aggregate branch would re-run the lineitem scan
    val p = plan("q241_abc_analysis")
    assert(p.linesIterator.count(_.contains("FileScan")) == 1,
      s"exactly one lineitem scan:\n${p.take(1400)}")
    assert(!p.contains("Join"), s"no join of any kind:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("q242 elasticity: broadcast part dim + one enum-bounded moment aggregate") {
    val p = plan("q242_price_elasticity")
    assert(p.linesIterator.count(_.contains("FileScan")) == 2,
      s"lineitem + part, once each:\n${p.take(1200)}")
    assert(p.contains("BroadcastHashJoin"), "the part dim must broadcast")
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
      "the moment fold must map-side combine")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q235 ANOVA: one broadcast dim join + hash aggregates, nothing sorts") {
    val p = plan("q235_anova_f")
    assert(p.linesIterator.count(_.contains("FileScan")) == 2,
      s"orders + customer, once each:\n${p.take(1200)}")
    assert(p.contains("BroadcastHashJoin"), "the customer dim must broadcast")
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
      "the moment fold must map-side combine")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q236 sign-flip: the xB expansion is a narrow generate over the checkpointed pairs") {
    // the q201 bootstrap shape: B=256 replicates from ONE generate with
    // map-side combine into B cells — never a resampling shuffle or a
    // join against a replicate table
    val p = plan("q236_sign_flip")
    assert(p.linesIterator.count(_.contains("FileScan")) == 0,
      s"the expansion must read the checkpointed pairs frame:\n${p.take(1400)}")
    assert(p.contains("Generate explode"),
      s"replicates must come from a narrow generate:\n${p.take(1200)}")
    assert(p.contains("partial_sum"), "replicate sums must map-side combine")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q237 silhouette: k broadcast centroids, one embeddings scan, bounded per-point state") {
    val p = plan("q237_silhouette")
    assert(p.linesIterator.count(_.contains("FileScan")) == 1,
      s"one embeddings scan; centroids ride their training checkpoint:\n${p.take(1400)}")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the k=8 centroid table must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"))
  }

  test("q238 phrase search: adjacency joins read only the term-filtered postings") {
    // the IR discipline: the postings frame is filtered to the
    // phrase's 3 terms BEFORE anything joins (candidates bounded by
    // term document-frequency, not corpus size) and checkpointed once —
    // the final plan re-reads that bounded frame, never the corpus
    val p = plan("q238_phrase_search")
    assert(p.linesIterator.count(_.contains("FileScan")) == 0,
      s"joins must read the checkpointed postings, not documents:\n${p.take(1400)}")
    assert(p.linesIterator.exists(_.contains("Scan ExistingRDD")))
    assert(!p.contains("CartesianProduct") && !p.contains("Window"))
  }

  test("graph family reads the ONE materialized trade edge set, never base tables") {
    // TradeGraph discipline (the q96/q115 shared-PQ-index pattern): the
    // edge list materializes once per testdata generation; every
    // family member's executed plan must carry ZERO FileScans over
    // lineitem/orders — re-deriving lineitem⋈orders⋈customer per query
    // is exactly the re-derivation the materialization exists to kill.
    val d = sf("sf0.001")
    val ep = graft.queries.TradeGraph.edges(spark, d)
      .queryExecution.executedPlan.toString
    // plan toString truncates long paths — match the layout root (the
    // mtime-keyed dir flattens '/' to '_', so a slashed base-table
    // path can never alias it)
    assert(ep.contains("FileScan") && ep.contains("graft_layout"),
      s"edges() must read the materialized parquet:\n${ep.take(600)}")
    val family = Seq("q128_pagerank", "q142_bfs_levels", "q164_kcore",
      "q165_label_propagation", "q218_hits", "q228_assortativity")
    family.foreach { q =>
      val p = plan(q)
      // base-table scans carry the SLASHED testdata path; the layout
      // cache path flattens it to underscores, so this cannot alias
      val base = p.linesIterator.filter(l => l.contains("FileScan") &&
        (l.contains("/lineitem.parquet") || l.contains("/orders.parquet") ||
         l.contains("/customer.parquet"))).toSeq
      // q142's BFS source node (min custkey) legitimately reads
      // customer — the scalar source pick, not an edge re-derivation
      val allowed =
        if (q == "q142_bfs_levels") base.filter(!_.contains("/customer.parquet"))
        else base
      assert(allowed.isEmpty,
        s"$q re-derives the trade edges from base tables:\n" +
          allowed.mkString("\n"))
    }
  }

  test("round-13 query family: plan shapes match their scale claims") {
    // q245: the test family is CHECKPOINTED before the step-up
    // (round-15 — bhStepUp's loud-cap probe would otherwise re-execute
    // the ×64 sign-flip expansion), so the final plan must rank the
    // materialized ≤25-row frame: an ExistingRDD scan, no file scan,
    // no cross product (the q249 checkpointed-projection pin shape;
    // the expansion's own map-side combine is the q201/q236 kernel,
    // pinned there)
    val p245 = plan("q245_bh_fdr")
    assert(p245.contains("Scan ExistingRDD"),
      s"q245 must rank the checkpointed family frame:\n${p245.take(1200)}")
    assert(p245.linesIterator.count(_.contains("FileScan")) == 0,
      s"q245 final plan must not rescan the base tables:\n${p245.take(1200)}")
    assert(!p245.contains("CartesianProduct"))
    // q246: blocked Levenshtein may never plan an unbounded pair stage
    val p246 = plan("q246_edit_blocking")
    assert(!p246.contains("CartesianProduct"),
      s"q246 pairs must come from the block equi-join:\n${p246.take(1200)}")
    // q247: the window rule is a range-residual JOIN — no window
    // functions, no cross product
    val p247 = plan("q247_funnel_window")
    assert(!p247.contains("Window") && !p247.contains("CartesianProduct"),
      s"q247 must stay join-shaped:\n${p247.take(1200)}")
    // q248: deciles come from broadcast cutpoints — an ntile/global row
    // sort over the population is exactly the hazard this avoids
    val p248 = plan("q248_uplift_qini")
    assert(!p248.contains("ntile"),
      s"q248 must not rank the population:\n${p248.take(1200)}")
    assert(p248.contains("BroadcastExchange"),
      s"q248 cutpoints must broadcast:\n${p248.take(1200)}")
    // q249: every consumer (rate, histogram, coverage) reads the ONE
    // checkpointed projection — no FileScan may appear in the plan
    val p249 = plan("q249_conformal")
    assert(p249.linesIterator.count(_.contains("FileScan")) == 0,
      s"q249 must read only the checkpointed projection:\n${p249.take(1200)}")
    assert(p249.linesIterator.exists(_.contains("Scan ExistingRDD")))
    // q250: baskets pair via the ok equi-join; the rule joins broadcast
    val p250 = plan("q250_assoc_rules")
    assert(!p250.contains("CartesianProduct"),
      s"q250 pairs must come from the basket equi-join:\n${p250.take(1200)}")
  }

  test("q255 perceptual near-dup: band equi-join candidates, never all-pairs") {
    // The dHash blocking stage is the q42 LSH discipline on images:
    // candidates come from the (band_idx, band_value) equi-join over the
    // stop-bucket-capped band table — a cartesian / nested-loop pair
    // stage anywhere would mean the image corpus pairs quadratically
    val p = plan("q255_dhash_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q255 pairs must come from the band equi-join:\n${p.take(1200)}")
    // the sketch comes from the ONE materialized MediaSketch store (the
    // TradeGraph discipline): the consumer plan must never scan
    // documents.parquet — a base-table scan would mean the codec
    // pipeline re-runs per consumer. (The layout scan itself sits above
    // hammingBandedPairs' eager checkpoint, so it is pinned on the
    // store's own plan below, the TradeGraph edges() style.)
    val docScans = p.linesIterator.filter(l =>
      l.contains("FileScan") && l.contains("/documents.parquet")).toSeq
    assert(docScans.isEmpty,
      s"q255 re-derives the sketch from the base table:\n${docScans.mkString("\n")}")
    val sp = graft.queries.MediaSketch.dhash(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(sp.contains("FileScan") && sp.contains("graft_layout"),
      s"MediaSketch.dhash must read the materialized parquet:\n${sp.take(600)}")
    // round-17: the pair graph itself is a per-generation ingest
    // artifact — the consumer reads the verified-pairs store (one
    // layout FileScan), and the store's banded build is what the
    // oracle's all-pairs re-derivation validates
    assert(p.contains("graft_layout"),
      s"q255 must read the materialized verified-pairs store:\n${p.take(600)}")
    val pp = graft.queries.MediaSketch.dhashPairs(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(pp.contains("FileScan") && pp.contains("graft_layout"),
      s"MediaSketch.dhashPairs must read the materialized parquet:\n${pp.take(600)}")
  }

  test("round-14 family: funnel stays join-shaped, perceptual dedup stays banded") {
    // q256: the k-step ladder is bounded range joins over per-user
    // firsts — like q247, no window functions and no cross product
    val p256 = plan("q256_funnel_steps")
    assert(!p256.contains("Window") && !p256.contains("CartesianProduct"),
      s"q256 must stay join-shaped:\n${p256.take(1200)}")
    // q257: clustering consumes the BANDED pair graph — a cartesian
    // anywhere would mean the image corpus pairs quadratically before
    // contraction even starts
    val p257 = plan("q257_dhash_clusters")
    assert(!p257.contains("CartesianProduct") && !p257.contains("BroadcastNestedLoopJoin"),
      s"q257 pairs must come from the band equi-join:\n${p257.take(1200)}")
    assert(!p257.linesIterator.exists(l =>
        l.contains("FileScan") && l.contains("/documents.parquet")),
      s"q257 must read the MediaSketch store, not re-run the codec:\n${p257.take(1200)}")
    // q259: the generic banding operator carries its posture to the
    // audio modality unchanged
    val p259 = plan("q259_wav_neardup")
    assert(!p259.contains("CartesianProduct") && !p259.contains("BroadcastNestedLoopJoin"),
      s"q259 pairs must come from the band equi-join:\n${p259.take(1200)}")
    assert(p259.linesIterator.count(_.contains("FileScan")) == 0,
      s"q259 must read the checkpointed sketch, not re-decode per branch:\n${p259.take(1200)}")
    // q260: video pairs come from the frame-hash TOKEN equi-join — a
    // cartesian would mean videos pair quadratically instead of
    // through shared frame hashes
    val p260 = plan("q260_video_neardup")
    assert(!p260.contains("CartesianProduct") && !p260.contains("BroadcastNestedLoopJoin"),
      s"q260 pairs must come from the token equi-join:\n${p260.take(1200)}")
  }

  test("round-15 family: wide-band pairs stay banded, Hamming k-NN broadcasts the query side") {
    // q261: the wide-band regime is the SAME banded plan as q255 — the
    // (band_idx, band_value) equi-join with stop-bucket cap — only the
    // band width changes; a cartesian would defeat the density fix
    val p261 = plan("q261_dhash_neardup_wide")
    assert(!p261.contains("CartesianProduct") && !p261.contains("BroadcastNestedLoopJoin"),
      s"q261 pairs must come from the band equi-join:\n${p261.take(1200)}")
    assert(!p261.linesIterator.exists(l =>
        l.contains("FileScan") && l.contains("/documents.parquet")),
      s"q261 must read the MediaSketch store, not re-run the codec:\n${p261.take(1200)}")
    // q262: brute-force Hamming k-NN IS a BroadcastNestedLoopJoin by
    // design — but the build side must be the |Q|-row broadcast query
    // set (one narrow corpus pass), never a shuffle of the corpus
    val p262 = plan("q262_hamming_knn")
    assert(p262.contains("BroadcastNestedLoopJoin") && p262.contains("BroadcastExchange"),
      s"q262 must broadcast the query set over one corpus pass:\n${p262.take(1200)}")
    assert(!p262.contains("CartesianProduct") && !p262.contains("SortMergeJoin"),
      s"q262 must not shuffle the corpus for the scan:\n${p262.take(1200)}")
    assert(!p262.linesIterator.exists(l =>
        l.contains("FileScan") && l.contains("/documents.parquet")),
      s"q262 must read the MediaSketch store:\n${p262.take(1200)}")
    // q263: the banded search path replaces the corpus scan with band
    // equi-joins (broadcast query bands) — no nested-loop anywhere
    val p263 = plan("q263_hamming_knn_banded")
    assert(!p263.contains("CartesianProduct") && !p263.contains("BroadcastNestedLoopJoin"),
      s"q263 candidates must come from the band equi-join:\n${p263.take(1200)}")
    assert(p263.contains("BroadcastExchange"),
      s"q263 must broadcast the query bands:\n${p263.take(1200)}")
    // q265: the spectral near-dup inherits the banded posture — pairs
    // from the band equi-join over the checkpointed sketch, no re-decode
    val p265 = plan("q265_spectral_neardup")
    assert(!p265.contains("CartesianProduct") && !p265.contains("BroadcastNestedLoopJoin"),
      s"q265 pairs must come from the band equi-join:\n${p265.take(1200)}")
    assert(p265.linesIterator.count(_.contains("FileScan")) == 0,
      s"q265 must read the checkpointed sketch, not re-decode per branch:\n${p265.take(1200)}")
    // q266: the 16-chunk banding keeps the same plan discipline, over
    // the materialized dhash256 store (no codec re-run per consumer)
    val p266 = plan("q266_dhash256_neardup")
    assert(!p266.contains("CartesianProduct") && !p266.contains("BroadcastNestedLoopJoin"),
      s"q266 pairs must come from the band equi-join:\n${p266.take(1200)}")
    assert(!p266.linesIterator.exists(l =>
        l.contains("FileScan") && l.contains("/documents.parquet")),
      s"q266 must read the dhash256 store, not re-run the codec:\n${p266.take(1200)}")
    // q267: wide-sketch search keeps the q263 posture — band equi-join
    // with broadcast query bands, never a nested loop over the corpus
    val p267 = plan("q267_hamming_knn_wide")
    assert(!p267.contains("CartesianProduct") && !p267.contains("BroadcastNestedLoopJoin"),
      s"q267 candidates must come from the band equi-join:\n${p267.take(1200)}")
    assert(p267.contains("BroadcastExchange"),
      s"q267 must broadcast the query bands:\n${p267.take(1200)}")
    // q281: grouped banding (round-16) keeps the identical search
    // posture — band equi-join with broadcast query bands; the only
    // plan difference from q267 is the band derivation width
    val p281 = plan("q281_hamming_knn_grouped")
    assert(!p281.contains("CartesianProduct") && !p281.contains("BroadcastNestedLoopJoin"),
      s"q281 candidates must come from the grouped-band equi-join:\n${p281.take(1200)}")
    assert(p281.contains("BroadcastExchange"),
      s"q281 must broadcast the query bands:\n${p281.take(1200)}")
  }

  test("round-15b family: audio search stays banded, winnowing stays narrow/postings-shaped") {
    // q268: query-by-audio keeps the q263 search posture — band
    // equi-join candidates with broadcast query bands over the
    // materialized spectral store (never a nested loop, never a
    // re-decode: the store scan sits under hammingTopKBanded's
    // checkpoint, so no documents.parquet scan may appear)
    val p268 = plan("q268_spectral_knn")
    assert(!p268.contains("CartesianProduct") && !p268.contains("BroadcastNestedLoopJoin"),
      s"q268 candidates must come from the band equi-join:\n${p268.take(1200)}")
    assert(p268.contains("BroadcastExchange"),
      s"q268 must broadcast the query bands:\n${p268.take(1200)}")
    assert(!p268.linesIterator.exists(l =>
        l.contains("FileScan") && l.contains("/documents.parquet")),
      s"q268 must read the spectral store, not re-run the WAV codec:\n${p268.take(1200)}")
    // the spectral store itself reads its materialized parquet (the
    // MediaSketch.dhash pin replayed on the audio modality)
    val sps = graft.queries.MediaSketch.spectral(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(sps.contains("FileScan") && sps.contains("graft_layout"),
      s"MediaSketch.spectral must read the materialized parquet:\n${sps.take(600)}")
    // q269: reads the materialized winnow store (round-16 TextSketch —
    // winnow at ingest, the MediaSketch discipline on text): no join,
    // no per-query gram-md5 re-derivation (no documents.parquet scan);
    // the builder itself must read the materialized parquet
    val p269 = plan("q269_winnow_fingerprints")
    assert(!p269.contains("Join"),
      s"q269 must not join — it reads the fingerprint store:\n${p269.take(1200)}")
    assert(!p269.linesIterator.exists(l =>
        l.contains("FileScan") && l.contains("/documents.parquet")),
      s"q269 must read the winnow store, not re-derive per query:\n${p269.take(1200)}")
    val wfs = graft.queries.TextSketch.winnowFps(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(wfs.contains("FileScan") && wfs.contains("graft_layout"),
      s"TextSketch.winnowFps must read the materialized parquet:\n${wfs.take(600)}")
    // q270: pairs come from the df-capped fingerprint postings
    // equi-join over the SAME store — a cartesian/nested-loop would
    // pair the corpus quadratically, and a documents.parquet scan
    // would mean the selection re-derived per query
    val p270 = plan("q270_winnow_neardup")
    assert(!p270.contains("CartesianProduct") && !p270.contains("BroadcastNestedLoopJoin"),
      s"q270 pairs must come from the postings equi-join:\n${p270.take(1200)}")
    assert(!p270.linesIterator.exists(l =>
        l.contains("FileScan") && l.contains("/documents.parquet")),
      s"q270 must read the winnow store, not re-derive per query:\n${p270.take(1200)}")
    // q271: the dedup-first composition must run the exact hash
    // aggregate BEFORE the pairwise stage (the q205 pin): the keeper
    // aggregate feeds a join, and no cartesian appears anywhere
    val p271 = plan("q271_winnow_dedup_first")
    assert(!p271.contains("CartesianProduct") && !p271.contains("BroadcastNestedLoopJoin"),
      s"q271 pairs must come from the postings equi-join:\n${p271.take(1200)}")
    // q272: query-by-video candidates come from the frame-token
    // equi-join over the materialized video store — no nested loop,
    // no per-query codec re-run
    val p272 = plan("q272_video_knn")
    assert(!p272.contains("CartesianProduct") && !p272.contains("BroadcastNestedLoopJoin"),
      s"q272 candidates must come from the token equi-join:\n${p272.take(1200)}")
    assert(p272.contains("BroadcastExchange"),
      s"q272 must broadcast the query tokens:\n${p272.take(1200)}")
    assert(!p272.linesIterator.exists(l =>
        l.contains("FileScan") && l.contains("/documents.parquet")),
      s"q272 must read the video token store, not re-run the codec:\n${p272.take(1200)}")
    // q260 now shares that store: its consumer plan must not scan the
    // base table either (the frame-codec pass moved to the build)
    val p260s = plan("q260_video_neardup")
    assert(!p260s.linesIterator.exists(l =>
        l.contains("FileScan") && l.contains("/documents.parquet")),
      s"q260 must read the video token store, not re-run the codec:\n${p260s.take(1200)}")
    val vts = graft.queries.MediaSketch.videoTokens(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(vts.contains("FileScan") && vts.contains("graft_layout"),
      s"MediaSketch.videoTokens must read the materialized parquet:\n${vts.take(600)}")
  }

  test("substring dedup family: one wh-keyed window, id-keyed equi-joins only") {
    // q273: the stride-1 window stream is a Generate feeding ONE
    // window-hash-keyed Window (count + first-occurrence min in a
    // single pass — no groupBy-then-join-back double scan of the
    // exploded stream); every join is an id-keyed equi-join (the
    // per-doc stats attach), never a pairwise stage — a span shared by
    // 10^6 docs must stay one hash partition, not C(10^6,2) rows
    val p273 = plan("q273_substring_dedup")
    assert(!p273.contains("CartesianProduct") && !p273.contains("BroadcastNestedLoopJoin"),
      s"q273 has no pairwise stage by construction:\n${p273.take(1200)}")
    // round-16: the stride-1 window stream comes from the materialized
    // TextSketch store (no per-query Generate of 2.2M windows — the
    // explode moved to the ingest-time build); the doc table is still
    // scanned once for the rebuild text
    assert(p273.linesIterator.exists(l =>
        l.contains("FileScan") && l.contains("graft_layout")),
      s"q273 must read the window store, not re-derive per query:\n${p273.take(1200)}")
    assert(p273.contains("Window"),
      s"q273 marks non-first occurrences with a wh-keyed window:\n${p273.take(1200)}")
    // q274: the dedup-first composition runs the exact content-hash
    // aggregate BEFORE any window explodes (the q205/q271 pin) — the
    // keeper aggregate must appear, and still no pairwise stage
    val p274 = plan("q274_substring_dedup_first")
    assert(!p274.contains("CartesianProduct") && !p274.contains("BroadcastNestedLoopJoin"),
      s"q274 has no pairwise stage by construction:\n${p274.take(1200)}")
    assert(p274.contains("md5") || p274.contains("Aggregate"),
      s"q274 must hash-aggregate keepers before the window stream:\n${p274.take(1200)}")
    // q275: the rolling engine keeps the q273 posture — codegen'd
    // rolling_window_hash feeds the Generate (no md5 in the window
    // stream), hash candidates re-group by (wh, substring) for the
    // exact verify, and still no pairwise stage anywhere
    val p275 = plan("q275_substring_dedup_rolling")
    assert(!p275.contains("CartesianProduct") && !p275.contains("BroadcastNestedLoopJoin"),
      s"q275 has no pairwise stage by construction:\n${p275.take(1200)}")
    assert(p275.contains("rolling_window_hash"),
      s"q275 windows must come from the codegen'd rolling pass:\n${p275.take(1200)}")
    assert(p275.contains("Window"),
      s"q275 marks candidates/occurrences with wh-keyed windows:\n${p275.take(1200)}")
    // q280: the production composition = q274's keeper-first pin AND
    // q275's rolling-pass pin in ONE plan — keepers hash-aggregate
    // before the window stream, windows come from the codegen'd
    // rolling pass (no md5 window stream), and still no pairwise stage
    val p280 = plan("q280_substring_rolling_first")
    assert(!p280.contains("CartesianProduct") && !p280.contains("BroadcastNestedLoopJoin"),
      s"q280 has no pairwise stage by construction:\n${p280.take(1200)}")
    assert(p280.contains("rolling_window_hash"),
      s"q280 windows must come from the codegen'd rolling pass:\n${p280.take(1200)}")
    // q282: decontamination probes the corpus window stream against a
    // BROADCAST bench window set (benchmark-sized by contract) — the
    // corpus-byte-proportional stream itself never shuffles, so the
    // mark stage must be a broadcast hash semi-join, never a
    // sort-merge of the window stream or any pairwise shape
    val p282 = plan("q282_substring_decontaminate")
    assert(!p282.contains("CartesianProduct") && !p282.contains("BroadcastNestedLoopJoin"),
      s"q282 has no pairwise stage by construction:\n${p282.take(1200)}")
    assert(p282.contains("BroadcastHashJoin"),
      s"q282 must probe broadcast bench windows:\n${p282.take(1200)}")
    assert(!p282.contains("SortMergeJoin"),
      s"q282's window stream must never shuffle into a merge join:\n${p282.take(1200)}")
  }

  test("q278 weighted Jaccard: df-capped postings join, no cartesian") {
    // pairs must come from the token postings equi-join over the
    // df-capped space — a cartesian/nested-loop would pair the corpus
    // quadratically; the keeper aggregate runs before any posting
    val p = plan("q278_weighted_jaccard")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q278 pairs must come from the postings equi-join:\n${p.take(1200)}")
  }

  test("q279 winnow search: broadcast query fps over capped postings, no cartesian") {
    // the snippet search keeps the q263/q272 search posture: a bounded
    // query set broadcasts over the df-capped corpus postings — never
    // a nested loop over the corpus
    val p = plan("q279_winnow_search")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q279 candidates must come from the fingerprint equi-join:\n${p.take(1200)}")
    assert(p.contains("BroadcastExchange"),
      s"q279 must broadcast the query fingerprints:\n${p.take(1200)}")
  }

  test("q276 PII redaction is a narrow projection: no join, no aggregate") {
    // the privacy pass must scale with scan bandwidth alone — a join
    // or aggregate anywhere means the redaction plan stopped being a
    // per-row rewrite (the only exchange is the presentation sort)
    val p = plan("q276_pii_redact")
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      s"q276 must be a pure projection over the scan:\n${p.take(1200)}")
    assert(p.contains("Project"),
      s"q276 rewrites rows in a codegen'd projection:\n${p.take(1200)}")
  }

  test("q277 shard layout: one shard-keyed window, no join") {
    // the layout op pays exactly one global shuffle: the shard-keyed
    // window sort (what repartition+sortWithinPartitions costs in a
    // real layout writer), then a shard-bounded aggregate — a join
    // anywhere would mean the plan stopped being a single-pass layout
    val p = plan("q277_shard_layout")
    assert(!p.contains("Join"),
      s"q277 is a single-pass layout — no join may appear:\n${p.take(1200)}")
    assert(p.contains("Window"),
      s"q277 ranks within shards with a window sort:\n${p.take(1200)}")
  }

  test("q184 scatter: narrow generate + map-side combine, no data-scaled join") {
    val p = plan("q184_emb_scatter")
    // the d(d+1)/2 per-row products come from chained posexplodes — a
    // Generate, never a self-join of the exploded frame
    assert(p.contains("Generate posexplode"),
      s"products must come from a narrow generate:\n${p.take(1200)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"no data-scaled join may exist — the only joins are the broadcast " +
        s"64-row marginals:\n${p.take(1200)}")
    // partial aggregation: each task combines its n·d² expansion down to
    // ≤ d(d+1)/2 rows BEFORE the exchange — the property that makes the
    // expansion free of shuffle volume at 100 TB
    assert(p.contains("partial_sum"),
      s"scatter sums must map-side combine:\n${p.take(1200)}")
  }

  test("round-17 family: epoch mixture stays rank-windowed, CDC stays store-fed + generate-shaped") {
    // q286: the epoch fan-out is a narrow Generate over the rank-kept
    // rows — one source-partitioned window, broadcast targets, never a
    // cartesian or a data-scaled join
    val p286 = plan("q286_mix_epoch_rows")
    assert(p286.contains("Window") && p286.contains("Generate"),
      s"q286 needs the rank window + the epoch generate:\n${p286.take(1200)}")
    assert(!p286.contains("CartesianProduct") && !p286.contains("SortMergeJoin"),
      s"q286's only joins are the broadcast targets:\n${p286.take(1200)}")
    // q287 (the LIVE face): the per-position md5 runs over a Generate'd
    // position stream (the codegen'd-projection shape whose HOF-lambda
    // twin measured 58 s vs 3.5 s at sf0.1), one doc-keyed boundary
    // aggregate, no cartesian
    val p287 = plan("q287_cdc_chunks")
    assert(p287.contains("Generate"),
      s"q287's md5 pass must ride an exploded position stream:\n${p287.take(1200)}")
    assert(!p287.contains("CartesianProduct"),
      s"q287 must stay join/aggregate-shaped:\n${p287.take(1200)}")
    // q288 (the store consumer): reads the materialized chunk table —
    // never re-runs the corpus-byte md5 pass per analysis
    val p288 = plan("q288_cdc_dedup")
    assert(!p288.linesIterator.exists(l =>
        l.contains("FileScan") && l.contains("/documents.parquet")),
      s"q288 must read the chunk store, not re-chunk the corpus:\n${p288.take(1200)}")
    assert(p288.contains("graft_layout"),
      s"q288 must read the materialized chunk table:\n${p288.take(600)}")
  }
}
