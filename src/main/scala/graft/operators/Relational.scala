package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.GraftGlue

/** Generic relational operators from SURVEY.md §2.2/§2.5, parameterized by
  * column. Every operator is expressed as a declarative plan (no
  * `.collect()`-then-refilter, no driver-side loops), so each one scales to
  * arbitrary input size: scalar statistics (quantile bounds, min/max) are
  * computed as single-row aggregates and re-attached with a broadcast
  * cross-join, which Catalyst plans as a BroadcastNestedLoopJoin over one
  * row — a no-shuffle pattern that works identically at 100 TB.
  */
object Relational {

  /** Spread a SMALL frame across the cluster before per-row-expensive
    * downstream work (hash kernels, DP loops, iterative folds): an
    * EXPLICIT-count repartition, because an advisory `repartition(col)`
    * of a few thousand rows gets AQE-coalesced back to ONE partition
    * and everything downstream runs single-threaded. Measured at sf0.1
    * local[32] just from pinning the count: q246's Levenshtein stage
    * 4.6 s → 0.8 s, q42 MinHash 2.25 → 1.49 s, q95 2.18 → 1.63 s.
    * Count = defaultParallelism, so the same code sizes itself to any
    * cluster; hash partitioning on `cols` is preserved, so downstream
    * same-key aggregates still need no further exchange. That holds
    * across an eager
    * [[org.apache.spark.sql.graftglue.GraftGlue.materialize]] too: it
    * keeps the partitioning, so the checkpoint's consumers do not
    * shuffle again. */
  def spread(df: DataFrame, cols: Column*): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, cols: _*)

  /** SCALE-ADAPTIVE [[spread]] (r18, optimization-guide §2.5 "one huge
    * unsplittable file → repartition immediately after the read"): the
    * local testdata tables are single-row-group parquet, so any narrow
    * per-row-expensive chain (md5 sketch kernels, gram HOFs) downstream
    * of a scan runs as ONE task no matter the core count. This spreads
    * ONLY when the frame's planned parallelism is actually below
    * defaultParallelism — on a production multi-row-group/multi-file
    * table the scan already fans out and this is the identity, so no
    * shuffle of wide rows (text payloads) is ever ADDED at scale; the
    * unconditional [[spread]] stays the right face where the downstream
    * aggregate needed the same-key exchange anyway (the minhash
    * "exchange moved earlier" pattern). The `.rdd` probe compiles the
    * (scan-shaped) plan but launches no job. */
  def spreadIfNarrow(df: DataFrame, cols: Column*): DataFrame =
    if (df.isStreaming) df // micro-batch frames can't probe .rdd; the
                           // per-batch writers own their partitioning
    else if (df.rdd.getNumPartitions <
        df.sparkSession.sparkContext.defaultParallelism)
      spread(df, cols: _*)
    else df

  /** Exact cent-quantized sum of a money column: `sum(round(c*100)::long)`.
    * Per-element quantization is bit-deterministic across engines and the
    * integer sum is associative, so results are exactly reproducible
    * regardless of partitioning/merge order — unlike a raw double sum,
    * whose low bits depend on aggregation order. Used for every money SUM
    * in the oracle-checked suite. */
  def centsSum(c: Column): Column = sum(round(c * 100).cast("long"))

  /** Cent-quantized sum rendered back to currency units (exact / 100.0). */
  def moneySum(c: Column): Column = centsSum(c) / 100.0

  /** A4 — top-k groups by frequency with a deterministic tie-break. */
  def topKByCount(df: DataFrame, keys: Seq[Column], k: Int): DataFrame =
    df.groupBy(keys: _*)
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc +: keys.map(_.asc): _*)
      .limit(k)

  /** Exact linear-interpolated quantiles of a decimal-quantized column
    * (money: 2 decimals → scale=100) via two-level rank selection, NOT a
    * buffer-all Percentile aggregate. Quantization is lossless for
    * s-decimal data (round(x·s) / s round-trips the double exactly for
    * |x·s| < 2^53), so results are bit-identical to exact
    * percentile/quantile_cont — but every stage is a codegen'd hash
    * aggregate or a window over a bounded histogram, never a per-
    * partition buffer of the data:
    *
    *   0. range pass — (min, max) of the quantized values picks the
    *      bucket width W adaptively: W = max(minBucketWidth,
    *      ceil(range / maxCoarseBuckets)), so the coarse histogram —
    *      and the single-partition cumulative window over it — never
    *      exceeds maxCoarseBuckets rows no matter how wide the column's
    *      value range is (a fixed W would single-thread and spill on a
    *      wide-range column);
    *   1. coarse pass — groupBy floor(cents/W): ≤ maxCoarseBuckets
    *      buckets whatever the row count; a cumulative window over those
    *      buckets locates the bucket holding each target rank;
    *   2. refine pass — per-value histogram restricted to the ≤ 2·|qs|
    *      target buckets (≤ W distinct values each, so skew cannot blow
    *      it up: an all-ties column compresses to one row), then the
    *      bracketing values are picked by rank and interpolated.
    *
    * Quantization exactness: results equal percentile/quantile_cont only
    * when every value round-trips `round(x·scale)/scale == x` (true for
    * `scale`-decimal data). With `strict = true` the range pass also
    * measures the max round-trip error and the query FAILS (assert_true)
    * if any value would lose precision — callers that cannot tolerate
    * silent quantization opt in instead of silently getting 1/scale-
    * rounded quantiles.
    *
    * Returns one row with columns p0..p{qs.size-1}. */
  /** @param domainBounded caller's promise that the column's VALUE DOMAIN
    *   is structurally bounded (money cents, counts, day offsets — not
    *   arbitrary 64-bit data): the engine then folds its three corpus
    *   passes into ONE per-value histogram pass (r18, guide §1.2 "remove
    *   unnecessary passes") and runs the range/coarse/refine stages over
    *   the domain-bounded distinct-value table instead of re-scanning the
    *   data. Identical results and identical bucket geometry (same W
    *   formula); only the pass structure changes. Do NOT set it for
    *   columns whose distinct-value count tracks the DATA (free-form
    *   doubles, ids) — the histogram would be row-scaled. */
  def exactQuantilesQuantized(df: DataFrame, c: String, qs: Seq[Double],
                              scale: Int = 100, minBucketWidth: Long = 1024L,
                              maxCoarseBuckets: Long = 1L << 16,
                              strict: Boolean = false,
                              domainBounded: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def centsOf(x: Column): Column = round(x * scale).cast("long")
    def bucketOf(cents: Column): Column = // floor-division, negative-safe
      floor(cents.cast("double") / col("__W")).cast("long")

    // Level 0: value range → adaptive bucket width (one-row broadcast).
    val rows = {
      val base = df.filter(col(c).isNotNull)
      if (strict) // the round-trip error column exists only when checked
        base.select(centsOf(col(c)).as("__cents"),
          abs(col(c) - centsOf(col(c)).cast("double") / scale).as("__err"))
      else base.select(centsOf(col(c)).as("__cents"))
    }
    // domainBounded: the ONE corpus pass — per-value counts (plus the
    // per-value max round-trip error when strict, whose max-of-maxes is
    // the global max the strict gate needs)
    val hist = if (!domainBounded) None else Some {
      val aggs = Seq(sum(lit(1L)).as("__hcnt")) ++
        (if (strict) Seq(max(col("__err")).as("__err")) else Nil)
      rows.groupBy(col("__cents")).agg(aggs.head, aggs.tail: _*)
        .transform(GraftGlue.materialize(_))
    }
    val wBase = greatest(lit(minBucketWidth),
      ceil((col("__cmax") - col("__cmin") + 1).cast("double") / maxCoarseBuckets).cast("long"))
    // strict: assert_true is folded INTO the width expression (adding a
    // coalesced null) so column pruning cannot drop the check
    val wExpr =
      if (strict)
        wBase + coalesce(assert_true(col("__qerr") <= 0.0,
          concat(lit(s"exactQuantilesQuantized($c, scale=$scale): values are not " +
            s"$scale-quantized; max round-trip error "),
          col("__qerr").cast("string"))).cast("long"), lit(0L))
      else wBase
    val statsAggs = Seq(max(col("__cents")).as("__cmax")) ++
      (if (strict) Seq(max(col("__err")).as("__qerr")) else Nil)
    val statsW = hist.getOrElse(rows)
      .agg(min(col("__cents")).as("__cmin"), statsAggs: _*)
      .select(wExpr.as("__W"))

    // Level 1: coarse bucket histogram. Map-side combine collapses the
    // scan to ≤ maxCoarseBuckets rows regardless of row count; the
    // ordered cumulative window runs over that bounded histogram only.
    // (domainBounded: summed from the value histogram — no data re-scan)
    val coarse = hist match {
      case Some(h) => h.select(col("__cents"), col("__hcnt"))
        .crossJoin(broadcast(statsW))
        .groupBy(bucketOf(col("__cents")).as("b"), col("__W"))
        .agg(sum(col("__hcnt")).as("cnt"))
      case None => rows.select(col("__cents"))
        .crossJoin(broadcast(statsW))
        .groupBy(bucketOf(col("__cents")).as("b"), col("__W"))
        .agg(count(lit(1)).as("cnt"))
    }
    val wb = Window.orderBy(col("b"))
    val cumc = coarse.select(
      col("b"), col("cnt"), col("__W"),
      sum(col("cnt")).over(wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("cum"),
      sum(col("cnt")).over(wb.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).as("n"))
    def k(q: Double): Column = (col("n") - 1) * lit(q)
    // For each quantile, the bucket holding global rank r (1-based) and
    // the count of rows strictly before that bucket. cum and cum-cnt are
    // both increasing in b, so min-over-eligible picks the first bucket.
    val targetAggs = qs.zipWithIndex.flatMap { case (q, i) =>
      val r0 = floor(k(q)) + 1
      val r1 = ceil(k(q)) + 1
      Seq(min(when(col("cum") >= r0, col("b"))).as(s"b0_$i"),
          min(when(col("cum") >= r0, col("cum") - col("cnt"))).as(s"below0_$i"),
          min(when(col("cum") >= r1, col("b"))).as(s"b1_$i"),
          min(when(col("cum") >= r1, col("cum") - col("cnt"))).as(s"below1_$i"))
    }
    val targets = cumc.agg(max(col("n")).as("n"),
      min(col("__W")).as("__W") +: targetAggs: _*)

    // Level 2: refine only inside the (≤ 2·|qs|) target buckets. The
    // per-bucket distinct-value histogram is bounded by W rows, so the
    // partitioned cumulative window and final pick are O(|qs|·W) however
    // skewed the data is (an all-ties column compresses to one row).
    // (domainBounded: the value histogram IS the per-value refine table —
    // filter it to the target buckets, no third data pass)
    val isTarget = qs.indices
      .map(i => bucketOf(col("v")) === col(s"b0_$i") || bucketOf(col("v")) === col(s"b1_$i"))
      .reduce(_ || _)
    val fine0 = hist match {
      case Some(h) => h
        .select(col("__cents").as("v"), col("__hcnt").as("cnt"))
        .crossJoin(broadcast(targets))
        .filter(isTarget)
      case None => rows.select(col("__cents").as("v"))
        .crossJoin(broadcast(targets))
        .filter(isTarget)
        .groupBy(col("v") +: col("n") +: col("__W") +: qs.indices.flatMap(i =>
          Seq(col(s"b0_$i"), col(s"below0_$i"), col(s"b1_$i"), col(s"below1_$i"))): _*)
        .agg(count(lit(1)).as("cnt"))
    }
    val fine = fine0
      .withColumn("fcum", sum(col("cnt")).over(
        Window.partitionBy(bucketOf(col("v"))).orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val pickAggs = qs.zipWithIndex.flatMap { case (q, i) =>
      val r0 = floor(k(q)) + 1
      val r1 = ceil(k(q)) + 1
      Seq(
        min(when(bucketOf(col("v")) === col(s"b0_$i") &&
          col(s"below0_$i") + col("fcum") >= r0, col("v"))).as(s"v0_$i"),
        min(when(bucketOf(col("v")) === col(s"b1_$i") &&
          col(s"below1_$i") + col("fcum") >= r1, col("v"))).as(s"v1_$i"))
    }
    val picked = fine.agg(max(col("n")).as("n"), pickAggs: _*)
    picked.select(qs.zipWithIndex.map { case (q, i) =>
      val frac = k(q) - floor(k(q))
      val v0 = col(s"v0_$i").cast("double") / scale.toDouble
      val v1 = col(s"v1_$i").cast("double") / scale.toDouble
      (v0 + frac * (v1 - v0)).as(s"p$i")
    }: _*)
  }

  /** MULTI-COLUMN twin of [[exactQuantilesQuantized]]: the same
    * adaptive-width two-level histogram, run for SEVERAL columns in the
    * SAME three passes — the repeat-derivation fix for the RFM shape
    * (q226: three per-metric quantile builds = nine corpus passes where
    * three suffice; round-17 verdict directive). The metric id `__m`
    * rides every stage: the value stream is one posexplode over the
    * column array (ONE scan of `df`), bucket widths / coarse histograms
    * / target buckets / refine picks all key or partition by `__m`, so
    * every window stays per-metric (never a one-task global frame) and
    * the pass count is independent of the column count. Returns ONE row
    * with columns `<col>_p<i>` — broadcastable exactly like the
    * single-column form's output; each column's values equal
    * `exactQuantilesQuantized(df, col, qs, ...)` by construction
    * (RelationalSpec pins the equality per column). Quantization
    * contract as the single-column form: exact for `scale`-decimal
    * data. */
  def exactQuantilesQuantizedMulti(df: DataFrame, cs: Seq[String],
                                   qs: Seq[Double], scale: Int = 100,
                                   minBucketWidth: Long = 1024L,
                                   maxCoarseBuckets: Long = 1L << 16,
                                   domainBounded: Boolean = false)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(cs.nonEmpty && qs.nonEmpty, s"need columns and quantiles")
    def centsOf(x: Column): Column = round(x * scale).cast("long")
    def bucketOf(cents: Column): Column = // floor-division, negative-safe
      floor(cents.cast("double") / col("__W")).cast("long")
    // one scan: (metric id, cents); per-metric nulls drop independently
    val rows = df
      .select(posexplode(array(cs.map(c => centsOf(col(c))): _*))
        .as(Seq("__m", "__cents")))
      .filter(col("__cents").isNotNull)
    // domainBounded (the single-column form's r18 contract): ONE corpus
    // pass builds the per-(metric, value) histogram; range, coarse and
    // refine all run over the domain-bounded distinct-value table
    val hist = if (!domainBounded) None else Some(
      rows.groupBy(col("__m"), col("__cents"))
        .agg(sum(lit(1L)).as("__hcnt")).transform(GraftGlue.materialize(_)))
    // per-metric adaptive width — a |cs|-row broadcast frame
    val statsW = hist.getOrElse(rows).groupBy(col("__m"))
      .agg(min(col("__cents")).as("__cmin"), max(col("__cents")).as("__cmax"))
      .select(col("__m"), greatest(lit(minBucketWidth),
        ceil((col("__cmax") - col("__cmin") + 1).cast("double") / maxCoarseBuckets)
          .cast("long")).as("__W"))
    // coarse histogram per metric; cumulative window PARTITIONED by __m
    val coarse = hist match {
      case Some(h) => h.join(broadcast(statsW), "__m")
        .groupBy(col("__m"), bucketOf(col("__cents")).as("b"), col("__W"))
        .agg(sum(col("__hcnt")).as("cnt"))
      case None => rows.join(broadcast(statsW), "__m")
        .groupBy(col("__m"), bucketOf(col("__cents")).as("b"), col("__W"))
        .agg(count(lit(1)).as("cnt"))
    }
    val wb = Window.partitionBy(col("__m")).orderBy(col("b"))
    val cumc = coarse.select(
      col("__m"), col("b"), col("cnt"), col("__W"),
      sum(col("cnt")).over(wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("cum"),
      sum(col("cnt")).over(wb.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).as("n"))
    def k(q: Double): Column = (col("n") - 1) * lit(q)
    val targetAggs = qs.zipWithIndex.flatMap { case (q, i) =>
      val r0 = floor(k(q)) + 1
      val r1 = ceil(k(q)) + 1
      Seq(min(when(col("cum") >= r0, col("b"))).as(s"b0_$i"),
          min(when(col("cum") >= r0, col("cum") - col("cnt"))).as(s"below0_$i"),
          min(when(col("cum") >= r1, col("b"))).as(s"b1_$i"),
          min(when(col("cum") >= r1, col("cum") - col("cnt"))).as(s"below1_$i"))
    }
    val targets = cumc.groupBy(col("__m"))
      .agg(max(col("n")).as("n"), min(col("__W")).as("__W") +: targetAggs: _*)
    // refine inside each metric's ≤ 2·|qs| target buckets
    // (domainBounded: the value histogram IS the refine table)
    val isTarget = qs.indices
      .map(i => bucketOf(col("v")) === col(s"b0_$i") || bucketOf(col("v")) === col(s"b1_$i"))
      .reduce(_ || _)
    val fine0 = hist match {
      case Some(h) => h
        .select(col("__m"), col("__cents").as("v"), col("__hcnt").as("cnt"))
        .join(broadcast(targets), "__m")
        .filter(isTarget)
      case None => rows.select(col("__m"), col("__cents").as("v"))
        .join(broadcast(targets), "__m")
        .filter(isTarget)
        .groupBy(col("__m") +: col("v") +: col("n") +: col("__W") +:
          qs.indices.flatMap(i =>
            Seq(col(s"b0_$i"), col(s"below0_$i"), col(s"b1_$i"), col(s"below1_$i"))): _*)
        .agg(count(lit(1)).as("cnt"))
    }
    val fine = fine0
      .withColumn("fcum", sum(col("cnt")).over(
        Window.partitionBy(col("__m"), bucketOf(col("v"))).orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val pickAggs = qs.zipWithIndex.flatMap { case (q, i) =>
      val r0 = floor(k(q)) + 1
      val r1 = ceil(k(q)) + 1
      Seq(
        min(when(bucketOf(col("v")) === col(s"b0_$i") &&
          col(s"below0_$i") + col("fcum") >= r0, col("v"))).as(s"v0_$i"),
        min(when(bucketOf(col("v")) === col(s"b1_$i") &&
          col(s"below1_$i") + col("fcum") >= r1, col("v"))).as(s"v1_$i"))
    }
    val picked = fine.groupBy(col("__m")).agg(max(col("n")).as("n"), pickAggs: _*)
    // fold the |cs|-row frame to the single wide row (one tiny agg —
    // no driver collect)
    val perMetric = picked.select(col("__m") +: qs.zipWithIndex.map { case (q, i) =>
      val frac = k(q) - floor(k(q))
      val v0 = col(s"v0_$i").cast("double") / scale.toDouble
      val v1 = col(s"v1_$i").cast("double") / scale.toDouble
      (v0 + frac * (v1 - v0)).as(s"p$i")
    }: _*)
    perMetric.agg(
      cs.zipWithIndex.flatMap { case (c, m) => qs.indices.map(i =>
        max(when(col("__m") === m, col(s"p$i"))).as(s"${c}_p$i")) }.head,
      cs.zipWithIndex.flatMap { case (c, m) => qs.indices.map(i =>
        max(when(col("__m") === m, col(s"p$i"))).as(s"${c}_p$i")) }.tail: _*)
  }

  /** Single-row frame of interquartile bounds for `c` (exact quantiles,
    * A13): (lo, hi) = (Q1 - f·IQR, Q3 + f·IQR). Quantiles come from the
    * scalable histogram path ([[exactQuantilesQuantized]]), which is
    * EXACT only for `scale`-decimal data (default: 2-decimal money). For
    * finer-grained columns either raise `scale`, pass `strict = true` to
    * fail fast instead of silently quantizing, or accept bounds quantized
    * to 1/scale — the filter below stays a valid outlier fence either
    * way, just at quantized resolution. */
  def iqrBounds(df: DataFrame, c: String, factor: Double = 1.5,
                scale: Int = 100, strict: Boolean = false,
                domainBounded: Boolean = false): DataFrame =
    exactQuantilesQuantized(df, c, Seq(0.25, 0.75), scale, strict = strict,
        domainBounded = domainBounded)
      .select(col("p0").as("q1"), col("p1").as("q3"))
      .select((col("q1") - lit(factor) * (col("q3") - col("q1"))).as("lo"),
              (col("q3") + lit(factor) * (col("q3") - col("q1"))).as("hi"))

  /** P8 — IQR outlier filter (featureEngineering.ipynb cell 20;
    * 1_EDA_Dashboard.py:141-148). The bounds row is broadcast, not
    * collected: one aggregate job + one narrow filtered scan. */
  /** Exact DOUBLED median per group of an integral column: med2 =
    * c[⌈n/2⌉] + c[⌈(n+1)/2⌉] over the group's sorted values (= 2·median
    * for odd n, lo+hi for even n) — an exact BIGINT, so no engine's
    * interpolation arithmetic is ever compared (the q133 house rule).
    *
    * Shape — the GROUPED form of [[exactQuantilesQuantized]]'s two-level
    * rank selection, with deterministic coarse buckets instead of
    * sampled range partitions (no checkpoint, no materialization):
    * distinct-value histogram (hash agg, map-side combined); per-group
    * value range picks a bucket width W bounding the bucket count, so
    * cumulative windows run per (group, bucket) — a task never sorts
    * more than one bucket's ≤ W distinct values — and bucket offsets
    * come from a window over the ≤ maxCoarseBuckets bucket totals per
    * group. Cost is bounded by DISTINCT values per group, never group
    * row count — the scalable replacement for per-group `percentile`,
    * whose UDAF buffers every value of the group in executor memory.
    * NULL values of `v` are dropped at the histogram stage — the same
    * null semantics as `percentile`, so the two formulations stay
    * interchangeable on null-containing input (a NULL bucket would
    * otherwise sort first and shift every rank). Returns (g, med2, n),
    * n counting non-null rows. */
  def groupedMedian2(df: DataFrame, g: String, v: String,
                     maxCoarseBuckets: Long = 1L << 16): DataFrame =
    groupedMedian2FromHist(
      df.filter(col(v).isNotNull)
        .groupBy(col(g), col(v)).agg(count(lit(1)).as("__n")),
      g, v, maxCoarseBuckets)

  /** [[groupedMedian2]] over a PREBUILT distinct-value histogram
    * (g, v, __n) — the amortized entry point when several medians
    * derive from one scan: a deviation histogram (|2v − med2| per
    * distinct value, counts summed) is itself a distinct-value
    * histogram, so a MAD computes med-then-mad entirely on the
    * first histogram without touching the data again (q133's shape).
    * Rows must be unique per (g, v); counts in `__n`. */
  def groupedMedian2FromHist(hist: DataFrame, g: String, v: String,
                             maxCoarseBuckets: Long = 1L << 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rng = hist.groupBy(col(g))
      .agg(min(col(v)).as("__lo"), max(col(v)).as("__hi"),
        sum(col("__n")).as("__nt"))
      .withColumn("__W", greatest(lit(1L),
        ceil((col("__hi") - col("__lo") + 1).cast("double") / maxCoarseBuckets)
          .cast("long")))
      .select(col(g), col("__lo"), col("__W"), col("__nt"))
    // no broadcast HINT: rng is one row per GROUP, and per-key medians
    // over a data-scaled key domain would make a forced broadcast a
    // driver OOM; AQE broadcasts it whenever it is actually small
    val b = hist.join(rng, g)
      .withColumn("__b", expr("(`" + v + "` - __lo) div __W"))
    val local = Window.partitionBy(col(g), col("__b")).orderBy(col(v))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offW = Window.partitionBy(col(g)).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = b.groupBy(col(g), col("__b")).agg(sum(col("__n")).as("__bt"))
      .withColumn("__off", coalesce(sum(col("__bt")).over(offW), lit(0L)))
      .select(col(g), col("__b"), col("__off"))
    val cum = b.join(offsets, Seq(g, "__b"))
      .withColumn("__cum", col("__off") + sum(col("__n")).over(local))
    // this value's rows cover ranks (__cum-__n, __cum]; the two median
    // slots are p1 = (n+1) div 2 and p2 = (n+2) div 2 (equal when n odd)
    def covers(p: Column): Column =
      (p > col("__cum") - col("__n") && p <= col("__cum")).cast("long")
    cum
      .select(col(g), col(v), col("__nt"),
        // integer div — Spark `/` on longs widens to double and would
        // put the even-n slots at half-ranks
        (covers(expr("(__nt + 1) div 2")) + covers(expr("(__nt + 2) div 2")))
          .as("__w"))
      .groupBy(col(g))
      .agg(sum(col(v) * col("__w")).as("med2"), max(col("__nt")).as("n"))
  }

  /** Grouped exact doubled-median for ENUM-BOUNDED group domains —
    * the third median engine, complementing `percentile` (fast, but
    * buffers whole groups in executor memory) and [[groupedMedian2]]
    * (unbounded group domains, but its windows walk the distinct-value
    * frame, which on near-unique values is the data itself):
    *
    *  1. one scan → per-group (min, max, n) — |groups| rows;
    *  2. iterative narrowing, one scan per round: every unresolved
    *     median slot's current value window re-buckets into `buckets`
    *     cells (per-slot windows ride a broadcast frame, the range
    *     predicate pushes down), the driver descends into the cell
    *     holding the slot's rank, and a one-value-wide window IS the
    *     slot. Windows shrink by the bucket factor per round, so
    *     rounds ≤ log_buckets(value range) — ≤ 6 over the full 2^62
    *     envelope, 2 for cent prices.
    *
    * No windows, no shuffle wider than |groups|·2·buckets rows, no
    * executor buffering, and the driver state is |groups|·2·buckets
    * longs whatever the VALUE distribution does (skew only adds a
    * round; a single-level residual probe would instead collect one
    * row per distinct value of the dominant bucket — data-dependent).
    * The GROUP DOMAIN MUST BE ENUM-BOUNDED (flags, statuses,
    * priorities — the olsFit k² legitimacy class); per-key medians
    * over data-scaled key domains belong on [[groupedMedian2]].
    * Returns (g, med2, n), NULL values of `v` AND null group keys
    * dropped — the [[groupedMedian2]] contract (its equi-join loses
    * null keys). `v` must be LongType (exact rank selection); the
    * group key is compared and returned AS A STRING — enum domains
    * are string-like by nature, and the per-slot window predicate
    * needs literal group values either way. */
  def groupedMedian2SmallDomain(df: DataFrame, g: String, v: String,
                                buckets: Int = 4096,
                                rangeHint: Option[Map[String, (Long, Long, Long)]] = None): DataFrame = {
    // buckets=1 makes widthOf equal the full window width — narrowing
    // never shrinks and every call dies on the convergence require;
    // buckets<=0 divides by zero. 16 is the useful floor (each round
    // must shrink the window by the bucket factor for the ≤16-round
    // bound over the 2^62 envelope to hold: 16^16 > 2^62).
    require(buckets >= 16, s"buckets must be >= 16 (narrowing factor); got $buckets")
    val spark = df.sparkSession
    import spark.implicits._
    // NULL group keys drop (not NPE): the window engine loses them in
    // its equi-join (null never equals null), so the two engines stay
    // interchangeable on null-keyed input
    val rows = df.filter(col(v).isNotNull && col(g).isNotNull)
      .select(col(g), col(v))
    // rangeHint skips the min/max/count scan when the caller already
    // knows a bound — e.g. a MAD stage whose deviation range derives
    // arithmetically from the median stage's range ([0, max(|2lo−m|,
    // |2hi−m|)]) and whose n is the same groups' n. Contract: per
    // string-rendered group key, (lo, hi) must BOUND every value (a
    // wider window only risks one extra narrowing round) and n must be
    // the EXACT non-null row count (it fixes the rank).
    val rng: Map[String, (Long, Long, Long)] = rangeHint.getOrElse {
      rows.groupBy(col(g))
        .agg(min(col(v)).as("lo"), max(col(v)).as("hi"), count(lit(1)).as("n"))
        .collect()
        .map(r => r.get(0).toString -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
    }
    if (rng.isEmpty)
      return spark.emptyDataFrame
        .select(lit("").as(g), lit(0L).as("med2"), lit(0L).as("n")).limit(0)
    require(rng.size <= (1 << 16),
      s"group domain too large for the driver-assisted engine: ${rng.size}")
    rng.foreach { case (k, (lo, hi, _)) =>
      require(BigInt(hi) - BigInt(lo) < (BigInt(1) << 62),
        s"value range of group $k exceeds the engine's 2^62 envelope") }
    // Iterative range narrowing, one slot per median position: each
    // round re-buckets every unresolved slot's CURRENT value window into
    // `buckets` cells (one scan for all slots, predicate pushed down),
    // and the driver descends into the cell holding the slot's rank.
    // The window shrinks by the bucket factor per round, so rounds are
    // bounded by log_buckets(value range) — ≤ 6 for the full 62-bit
    // envelope — and the driver never holds more than
    // |groups|·2·buckets count rows, NO MATTER HOW SKEWED the values
    // are (a single-level residual collect would pull one row per
    // distinct value of the dominant bucket — data-dependent).
    // Resolution: when a window is one value wide, that value IS the
    // slot.
    case class Slot(lo: Long, hi: Long, rank: Long)
    var slots: Map[(String, Int), Slot] = rng.flatMap { case (k, (lo, hi, n)) =>
      val ks = k.asInstanceOf[Any].toString
      Seq((ks, 1) -> Slot(lo, hi, (n + 1) / 2),
          (ks, 2) -> Slot(lo, hi, (n + 2) / 2))
    }.toMap
    val resolved = scala.collection.mutable.Map.empty[(String, Int), Long]
    var rounds = 0
    while (slots.nonEmpty) {
      val (done, todo) = slots.partition { case (_, s) => s.lo == s.hi }
      done.foreach { case (key, s) => resolved(key) = s.lo }
      slots = todo
      if (slots.nonEmpty) {
        rounds += 1
        require(rounds <= 16, "median narrowing failed to converge")
        def widthOf(s: Slot): Long =
          ((BigInt(s.hi) - BigInt(s.lo) + buckets) / buckets).max(1).toLong
        val frame = slots.toSeq.map { case ((gs, sl), s) =>
          (gs, sl, s.lo, s.hi, widthOf(s)) }
          .toDF("__g", "__s", "__lo", "__hi", "__w")
        // integer div — `/` on longs widens to double
        val counts = rows
          .join(broadcast(frame), col(g).cast("string") === col("__g")
            && col(v) >= col("__lo") && col(v) <= col("__hi"))
          .groupBy(col("__g"), col("__s"),
            expr(s"(`$v` - __lo) div __w").as("__b"))
          .agg(count(lit(1)).as("c"))
          .collect()
          .groupBy(r => (r.getString(0), r.getInt(1)))
          .view.mapValues(_.map(r => r.getLong(2) -> r.getLong(3)).sortBy(_._1))
          .toMap
        slots = slots.map { case (key, s) =>
          val w = widthOf(s)
          var cum = 0L
          var chosen = -1L
          var before = 0L
          for ((b, c) <- counts(key)) {
            if (chosen < 0) {
              if (cum + c >= s.rank) { chosen = b; before = cum }
              else cum += c
            }
          }
          require(chosen >= 0, s"median slot not covered for $key")
          val nLo = s.lo + chosen * w
          key -> Slot(nLo, math.min(s.hi, nLo + w - 1), s.rank - before)
        }
      }
    }
    val out = rng.toSeq.map { case (k, (_, _, n)) =>
      val ks = k.asInstanceOf[Any].toString
      (ks, resolved((ks, 1)) + resolved((ks, 2)), n)
    }
    out.toDF(g, "med2", "n")
  }

  def iqrFilter(df: DataFrame, c: String, factor: Double = 1.5,
                domainBounded: Boolean = false): DataFrame =
    df.crossJoin(broadcast(iqrBounds(df, c, factor, domainBounded = domainBounded)))
      .filter(col(c) >= col("lo") && col(c) <= col("hi"))
      .drop("lo", "hi")

  /** A15 — equal-width histogram: bucket = min(floor((x-min)/w), bins-1).
    * Min/max come from one aggregate, broadcast back; the bucketing itself
    * is a narrow map + one hash aggregate. */
  def histogram(df: DataFrame, c: String, bins: Int): DataFrame = {
    // drop nulls explicitly: least(null-arithmetic, bins-1) SKIPS the
    // null and would silently count null rows in the last bucket
    val rows = df.filter(col(c).isNotNull)
    val m = rows.agg(min(col(c)).as("mn"), max(col(c)).as("mx"))
    rows.crossJoin(broadcast(m))
      // mn == mx guard: a constant column is one bucket, not a
      // divide-by-zero (which ANSI mode turns into a query-killing throw)
      .select(when(col("mn") === col("mx"), lit(0L))
        .otherwise(least(floor((col(c) - col("mn")) / ((col("mx") - col("mn")) / bins)),
                   lit(bins - 1L)).cast("long")).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("bucket"))
  }

  /** A16 — per-column null-count profile in a single aggregate pass. */
  def nullProfile(df: DataFrame, cols: Seq[String]): DataFrame =
    df.agg(count(lit(1)).as("n_rows"),
           cols.map(c => sum(col(c).isNull.cast("long")).as(s"nulls_$c")): _*)

  /** A13/A14/A17 — describe-style exact summary of one numeric
    * (2-decimal) column: moments/extremes in one codegen'd scan, exact
    * quartiles from the histogram path ([[exactQuantilesQuantized]]),
    * fused with a one-row broadcast join. The quartiles are exact for
    * 2-decimal data (the money columns this serves); columns with finer
    * precision get quartiles of the cent-rounded values, or a fail-fast
    * error with `strict = true`. */
  def summaryStats(df: DataFrame, c: String, roundScale: Int = 6,
                   strict: Boolean = false,
                   domainBounded: Boolean = false): DataFrame =
    df.agg(
      count(col(c)).as("n"),
      round(avg(col(c)), roundScale).as("mean"),
      round(stddev_samp(col(c)), roundScale).as("sd"),
      min(col(c)).as("mn"),
      max(col(c)).as("mx"))
    .crossJoin(broadcast(exactQuantilesQuantized(df, c, Seq(0.25, 0.5, 0.75),
      strict = strict, domainBounded = domainBounded)))
    .select(col("n"), col("mean"), col("sd"), col("mn"),
      round(col("p0"), roundScale).as("q1"),
      round(col("p1"), roundScale).as("median"),
      round(col("p2"), roundScale).as("q3"),
      col("mx"))

  /** Skew-salted equi-join: replicates each build-side row `salt` times
    * and scatters probe-side rows uniformly across the replicas, so one
    * hot key spreads over `salt` tasks instead of stalling a single
    * reducer. Semantics-preserving for any 1:N equi-join (each probe row
    * meets exactly one replica of its match). AQE's skew-join split
    * handles sort-merge cases automatically; this explicit form covers
    * hash joins and pre-AQE plans, and documents the technique.
    *
    * Probe salt hashes the row's columns PLUS a per-row ordinal: a hot
    * key whose rows are full-row duplicates (retry/log data) would all
    * hash identically and land on one replica, defeating the spread. The
    * ordinal is partition-dependent, but the JOIN RESULT is identical for
    * any salt assignment (each probe row meets exactly one replica of its
    * match), so reproducibility is unaffected. */
  def saltedJoin(probe: DataFrame, build: DataFrame, probeKey: String,
                 buildKey: String, salt: Int = 8): DataFrame = {
    val saltedBuild = build.withColumn("__salt",
      explode(sequence(lit(0), lit(salt - 1))))
    val saltedProbe = probe.withColumn("__salt",
      pmod(hash(probe.columns.map(col) :+ monotonically_increasing_id(): _*),
        lit(salt)))
    // drop BOTH salt columns by side-specific reference (name-based drop
    // on an ambiguous post-join name is version-sensitive): the probe salt
    // embeds a nondeterministic ordinal and must not leak to consumers
    saltedProbe.join(saltedBuild,
        saltedProbe(probeKey) === saltedBuild(buildKey) &&
          saltedProbe("__salt") === saltedBuild("__salt"))
      .drop(saltedProbe("__salt"))
      .drop(saltedBuild("__salt"))
  }

  /** Per-key salt factors for [[saltedJoinAdaptive]]: keys whose probe-side
    * row count exceeds `targetPerReplica` get replication
    * ceil(cnt / targetPerReplica), capped at `maxSalt`; every other key is
    * ABSENT (→ unsalted, factor 1). One map-side-combined aggregate over
    * the probe keys; the output is hot-keys-only, so it stays tiny (≤
    * |probe| / targetPerReplica rows by construction) and broadcasts. */
  def saltFactors(probe: DataFrame, key: String, targetPerReplica: Long,
                  maxSalt: Int): DataFrame =
    probe.groupBy(col(key).as("__k"))
      .agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") > targetPerReplica)
      .select(col("__k"),
        least(ceil(col("__cnt").cast("double") / targetPerReplica).cast("int"),
          lit(maxSalt)).as("__nsalt"))

  /** Adaptive form of [[saltedJoin]]: replication is paid ONLY where skew
    * exists. A fixed salt=N multiplies the whole build side by N — at 100
    * TB that is N× build shuffle and N× hash-table memory to fix one hot
    * key; here per-key factors from [[saltFactors]] replicate hot keys
    * just enough (ceil(cnt/targetPerReplica), ≤ maxSalt) and leave cold
    * keys untouched. The factor table is broadcast to BOTH sides, so the
    * per-key salt modulus agrees by construction and the join result is
    * identical to the unsalted join for any factor assignment — counts
    * only steer performance, never semantics. */
  def saltedJoinAdaptive(probe: DataFrame, build: DataFrame, probeKey: String,
                         buildKey: String, targetPerReplica: Long,
                         maxSalt: Int = 64): DataFrame = {
    val factors = saltFactors(probe, probeKey, targetPerReplica, maxSalt)
    val saltedBuild = build
      .join(broadcast(factors), build(buildKey) === factors("__k"), "left_outer")
      .withColumn("__salt",
        explode(sequence(lit(0), coalesce(col("__nsalt"), lit(1)) - 1)))
      .drop("__k", "__nsalt")
    val saltedProbe = probe
      .join(broadcast(factors), probe(probeKey) === factors("__k"), "left_outer")
      .withColumn("__salt",
        pmod(hash(probe.columns.map(col) :+ monotonically_increasing_id(): _*),
          coalesce(col("__nsalt"), lit(1))))
      .drop("__k", "__nsalt")
    saltedProbe.join(saltedBuild,
        saltedProbe(probeKey) === saltedBuild(buildKey) &&
          saltedProbe("__salt") === saltedBuild("__salt"))
      .drop(saltedProbe("__salt"))
      .drop(saltedBuild("__salt"))
  }

  /** Approximate describe for the 100 TB path: t-digest quantiles and HLL
    * distinct count instead of the buffer-all exact Percentile (which
    * holds every value in memory per partition — fine at bench SFs,
    * impossible at petabyte group sizes). NOT oracle-hashable by design;
    * accuracy is asserted against the exact form in tests. */
  def summaryStatsApprox(df: DataFrame, c: String, accuracy: Int = 10000): DataFrame =
    df.agg(
      count(col(c)).as("n"),
      approx_count_distinct(col(c), 0.02).as("n_distinct_approx"),
      avg(col(c)).as("mean"),
      approx_percentile(col(c), array(lit(0.25), lit(0.5), lit(0.75)), lit(accuracy)).as("qs"))
    .select(col("n"), col("n_distinct_approx"), col("mean"),
      element_at(col("qs"), 1).as("q1"),
      element_at(col("qs"), 2).as("median"),
      element_at(col("qs"), 3).as("q3"))

  /** Deterministic hash sampling: keep a row iff a salted md5 of its key
    * lands under `keepPerMille`/1000. Unlike rand()-based sampling this is
    * reproducible across runs, engines and executor placements (the
    * decision is a pure function of the key), composes with retries and
    * incremental reruns at 100 TB — the same doc always makes the same
    * cut — and needs no RNG state or seed plumbing. Map-only: no shuffle,
    * pushdown-friendly. The salt namespaces independent samples (two
    * different salts give statistically independent subsets). */
  def hashSample(df: DataFrame, key: Column, salt: String,
                 keepPerMille: Int): DataFrame =
    df.filter(
      conv(substring(md5(concat(lit(s"$salt:"), key.cast("string"))), 1, 15), 16, 10)
        .cast("long") % 1000 < keepPerMille)

  /** P9 — offset slice: rows [offset, offset+n) of an explicit total
    * order (the pandas `iloc[offset:offset+n]` shape). Offset semantics
    * are inherently global-order, so this materializes only the first
    * offset+n rows (a pushed sort-limit) and ranks inside that bounded
    * set — the unpartitioned window never sees more than offset+n rows.
    * For deep pagination at 100 TB, carry a key-range predicate from the
    * previous page instead (offset cost grows with offset).
    *
    * CONTRACT: `order` must be a TOTAL order (no ties). With ties at the
    * `offset+n` boundary, the pushed sort-limit keeps an arbitrary tie
    * subset and the slice diverges nondeterministically from LIMIT/OFFSET
    * semantics. Append a unique key as the last order column (the way
    * q92 tie-breaks on `o_orderkey`) when the natural sort key can
    * repeat. */
  def sliceByOffset(df: DataFrame, order: Seq[Column], offset: Int,
                    n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(offset >= 0 && n > 0, s"need offset>=0, n>0; got $offset, $n")
    val w = Window.orderBy(order: _*)
    df.orderBy(order: _*).limit(offset + n)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > offset).drop("__rn")
  }

  /** A12 — argmax row per group via a rank-1 window (deterministic
    * tie-break on `tieBreak` ascending). */
  def argmaxPerGroup(df: DataFrame, part: Column, order: Column,
                     tieBreak: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(part).orderBy(order.desc, tieBreak.asc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** Snapshot reconciliation: classify every key of two table versions as
    * added (only in `b`), removed (only in `a`), changed (in both, any
    * compared column differs under null-safe equality), or unchanged —
    * the anti-entropy check a pipeline runs after a backfill, a
    * migration, or an incremental-vs-recompute audit (the batch face of
    * the q91 upsert-fold identity). One full outer join on the key; the
    * per-column null-safe compares stay inside codegen; no hashing, so
    * no cross-engine hash portability concern. `key` must be unique per
    * side (use [[graft.operators.Quality.duplicateKeys]] to check).
    * Returns (key, diff_status, each compared column from both sides
    * prefixed a_/b_). */
  def snapshotDiff(a: DataFrame, b: DataFrame, key: String,
                   compare: Seq[String]): DataFrame = {
    val changed = compare
      .map(c => !(col(s"__a.$c") <=> col(s"__b.$c")))
      .reduce(_ || _)
    a.alias("__a").join(b.alias("__b"),
        col(s"__a.$key") === col(s"__b.$key"), "full_outer")
      .select(
        coalesce(col(s"__a.$key"), col(s"__b.$key")).as(key) +:
        when(col(s"__a.$key").isNull, "added")
          .when(col(s"__b.$key").isNull, "removed")
          .when(changed, "changed")
          .otherwise("unchanged").as("diff_status") +:
        compare.flatMap(c => Seq(
          col(s"__a.$c").as(s"a_$c"), col(s"__b.$c").as(s"b_$c"))): _*)
  }

  /** 2-D Pareto frontier (skyline, Börzsönyi et al. ICDE 2001): rows not
    * dominated by any other, where `dominates` means x' ≤ x AND y' ≥ y
    * with at least one strict (minimize x, maximize y). Equal (x, y)
    * twins dominate neither and are both kept.
    *
    * The naive formulation is an O(n²) self-anti-join and a global-sort
    * sweep needs one partition for the whole input. This is the
    * bucket-overlay shape instead (the q122 range-join trick applied to
    * dominance): bucket x into `nBuckets` fixed-width cells from a
    * one-row min/max aggregate, reduce each bucket to its max y (hash
    * aggregate), prefix-max those ≤nBuckets rows in a BOUNDED window,
    * broadcast, and drop every row whose y fails the prefix bound of
    * its bucket — any such row is provably dominated by a row in an
    * earlier (strictly-smaller-x) bucket. Survivors are ≤ first-bucket
    * occupancy + per-bucket improvers (≈ n/nBuckets + the frontier
    * itself), so the EXACT windows that finish the job — max y over
    * x' < x via a rangeBetween frame on integer x, and the per-x group
    * max for same-x dominance — run on a frame bounded by construction,
    * not by the input. Full scan cost: one min/max aggregate + one
    * bucket aggregate + one broadcast-filtered pass.
    *
    * `minimize`/`maximize` must cast losslessly to long (quantize money
    * to cents first — the caller owns the scale). Returns the input
    * rows (original columns) that sit on the frontier. */
  def skyline2D(df: DataFrame, minimize: Column, maximize: Column,
                nBuckets: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nBuckets >= 1, s"nBuckets must be >= 1: $nBuckets")
    val base = df
      .withColumn("__x", minimize.cast("long"))
      .withColumn("__y", maximize.cast("long"))
    val rng = base.agg(min(col("__x")).as("__lo"), max(col("__x")).as("__hi"))
    val bucketed = base.crossJoin(broadcast(rng))
      .withColumn("__w", greatest(lit(1L),
        expr(s"(__hi - __lo + $nBuckets) div $nBuckets")))
      .withColumn("__b", expr("(__x - __lo) div __w"))
      .drop("__lo", "__hi", "__w")
    // per-bucket max y, then the strictly-earlier-bucket prefix max:
    // ≤ nBuckets rows, so the unpartitioned window is bounded by
    // construction (the suite's standard pre-aggregated-frame argument)
    val pre = bucketed.groupBy(col("__b")).agg(max(col("__y")).as("__bm"))
      .withColumn("__pre", max(col("__bm")).over(
        Window.orderBy(col("__b")).rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("__b"), col("__pre"))
    val survivors = bucketed
      .join(broadcast(pre), Seq("__b"))
      // y ≤ prefix max ⇒ an earlier-bucket row has x' < x, y' ≥ y ⇒ dominated
      .filter(col("__pre").isNull || col("__y") > col("__pre"))
      .drop("__b", "__pre")
    // exact pass on the bounded survivor set: dominated iff a strictly-
    // smaller-x row reaches y (strict x ⇒ ≥ suffices), or a same-x row
    // strictly exceeds it
    val wLt = Window.orderBy(col("__x"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val wEq = Window.partitionBy(col("__x"))
    survivors
      .withColumn("__ltm", max(col("__y")).over(wLt))
      .withColumn("__eqm", max(col("__y")).over(wEq))
      .filter((col("__ltm").isNull || col("__y") > col("__ltm")) &&
        col("__y") === col("__eqm"))
      .drop("__x", "__y", "__ltm", "__eqm")
  }
}
