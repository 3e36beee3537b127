package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.GraftGlue

/** Time-series resample with gap-fill and forward-fill — the pandas
  * `resample(...).agg(...).ffill()` shape (the reference's dashboard
  * leans on pandas time-bucket groupbys, e.g. hourly trip counts at
  * 1_EDA_Dashboard.py:159-214; this is the engine form that also
  * densifies the axis, which a plotting layer otherwise fakes).
  *
  * Scale posture: three stages, each one shuffle, all keyed —
  *   1. bucket-aggregate (hash aggregate on (key, bucket) — map-side
  *      partial, input-proportional but combiner-collapsed);
  *   2. per-key spine = min/max bucket (tiny: one row per key) exploded
  *      through `sequence()` — the dense axis is generated DISTRIBUTED,
  *      per key, never on the driver, and its size is bounded by
  *      span/unit per key (a decade of hourly buckets is 87 k rows/key),
  *      not by input rows;
  *   3. left join spine←agg on (key, bucket) + a per-key window for the
  *      forward fill. The window needs one key's buckets in one
  *      partition — bounded by the same span/unit cap, independent of
  *      how many raw events fed the bucket.
  * Nothing collects; adding a key multiplies nothing but its own spine.
  */
object TimeSeries {

  /** Resample `df` into `date_trunc(unit)` buckets per `key`, densify
    * each key's axis from its first to its last observed bucket, and
    * return one row per (key, bucket) with:
    *   - `n`: rows observed in the bucket (0 on generated gap rows);
    *   - `v`: `sum(value)` for the bucket (null on gaps);
    *   - `v_ffill`: `v` forward-filled from the key's last non-empty
    *     bucket (gap rows carry the previous observation, the first
    *     bucket is never null by construction of the spine).
    *
    * `unit` is a `date_trunc` unit (`"hour"`, `"day"`, `"week"`, ...)
    * also used as the spine step (`interval 1 <unit>`).
    */
  def resampleFfill(df: DataFrame, key: String, tsCol: String, unit: String,
                    value: Column): DataFrame = {
    val agg = df
      .groupBy(col(key), date_trunc(unit, col(tsCol)).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(value).as("v"))
    val spine = agg
      .groupBy(col(key))
      .agg(min(col("bucket")).as("__mn"), max(col("bucket")).as("__mx"))
      .select(col(key),
        explode(expr(s"sequence(__mn, __mx, interval 1 $unit)")).as("bucket"))
    val w = Window.partitionBy(col(key)).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine
      .join(agg, Seq(key, "bucket"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("v_ffill", last(col("v"), ignoreNulls = true).over(w))
  }

  /** Linear interpolation across the gap rows of a dense series (the
    * pandas `interpolate(method="linear")` to [[resampleFfill]]'s
    * `ffill()`): a gap bucket k steps past the previous observation
    * `pv` and g−k steps before the next `nv` gets
    *
    *   v_interp = pv + ⌊(nv − pv)·k / g⌋
    *
    * on the integer-quantized value — floor-of-exact-rational, so the
    * filled value reproduces bit-for-bit on any engine as long as
    * |nv − pv|·k stays within the 2^53 double mantissa (cent-quantized
    * series are ~10 orders below that). Observed buckets keep their own
    * value; trailing gaps (no next observation) carry the previous one.
    * Input must be the DENSE (key, order, v) frame — run it on
    * [[resampleFfill]] output, where the leading bucket is observed by
    * spine construction.
    *
    * One per-key window sort shared by all four framed aggregates — the
    * same single-shuffle posture as the resampler. */
  def interpolate(dense: DataFrame, key: String, order: String,
                  v: Column): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(order))
    val back = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // "next observation" rides the REVERSED sort as a RUNNING frame:
    // Spark evaluates an UnboundedFollowing frame by re-scanning the
    // remaining partition per row — O(n²) in the series length — while
    // the reversed running frame is the O(n) incremental equivalent
    // (preceding-or-current under DESC ≡ current-or-following under ASC)
    val fwdRun = Window.partitionBy(col(key)).orderBy(col(order).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val obsIdx = when(v.isNotNull, col("__i"))
    dense
      .withColumn("__i", row_number().over(w))
      .withColumn("__pi", last(obsIdx, ignoreNulls = true).over(back))
      .withColumn("__pv", last(v, ignoreNulls = true).over(back))
      .withColumn("__ni", last(obsIdx, ignoreNulls = true).over(fwdRun))
      .withColumn("__nv", last(v, ignoreNulls = true).over(fwdRun))
      .withColumn("v_interp",
        when(v.isNotNull, v)
          .when(col("__ni").isNull, col("__pv")) // trailing gap: carry
          .otherwise(col("__pv") +
            floor(((col("__nv") - col("__pv")) * (col("__i") - col("__pi")))
                .cast("double") / (col("__ni") - col("__pi"))).cast("long")))
      .drop("__i", "__pi", "__pv", "__ni", "__nv")
  }

  /** Rolling z-score anomaly detection over an already-bucketed series,
    * integer-exact: for each row, the trailing window of the `lookback`
    * PRECEDING rows (current row excluded — the candidate can't vote on
    * its own baseline) yields n, S=Σc, Q=Σc² over the integer-quantized
    * value `cents`, and the row is anomalous iff
    *
    *   n ≥ minObs  ∧  (c·n − S)² > z²·(n·Q − S²)
    *
    * which is |c − μ| > z·σ with both sides multiplied through by n² —
    * no float mean, stddev, or sqrt anywhere, so the flag reproduces
    * bit-for-bit on any engine (a last-ulp float difference can never
    * flip a boundary case). σ=0 windows flag ANY deviation, the strict
    * z-score limit. Fits |c|·lookback up to ~3·10⁹ before the squared
    * terms leave the long range — far beyond cent-quantized bucket sums.
    *
    * Appends `win_n` and `is_anomaly`. One per-key window — the frame is
    * `lookback` rows regardless of input size, and a key's whole series
    * in one partition is bounded by span/unit (see [[resampleFfill]]). */
  def rollingZScore(df: DataFrame, key: String, order: String, cents: Column,
                    lookback: Int, minObs: Int, z: Int): DataFrame = {
    require(lookback > 0 && minObs > 0 && z > 0,
      s"need lookback, minObs, z > 0; got $lookback, $minObs, $z")
    val w = Window.partitionBy(col(key)).orderBy(col(order))
      .rowsBetween(-lookback, -1)
    val dev = col("__c") * col("win_n") - col("__S")
    df.withColumn("__c", cents.cast("long"))
      .withColumn("win_n", count(col("__c")).over(w))
      .withColumn("__S", sum(col("__c")).over(w))
      .withColumn("__Q", sum(col("__c") * col("__c")).over(w))
      .withColumn("is_anomaly",
        col("win_n") >= minObs &&
          dev * dev > lit(z.toLong * z) *
            (col("win_n") * col("__Q") - col("__S") * col("__S")))
      .drop("__c", "__S", "__Q")
  }

  /** Merge overlapping-or-touching [start, end] intervals per key — the
    * interval-union primitive behind "total covered time" metrics
    * (machine uptime, user engagement, sensor coverage). The classic
    * running-max sweep as two windows: an interval starts a NEW merged
    * group iff its start exceeds the max end of every earlier interval
    * in its key (strictly — touching endpoints merge); the group id is
    * then the running count of group-starts, and a hash aggregate
    * collapses each group to (min start, max end, member count).
    *
    * All arithmetic on the caller-provided integer columns — no floats,
    * so merged bounds reproduce exactly on any engine/partitioning.
    * `tie` must complete a total order for keys with duplicate
    * (start, end) rows (window-prefix semantics depend on it). Both
    * windows and the aggregate partition by key: a key's intervals sit
    * in one task, the scale bound is intervals-per-key, and no global
    * sort or single-partition window exists anywhere.
    *
    * Returns (key, interval_start, interval_end, n_merged). */
  def mergeIntervals(df: DataFrame, key: String, start: Column, end: Column,
                     tie: Column): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(col("__s"), col("__e"), tie)
    val before = w.rowsBetween(Window.unboundedPreceding, -1)
    val upToHere = w.rowsBetween(Window.unboundedPreceding, 0)
    df.withColumn("__s", start.cast("long"))
      .withColumn("__e", end.cast("long"))
      .withColumn("__new",
        when(col("__s") > coalesce(max(col("__e")).over(before),
          lit(Long.MinValue)), 1L).otherwise(0L))
      .withColumn("__grp", sum(col("__new")).over(upToHere))
      .groupBy(col(key), col("__grp"))
      .agg(min(col("__s")).as("interval_start"),
        max(col("__e")).as("interval_end"),
        count(lit(1)).as("n_merged"))
      .select(col(key), col("interval_start"), col("interval_end"),
        col("n_merged"))
  }

  /** Time-weighted average (TWAP) of an irregularly-sampled cents series
    * per key: each sample's value holds until the NEXT sample
    * (left-Riemann step function, the standard market-data convention);
    * the final sample of a key carries no weight (its holding period is
    * unobserved). Integer-exact: Σ(cents·seconds) and Σ(seconds) are
    * long sums, so the result is deterministic under any partitioning
    * and engine; only the final division is floating.
    *
    * `tieCol` breaks equal-timestamp orderings deterministically (the
    * zero-duration ties contribute no weight themselves, but whichever
    * sorts LAST inherits the holding period to the next distinct
    * timestamp — so the order must be total). One window (lead) + one
    * hash aggregate, both partitioned by key.
    *
    * Returns (key, twap, twap_micro, span_s). `twap_micro` is the
    * average in integer MICRO-units, ⌊Σ(c·dt)·10⁴ / Σdt + 0.5⌋ —
    * floor(x+0.5) over one shared IEEE expression tree is
    * bit-deterministic in any engine build, unlike round(x, n) whose
    * half-way handling varies; `twap` = twap_micro/10⁶ is the readable
    * double, fully determined by the integer so a cross-engine compare
    * never hinges on a libm. */
  def twap(df: DataFrame, key: String, tsCol: String, tieCol: String,
           cents: Column): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col("__s"), col(tieCol))
    df.withColumn("__c", cents.cast("long"))
      .withColumn("__s", unix_timestamp(col(tsCol)))
      .withColumn("__next", lead(col("__s"), 1).over(w))
      .filter(col("__next").isNotNull)
      .withColumn("__dur", col("__next") - col("__s"))
      .groupBy(col(key))
      .agg(sum(col("__c") * col("__dur")).as("__num"),
        sum(col("__dur")).as("span_s"))
      // a key with one sample never reaches the aggregate (filtered
      // above). All-zero spans (every sample simultaneous) are an
      // explicit null, NOT left to x/0: Spark doubles give Infinity
      // there while SQL engines (the DuckDB oracle included) give NULL
      .withColumn("twap_micro",
        when(col("span_s") > 0,
          floor(col("__num").cast("double") * 10000.0 /
            col("span_s").cast("double") + 0.5)))
      .select(col(key),
        (col("twap_micro").cast("double") / 1000000.0).as("twap"),
        col("twap_micro"), col("span_s"))
  }

  /** Sample autocorrelation r_k for lags 1..maxLag of an ordered
    * integer-valued series (Box-Jenkins convention: both factors
    * centered on the FULL-series mean, denominator the full-series sum
    * of squares). The textbook formula expands into exact moments so no
    * running float state exists:
    *   r_k = (Σxₜxₜ₊ₖ − x̄(H+T) + m·x̄²) / (Σx² − n·x̄²)
    * with Σxₜxₜ₊ₖ, H = Σ head terms, T = Σ tail terms, Σx² all
    * DECIMAL(38,0) folds and x̄ = S/n the only derived double — one
    * IEEE tree per lag over those moments.
    *
    * `series` must already be aggregated to one row per `ord` (e.g. a
    * day) — a BOUNDED frame (the time axis, not the event stream), so
    * the row_number window and the rn+lag self-join run on frames the
    * size of the calendar. Lag pairing is by consecutive POSITION in
    * the ordered series (gaps close up, the pandas/statsmodels
    * default on an irregular index). Returns (lag, n_pairs, acf),
    * unrounded. */
  def acf(series: DataFrame, ord: String, value: String, maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1: $maxLag")
    def d38(c: Column): Column = c.cast("decimal(38,0)")
    val ser = series.select(col(ord), col(value).as("x"))
      .withColumn("rn", row_number().over(Window.orderBy(col(ord))))
      .transform(GraftGlue.materialize(_)) // 3 bounded-frame consumers; never re-aggregate
    val glob = ser.agg(count(lit(1)).as("n"),
        sum(d38(col("x"))).as("s"),
        sum(d38(col("x")) * col("x")).as("sxx"))
      .select(col("n"), col("sxx"),
        (col("s").cast("double") / col("n").cast("double")).as("xbar"))
    val lags = glob.select(explode(sequence(lit(1), lit(maxLag))).as("lag"))
    val byLag = ser.select(col("rn"), col("x"))
      .crossJoin(broadcast(lags))
      .withColumn("rnb", col("rn") + col("lag"))
      .join(ser.select(col("rn").as("rnb"), col("x").as("xb")), "rnb")
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("m"),
        sum(d38(col("x")) * col("xb")).as("sxy"),
        sum(d38(col("x"))).as("h"),
        sum(d38(col("xb"))).as("t2"))
    byLag.crossJoin(broadcast(glob))
      .select(col("lag"), col("m").as("n_pairs"),
        ((col("sxy").cast("double") -
          col("xbar") * (col("h") + col("t2")).cast("double") +
          col("m").cast("double") * col("xbar") * col("xbar")) /
         (col("sxx").cast("double") -
          col("n").cast("double") * col("xbar") * col("xbar"))).as("acf"))
      .orderBy(col("lag"))
  }

  /** Cross-correlation function between two pre-aggregated series —
    * the bivariate sibling of [[acf]], same exact-moment discipline:
    * numerator Σ(x_t−x̄)(y_{t+k}−ȳ) expands into DECIMAL(38,0)-exact
    * folds over TIME-joined pairs (`b.ord = a.ord + lag` — calendar
    * gaps drop pairs, the irregular-index convention), denominator
    * from each series' full exact moments, one IEEE tree per lag.
    * SIGN CONVENTION (spec-pinned with a planted shift): a positive
    * peak lag k means y FOLLOWS x by k periods — y(t) = x(t−k) peaks
    * at +k. Both inputs must be aggregated one-row-per-ordinal frames;
    * they are checkpointed here (each feeds its moment aggregate AND
    * all 2·maxLag+1 join probes). Returns (lag, n_pairs, ccf),
    * unrounded, DENSE over lags −maxLag..+maxLag: a lag with zero
    * overlapping pairs still emits its row, n_pairs = 0 and ccf NULL
    * (the generated lag frame is the left side of the final join, so
    * sparse/disjoint series can't silently shrink the range). */
  def ccf(a: DataFrame, b: DataFrame, ord: String, value: String,
          maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1: $maxLag")
    def d38(c: Column): Column = c.cast("decimal(38,0)")
    val ac = a.select(col(ord).cast("long").as("day"), col(value).as("v"))
      .transform(GraftGlue.materialize(_))
    val bc = b.select(col(ord).cast("long").as("day"), col(value).as("v"))
      .transform(GraftGlue.materialize(_))
    val xs = ac.agg(count(lit(1)).as("nx"), sum(d38(col("v"))).as("sx"),
        sum(d38(col("v")) * col("v")).as("sxx"))
      .select(col("sxx"),
        (col("sx").cast("double") / col("nx").cast("double")).as("xbar"),
        col("nx"))
    val ys = bc.agg(count(lit(1)).as("ny"), sum(d38(col("v"))).as("sy"),
        sum(d38(col("v")) * col("v")).as("syy"))
      .select(col("syy"),
        (col("sy").cast("double") / col("ny").cast("double")).as("ybar"),
        col("ny"))
    val lags = xs.select(explode(sequence(lit(-maxLag), lit(maxLag))).as("lag"))
    val pairs = ac.select(col("day"), col("v").as("x"))
      .crossJoin(broadcast(lags))
      .withColumn("dayb", col("day") + col("lag"))
      // the probe side is the calendar-bounded series — broadcast it,
      // never shuffle the (a × 2·maxLag+1) expansion into a sort-merge
      .join(broadcast(bc.select(col("day").as("dayb"), col("v").as("y"))),
        "dayb")
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("m"),
        sum(d38(col("x")) * col("y")).as("sxy"),
        sum(d38(col("x"))).as("tx"),
        sum(d38(col("y"))).as("ty"))
    // lag frame LEFT side: zero-overlap lags survive with m NULL →
    // n_pairs 0, ccf NULL (dense −maxLag..+maxLag contract)
    lags.join(broadcast(pairs), Seq("lag"), "left")
      .crossJoin(broadcast(xs)).crossJoin(broadcast(ys))
      .select(col("lag"), coalesce(col("m"), lit(0L)).as("n_pairs"),
        ((col("sxy").cast("double") - col("xbar") * col("ty").cast("double")
            - col("ybar") * col("tx").cast("double")
            + col("m").cast("double") * col("xbar") * col("ybar")) /
          (sqrt(col("sxx").cast("double")
              - col("nx").cast("double") * col("xbar") * col("xbar")) *
           sqrt(col("syy").cast("double")
              - col("ny").cast("double") * col("ybar") * col("ybar"))))
          .as("ccf"))
      .orderBy(col("lag"))
  }

  /** Classical additive seasonal decomposition (Persons 1919; the
    * `seasonal_decompose` of statsmodels) over a CONTIGUOUS calendar
    * series of (ordinal, integer cents) rows with an EVEN `period`:
    *   trend_t    = the centered 2×period moving average — half weight
    *                on the two edge points, NULL where the ±period/2
    *                window is incomplete;
    *   seasonal_m = the per-phase (pmod(ord, period) — negative
    *                ordinals keep their true phase where Java's signed
    *                % would splinter them) mean of the detrended
    *                series, re-centered by the truncating mean so
    *                Σ seasonal = 0 up to the integer-division residue
    *                (|Σ| < period micro-units; exactly 0 whenever the
    *                phase-mean sum divides evenly, e.g. the planted
    *                spec signal);
    *   remainder  = detrended − seasonal.
    * Everything is exact integer micro-cents: the weighted window sum
    * T = y_{t−h} + 2Σ_{|i|<h} y_{t+i} + y_{t+h} folds in DECIMAL(38,0)
    * before the one truncating division by 2·period (Spark `div` ==
    * DuckDB `//` toward zero, the q221 discipline), phase means are
    * integer `div`s of exact sums, so both engines replay the
    * decomposition bit-for-bit. A pure zero-sum period-periodic signal
    * plus a linear trend decomposes EXACTLY (every division is even) —
    * pinned in TimeSeriesSpec. Per-period |cents| past the ~$9.2B
    * envelope raise loudly (the holtLinear cap, enforced in-plan).
    * Windows run over the calendar-bounded series frame (the q207
    * shape), never raw rows: the caller pre-aggregates. Output:
    * (ord, cents, trend_micro, seasonal_micro, remainder_micro). */
  def classicalDecompose(series: DataFrame, ord: String, cents: String,
                         period: Int = 12): DataFrame = {
    require(period >= 2 && period % 2 == 0,
      s"classical 2xMA needs an even period >= 2: $period")
    val h = period / 2
    def d38(c: Column) = c.cast("decimal(38,0)")
    val lim = Long.MaxValue / 1000000L / (2L * period + 2L)
    val w = Window.orderBy(col(ord))
    val inner = Window.orderBy(col(ord)).rowsBetween(-(h - 1), h - 1)
    val full = Window.orderBy(col(ord)).rowsBetween(-h, h)
    val withT = series
      .select(col(ord).cast("long").as(ord),
        // two-sided compare, NOT abs(): abs(Long.MinValue) wraps
        // negative and would slip through the envelope silently
        when(col(cents).cast("long") > -lim && col(cents).cast("long") < lim,
          col(cents).cast("long"))
          .otherwise(raise_error(lit(
            s"classicalDecompose caps |cents| at $lim per period")))
          .as(cents))
      .withColumn("t2p",
        when(count(lit(1)).over(full) === period + 1,
          sum(col(cents)).over(inner) * 2 +
            lag(col(cents), h).over(w) + lead(col(cents), h).over(w)))
      .withColumn("trend_micro",
        expr(s"(CAST(t2p AS DECIMAL(38,0)) * 1000000) div ${2 * period}"))
      .withColumn("detr", col(cents) * 1000000L - col("trend_micro"))
      .transform(GraftGlue.materialize(_)) // the seasonal means and the output share it
    // 2 full cycles minimum (the statsmodels contract): fewer rows
    // would yield an all-NULL decomposition silently — the count reads
    // the checkpoint, so this loud guard costs nothing
    val nRows = withT.count()
    require(nRows >= 2L * period,
      s"classicalDecompose needs >= ${2 * period} periods (2 cycles): $nRows")
    val season = withT.filter(col("detr").isNotNull)
      .groupBy(pmod(col(ord), lit(period)).as("m"))
      // fold in decimal: a long sum of micro detrended values wraps
      // once phase-years × |detr| nears 2^63 (a 30-year daily series)
      .agg(expr("sum(CAST(detr AS DECIMAL(38,0))) div count(1)").as("s_raw"))
      .transform(GraftGlue.materialize(_, eager = false)) // both the adjust agg and join read it
    val sAdj = season
      .crossJoin(broadcast(season.agg(
        expr(s"sum(CAST(s_raw AS DECIMAL(38,0))) div $period").as("adj"))))
      .select(col("m"), (col("s_raw") - col("adj")).as("seasonal_micro"))
    withT
      .join(broadcast(sAdj), pmod(col(ord), lit(period)) === col("m"), "left")
      .select(col(ord), col(cents), col("trend_micro"),
        col("seasonal_micro"),
        (col("detr") - col("seasonal_micro")).as("remainder_micro"))
      .orderBy(col(ord))
  }

  /** Holt's linear-trend double exponential smoothing (Holt 1957 /
    * Winters 1960, no seasonal term) over a CALENDAR-BOUNDED series of
    * (ordinal, integer cents) rows — level and trend in micro-cents,
    * the recurrence run as ten-digit integer fixed point:
    *   l_t = (aNum·y_t·1e6 + (aDen−aNum)·(l_{t−1}+b_{t−1})) quot aDen
    *   b_t = (bNum·(l_t−l_{t−1}) + (bDen−bNum)·b_{t−1})     quot bDen
    * with `quot` truncating toward zero — Scala's Long `/`, Spark's
    * `div`, and DuckDB's `//` all truncate, so the whole trajectory is
    * bit-reproducible and the oracle replays it as ONE recursive CTE.
    * Init: l₁ = y₁·1e6, b₁ = (y₂−y₁)·1e6 (the standard two-point
    * start). The recurrence is inherently sequential, so it runs as
    * the DECLARED driver-bounded fold (the q202/q217 pattern): the
    * input must be a pre-aggregated calendar series — `maxRows` (1000)
    * fails loudly if a caller hands it raw rows, and per-period values
    * past the ~$9.2B cap fail the input guard (quantize coarser — whole
    * dollars instead of cents buy ×100 headroom; the ×100 ScaleStress
    * run verifies this cap fires loudly, see ScaleStress "r12" note). Emits one row per
    * period: (ordinal, cents, level_micro, trend_micro,
    * forecast_micro) where forecast is the one-step-ahead l+b. */
  def holtLinear(series: DataFrame, ord: String, cents: String,
                 aNum: Long = 2, aDen: Long = 10,
                 bNum: Long = 1, bDen: Long = 10,
                 maxRows: Int = 1000): DataFrame = {
    require(aNum > 0 && aDen > aNum && bNum > 0 && bDen > bNum,
      s"smoothing fractions must lie in (0,1): $aNum/$aDen, $bNum/$bDen")
    val spark = series.sparkSession
    import spark.implicits._
    // limit BEFORE collect (the isotonicFit discipline): a raw-row
    // input must hit the loud guard, not OOM the driver first
    val rows = series.select(col(ord).cast("long"), col(cents).cast("long"))
      .orderBy(col(ord)).limit(maxRows + 1).as[(Long, Long)].collect()
    require(rows.length >= 2,
      s"holtLinear needs >= 2 periods: ${rows.length}")
    require(rows.length <= maxRows,
      s"holtLinear is a declared calendar-bounded driver fold: " +
        s"over $maxRows rows — pre-aggregate the series")
    // micro-cent headroom: the per-period cap (~$9B/period) sizes the
    // COMMON case, but it does not bound the recurrence state — b's
    // two-point init is a DELTA (up to 2x the cap) and a sign-swinging
    // near-cap series can push (bDen-bNum)·b past a Long. Every
    // multiply/add in the fold therefore runs *Exact: any wrap throws
    // ArithmeticException loudly instead of corrupting the trajectory.
    val lim = Long.MaxValue / 1000000L / (aDen max bDen)
    // two-sided compare: math.abs(Long.MinValue) wraps negative and
    // would slip the cap (classicalDecompose's guard form)
    require(rows.forall(r => r._2 > -lim && r._2 < lim),
      s"holtLinear micro fixed point caps |cents| at $lim per period")
    import java.lang.Math.{addExact, multiplyExact, subtractExact}
    val out = Array.ofDim[(Long, Long, Long, Long, Long)](rows.length)
    var l = multiplyExact(rows(0)._2, 1000000L)
    var b = multiplyExact(subtractExact(rows(1)._2, rows(0)._2), 1000000L)
    out(0) = (rows(0)._1, rows(0)._2, l, b, addExact(l, b))
    for (t <- 1 until rows.length) {
      val y = multiplyExact(rows(t)._2, 1000000L)
      val lPrev = l
      l = addExact(multiplyExact(aNum, y),
        multiplyExact(aDen - aNum, addExact(lPrev, b))) / aDen
      b = addExact(multiplyExact(bNum, subtractExact(l, lPrev)),
        multiplyExact(bDen - bNum, b)) / bDen
      out(t) = (rows(t)._1, rows(t)._2, l, b, addExact(l, b))
    }
    spark.createDataFrame(out.toIndexedSeq)
      .toDF(ord, cents, "level_micro", "trend_micro", "forecast_micro")
      .orderBy(col(ord))
  }

  /** Holt-Winters ADDITIVE seasonal smoothing (Winters 1960) — the
    * seasonal completion of [[holtLinear]] and the third member of the
    * classical exponential family (SES ≡ the EWMA level, Holt adds
    * trend, HW adds the m-periodic seasonal state):
    *   l_t = α(y_t − s_{t−m}) + (1−α)(l_{t−1} + b_{t−1})
    *   b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}
    *   s_t = γ(y_t − l_t)   + (1−γ)s_{t−m}
    *   fit_t = l_{t−1} + b_{t−1} + s_{t−m}   (the one-step forecast)
    * Textbook two-season init: l = mean(season 1), b = (mean(season 2)
    * − mean(season 1))/m, s_i = y_i − l for the first season; output
    * starts at t = m+1 (the first smoothed period). Same declared
    * calendar-bounded driver-fold contract as [[holtLinear]]: micro-
    * cent integer fixed point with TRUNCATING division (Scala Long `/`
    * == DuckDB `//` on integers, negatives included — verified −7/2 =
    * −3 in both), every step in `*Exact` arithmetic so a wrap throws
    * loudly, loud `maxRows` and two-sided per-period cents caps, and
    * n ≥ 2·period so both init seasons exist. The q253 oracle replays
    * the whole trajectory through ONE recursive CTE carrying the
    * m-slot seasonal state as a list; TimeSeriesSpec replays it
    * independently in BigInt. Output: (ordinal, cents, level_micro,
    * trend_micro, season_micro, fitted_micro), one row per smoothed
    * period. */
  def holtWinters(series: DataFrame, ord: String, cents: String,
                  period: Int = 12,
                  aNum: Long = 2, aDen: Long = 10,
                  bNum: Long = 1, bDen: Long = 10,
                  gNum: Long = 3, gDen: Long = 10,
                  maxRows: Int = 1000): DataFrame = {
    require(period >= 2, s"need a real season: period=$period")
    require(aNum > 0 && aDen > aNum && bNum > 0 && bDen > bNum &&
      gNum > 0 && gDen > gNum,
      s"weights must lie in (0,1): $aNum/$aDen, $bNum/$bDen, $gNum/$gDen")
    val spark = series.sparkSession
    import spark.implicits._
    val rows = series.select(col(ord).cast("long"), col(cents).cast("long"))
      .orderBy(col(ord)).limit(maxRows + 1).as[(Long, Long)].collect()
    require(rows.length >= 2 * period,
      s"holtWinters needs >= 2 full seasons (${2 * period}): ${rows.length}")
    require(rows.length <= maxRows,
      s"holtWinters is a declared calendar-bounded driver fold: " +
        s"over $maxRows rows — pre-aggregate the series")
    // the init sums fold `period` micro-cent terms, so the per-period
    // cap divides the holtLinear headroom by the period; two-sided —
    // abs(Long.MinValue) wraps negative past a one-sided compare
    val lim = Long.MaxValue / 1000000L /
      (aDen max bDen max gDen) / period
    require(rows.forall(r => r._2 > -lim && r._2 < lim),
      s"holtWinters micro fixed point caps |cents| at $lim per period")
    import java.lang.Math.{addExact, multiplyExact, subtractExact}
    val m = period
    val sum1 = rows.take(m).map(_._2).reduce(addExact(_, _))
    val sum2 = rows.slice(m, 2 * m).map(_._2).reduce(addExact(_, _))
    var l = multiplyExact(sum1, 1000000L) / m
    var b = multiplyExact(subtractExact(sum2, sum1), 1000000L) / (m.toLong * m)
    val s = Array.tabulate(m)(i =>
      subtractExact(multiplyExact(rows(i)._2, 1000000L), l))
    val out = Array.ofDim[(Long, Long, Long, Long, Long, Long)](rows.length - m)
    for (t <- m until rows.length) {
      val y = multiplyExact(rows(t)._2, 1000000L)
      val sOld = s(t % m)
      val fit = addExact(addExact(l, b), sOld)
      val lPrev = l
      l = addExact(multiplyExact(aNum, subtractExact(y, sOld)),
        multiplyExact(aDen - aNum, addExact(lPrev, b))) / aDen
      b = addExact(multiplyExact(bNum, subtractExact(l, lPrev)),
        multiplyExact(bDen - bNum, b)) / bDen
      s(t % m) = addExact(multiplyExact(gNum, subtractExact(y, l)),
        multiplyExact(gDen - gNum, sOld)) / gDen
      out(t - m) = (rows(t)._1, rows(t)._2, l, b, s(t % m), fit)
    }
    spark.createDataFrame(out.toIndexedSeq)
      .toDF(ord, cents, "level_micro", "trend_micro", "season_micro",
        "fitted_micro")
      .orderBy(col(ord))
  }

  /** EWMA control chart (Roberts 1959) — the third classical monitor
    * next to CUSUM (q202) and the mSPRT (q217), and the level-only
    * sibling of [[holtLinear]] whose POINT is the alarm, not the
    * smooth: z_t = (λNum·y_t·1e6 + (λDen−λNum)·z_{t−1}) quot λDen in
    * micro-cent integer fixed point, seeded at the CENTER LINE
    * z₀ = (Σy·1e6) quot n (Roberts' standard start — seeding at the
    * first OBSERVATION would give z₁ the full per-period variance σ²
    * and over-alarm ~32% of in-control starts against the 1σ-wide
    * default band; self-review caught exactly that in the first cut).
    * Flags compare against the ASYMPTOTIC limit L·σ·√(λ/(2−λ)) around
    * the series mean; with the center-line seed the exact variance
    * σ²·λ/(2−λ)·(1−(1−λ)^{2t}) is BELOW the asymptotic band at every
    * finite t, so early periods are screened genuinely conservatively.
    * σ is the population stddev of the per-period cents, computed from
    * exact integer sums (Σy in a long, Σy² in BigInt) with the double
    * expression written token-for-token as the DuckDB oracle's, so
    * alarm flags — strict `>` compares of identical IEEE doubles —
    * are bit-reproducible; the seed itself is a truncating BigInt
    * division, bit-equal to the oracle's HUGEINT `//`. Same declared
    * calendar-bounded driver-fold contract as [[holtLinear]]: loud
    * `maxRows` guard, loud per-period cents cap, every fold step in
    * `*Exact` arithmetic. Output: (ordinal, cents, ewma_micro, alarm)
    * — one row per OBSERVED period (the z₀ seed is state, not a row). */
  def ewmaChart(series: DataFrame, ord: String, cents: String,
                lamNum: Long = 2, lamDen: Long = 10,
                l: Double = 3.0, maxRows: Int = 1000): DataFrame = {
    require(lamNum > 0 && lamDen > lamNum,
      s"EWMA weight must lie in (0,1): $lamNum/$lamDen")
    val spark = series.sparkSession
    import spark.implicits._
    val rows = series.select(col(ord).cast("long"), col(cents).cast("long"))
      .orderBy(col(ord)).limit(maxRows + 1).as[(Long, Long)].collect()
    require(rows.length >= 2, s"ewmaChart needs >= 2 periods: ${rows.length}")
    require(rows.length <= maxRows,
      s"ewmaChart is a declared calendar-bounded driver fold: " +
        s"over $maxRows rows — pre-aggregate the series")
    val lim = Long.MaxValue / 1000000L / lamDen
    // two-sided: abs(Long.MinValue) wraps negative and passes < lim
    require(rows.forall(r => r._2 > -lim && r._2 < lim),
      s"ewmaChart micro fixed point caps |cents| at $lim per period")
    import java.lang.Math.{addExact, multiplyExact}
    val n = rows.length
    val (meanC, band) = ewmaLimits(rows.map(_._2), lamNum, lamDen, l)
    val out = Array.ofDim[(Long, Long, Long, Int)](n)
    var z = ewmaSeed(rows.map(_._2))
    def flag(zMicro: Long): Int =
      if (math.abs(zMicro.toDouble / 1000000.0 - meanC) > band) 1 else 0
    for (t <- 0 until n) {
      z = addExact(multiplyExact(lamNum, multiplyExact(rows(t)._2, 1000000L)),
        multiplyExact(lamDen - lamNum, z)) / lamDen
      out(t) = (rows(t)._1, rows(t)._2, z, flag(z))
    }
    spark.createDataFrame(out.toIndexedSeq)
      .toDF(ord, cents, "ewma_micro", "alarm")
      .orderBy(col(ord))
  }

  /** (center, band) of the EWMA chart fitted on a reference series:
    * mean and L·σ·√(λ/(2−λ)) from exact integer sums (Σy long, Σy²
    * BigInt). ONE implementation shared by [[ewmaChart]], the q229
    * oracle (token-for-token: any algebraic "simplification" here
    * would de-synchronize the IEEE trees and make boundary alarms
    * engine-dependent), and the streaming monitor's equivalence spec. */
  private[graft] def ewmaLimits(ys: Seq[Long], lamNum: Long, lamDen: Long,
                                l: Double): (Double, Double) = {
    import java.lang.Math.addExact
    val n = ys.length
    var sy = 0L
    var sy2 = BigInt(0)
    ys.foreach { y => sy = addExact(sy, y); sy2 += BigInt(y) * y }
    val meanC = sy.toDouble / n
    val sigma = math.sqrt(
      (n.toDouble * sy2.toDouble - sy.toDouble * sy.toDouble) /
        (n.toDouble * n.toDouble))
    val band = l * sigma *
      math.sqrt((lamNum.toDouble / lamDen) / (2.0 - lamNum.toDouble / lamDen))
    (meanC, band)
  }

  /** The chart's center-line seed in micro-cents: (Σy·1e6) quot n as a
    * truncating BigInt division — bit-equal to the oracle's HUGEINT
    * `//` and safely past long range (Σy·1e6 overflows a long at the
    * per-period cap). Shared by [[ewmaChart]] and the streaming
    * monitor's reference-window fit. */
  private[graft] def ewmaSeed(ys: Seq[Long]): Long = {
    import java.lang.Math.addExact
    var sy = 0L
    ys.foreach(y => sy = addExact(sy, y))
    (BigInt(sy) * 1000000 / ys.length).toLong
  }
}
