package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.GraftGlue

/** Closed-form statistics over exact integer moments — the one-pass,
  * shuffle-free estimators a warehouse runs where an ML library would
  * iterate: multi-feature OLS via the normal equations, Welch's t,
  * Wilson score bounds.
  *
  * House discipline: every sufficient statistic (n, Σx, Σxy, Σx², …) is
  * a SUM of per-row LONG products accumulated in DECIMAL(38,0) — exact
  * under any partitioning, so the statistic is bit-reproducible on a
  * 1000-executor cluster and re-derivable by an external engine. Floats
  * appear only in the final closed-form solve, whose operands are those
  * exact moments: identical IEEE expression trees on identical inputs
  * give identical doubles (the engine-wide float-parity rule).
  *
  * Scale posture: one scan → one map-side-combined aggregate producing
  * O(k²) numbers; the solve is O(k³) on k ≤ a few dozen coefficients.
  * Nothing here shuffles data rows.
  */
object Stats {

  /** Per-row product accumulated exactly: both factors must be integral
    * (caller quantizes, e.g. cents). The LONG product (callers keep
    * |a·b| < 2^63 per row) is summed in DECIMAL(38,0), so the TOTAL
    * never overflows at any row count shy of 10^38. */
  private def psum(a: Column, b: Column): Column =
    sum((a * b).cast("decimal(38,0)")).cast("double")

  final case class OlsModel(coefs: Array[Double], r2: Double, n: Long)

  /** Multi-feature ordinary least squares with intercept, via the
    * normal equations (X'X)β = X'y. `features` and `label` must be
    * integral-valued columns (quantize first; see [[psum]]).
    *
    * One distributed pass builds the (k+1)² Gram matrix as exact
    * moments; the k³ solve happens on the driver over those ~k² doubles
    * (driver state is O(k²) numbers, never rows — the same legitimacy
    * class as a broadcast join's build-side statistics). Gaussian
    * elimination with partial pivoting; singular designs throw. */
  def olsFit(df: DataFrame, features: Seq[Column], label: Column): OlsModel = {
    val k = features.size
    require(k >= 1, "need at least one feature")
    val xs = lit(1L) +: features // design matrix columns, intercept first
    // Upper-triangle Gram moments + cross moments + Σy², one aggregate.
    val aggs =
      (for { i <- 0 to k; j <- i to k } yield psum(xs(i), xs(j)).as(s"g_${i}_$j")) ++
        (0 to k).map(i => psum(xs(i), label).as(s"b_$i")) :+
        psum(label, label).as("yy")
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    def g(i: Int, j: Int): Double =
      r.getAs[Double](if (i <= j) s"g_${i}_$j" else s"g_${j}_$i")
    val a = Array.tabulate(k + 1, k + 2) { (i, j) =>
      if (j <= k) g(i, j) else r.getAs[Double](s"b_$i")
    }
    // In-place Gaussian elimination with partial pivoting on [A | b].
    for (col <- 0 to k) {
      val piv = (col to k).maxBy(i => math.abs(a(i)(col)))
      require(math.abs(a(piv)(col)) > 0, s"singular design (pivot $col)")
      val t = a(col); a(col) = a(piv); a(piv) = t
      for (row <- 0 to k if row != col) {
        val f = a(row)(col) / a(col)(col)
        for (j <- col to k + 1) a(row)(j) -= f * a(col)(j)
      }
    }
    val beta = Array.tabulate(k + 1)(i => a(i)(k + 1) / a(i)(i))
    val n = g(0, 0)
    val sy = r.getAs[Double]("b_0")
    val sse = r.getAs[Double]("yy") -
      (0 to k).map(i => beta(i) * r.getAs[Double](s"b_$i")).sum
    val sst = r.getAs[Double]("yy") - sy * sy / n
    OlsModel(beta, 1.0 - sse / sst, n.toLong)
  }

  /** Wilson score lower bound at confidence z on `succ` successes out
    * of `n` trials (Wilson JASA 1927) — the ranking statistic that
    * beats raw proportion for small-sample groups. Pure closed form
    * over two exact longs; replicate the identical tree in an external
    * oracle for bit parity. */
  def wilsonLower(succ: Column, n: Column, z: Double): Column = {
    val z2 = z * z // driver-side constant fold, same literal both engines
    val p = succ.cast("double") / n
    (p + lit(z2) / (lit(2.0) * n) -
      lit(z) * sqrt((p * (lit(1.0) - p) + lit(z2) / (lit(4.0) * n)) / n)) /
      (lit(1.0) + lit(z2) / n)
  }

  /** Tie-averaged ranks DOUBLED so they stay integral under ties:
    * for each distinct value of `v` in a histogram `(v, n)`,
    * r2 = 2·(rows strictly below) + (ties at v) + 1 = 2 × the average
    * rank every textbook rank statistic (Spearman, Mann-Whitney)
    * assigns the tie group. Doubling keeps the whole rank algebra in
    * exact integers; correlation is scale-invariant so the factor
    * cancels, and rank SUMS are halved once at the end.
    *
    * The cumulative count is a RANGE-PARTITIONED two-pass prefix sum,
    * not a global-ORDER-BY window: the distinct-value histogram tracks
    * the column's domain, which for derived values (revenue cents) grows
    * with the data — a single-partition window over it is a one-task
    * sort that dies at scale. Pass 1 range-shuffles the histogram by v
    * (equal values co-locate; partitions are v-ordered by construction)
    * and cumsums WITHIN each partition; pass 2 cumsums the per-partition
    * totals (one row per partition — bounded by the cluster, not the
    * data) and broadcasts the offsets back. Exact under any partition
    * boundary sampling, since prefix sums compose. Returns (v, n, r2). */
  def doubledAvgRanks(hist: DataFrame, v: String, n: String): DataFrame =
    rangeCumSums(hist.select(col(v), col(n).as("n")), v, Seq("n"),
        inclusive = false)
      .select(col(v), col("n"),
        (lit(2L) * col("n_cum") + col("n") + lit(1L)).as("r2"))

  /** Exact running sums of `cols` over `df` ordered by `v`, WITHOUT a
    * global-ORDER-BY window (a one-task sort of the whole frame): range
    * shuffle by v, per-partition cumulative windows, then per-partition
    * totals (one row per partition — bounded by the cluster, not the
    * data) prefix-summed and broadcast back as offsets. Prefix sums
    * compose, so the result is exact under ANY sampled partition
    * boundaries; the checkpoint pins the sampled boundaries so both
    * passes see the same partition ids. `inclusive` picks the
    * [first, current] frame; otherwise [first, previous] (exclusive).
    * Rows with equal `v` must be unique (pre-aggregated histograms —
    * every caller here). Appends `<c>_cum` per requested column. */
  def rangeCumSums(df: DataFrame, v: String, cols: Seq[String],
                   inclusive: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranged = df.repartitionByRange(col(v))
      .withColumn("__pid", spark_partition_id())
      .transform(GraftGlue.materialize(_))
    val hi = if (inclusive) 0 else -1
    val local = Window.partitionBy(col("__pid")).orderBy(col(v))
      .rowsBetween(Window.unboundedPreceding, hi)
    val offW = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val totalAggs = cols.map(c => sum(col(c)).as(s"__pt_$c"))
    val offsets = ranged.groupBy(col("__pid"))
      .agg(totalAggs.head, totalAggs.tail: _*)
      .select(col("__pid") +: cols.map(c =>
        coalesce(sum(col(s"__pt_$c")).over(offW), lit(0L)).as(s"__off_$c")): _*)
    ranged.join(broadcast(offsets), "__pid")
      .select(df.columns.map(col) ++ cols.map(c =>
        (col(s"__off_$c") +
          coalesce(sum(col(c)).over(local), lit(0L))).as(s"${c}_cum")): _*)
  }

  /** Pearson AND Spearman correlation of two integral columns in ONE
    * input-proportional pass: the joint histogram (x, y, n) is the only
    * aggregate that touches data; both marginal rank maps derive from
    * it (bounded windows via [[doubledAvgRanks]]), and all sufficient
    * statistics are DECIMAL(38,0) sums of exact integer products —
    * n·x·y for Pearson, n·rx2·ry2 for Spearman-as-Pearson-on-ranks
    * (tie-averaged; the doubling cancels in the ratio). The final
    * correlations are one IEEE tree each over those exact moments
    * (mirror the tree in the oracle). Returns one row:
    * (n, pearson, spearman), unrounded. */
  def rankCorr(df: DataFrame, x: String, y: String): DataFrame = {
    // r18 A/B: deliberately NOT spread — the joint histogram barely
    // compresses when y is near-unique, so pre-exchanging the rows moves
    // the same bytes the aggregate's own exchange would (3.31 → 4.01 s
    // measured). r19 restructure (guide §2.3/§2.4 — shuffle fewer bytes,
    // remove passes): the old form materialized the full joint (x, y)
    // histogram (data-sized when y is near-unique, eager checkpoint),
    // ranked both marginals, and shuffle-joined the y-rank map back onto
    // the joint — a second data-sized exchange. This form never builds
    // the joint at all: the x-rank map (bounded by x's value domain)
    // broadcasts onto the rows, ONE aggregate folds the data straight to
    // the y-marginal frame carrying per-y partial sums (n, Σx, Σx²,
    // Σrx2, Σrx2²), the y-ranks attach IN-FRAME via the rangeCumSums
    // columns (no join back), and the final moment fold runs over that
    // y-frame. Every sufficient statistic is the same DECIMAL(38,0)
    // integer fold regrouped by y — exact sums are associative, so the
    // moments (and the IEEE trees over them) are bit-identical to the
    // joint-histogram form the DuckDB oracle mirrors.
    // Contract (unchanged in effect): x and y must be non-null — the old
    // form silently dropped null-keyed cells at its rank equi-joins.
    // A/B notes pinned in-source: (a) checkpointing the y-frame (eager
    // OR lazy) measured catastrophically worse (4.7-32 s spikes vs 3.4 s
    // — caching the decimal-heavy frame thrashes) so the y-aggregate is
    // deliberately left to compute twice (rangeCumSums' range-sampling
    // job + the ranged materialization) and kept NARROW instead;
    // (b) the x-marginal IS checkpointed — without it the sampling job
    // re-scans the data (tiny frame, no decimals, no downside).
    def d38(c: Column): Column = c.cast("decimal(38,0)")
    val xm = GraftGlue.materialize(df.groupBy(col(x)).agg(count(lit(1)).as("n")))
    val rxFull = GraftGlue.materialize(doubledAvgRanks(xm, x, "n"))
    // every x-side moment folds over the x-marginal (|domain(x)| rows),
    // so the per-y aggregate below carries only (n, Σx, Σrx2)
    val xmom = rxFull.agg(
      sum(col("n")).cast("double").as("nn"),
      sum(d38(col("n")) * col(x)).cast("double").as("sx"),
      sum(d38(col("n")) * col(x) * col(x)).cast("double").as("sxx"),
      sum(d38(col("n")) * col("r2")).cast("double").as("srx"),
      sum(d38(col("n")) * col("r2") * col("r2")).cast("double").as("srxx"))
    val rx = rxFull.select(col(x), col("r2").as("rx2"))
    val yFrame = df.join(broadcast(rx), x)
      .groupBy(col(y))
      .agg(count(lit(1)).as("n"),
        sum(d38(col(x))).as("sxn"),
        sum(d38(col("rx2"))).as("srxn"))
    val ranked = rangeCumSums(yFrame, y, Seq("n"), inclusive = false)
      .withColumn("ry2", lit(2L) * col("n_cum") + col("n") + lit(1L))
    val ymom = ranked.agg(
      sum(d38(col("n")) * col(y)).cast("double").as("sy"),
      sum(d38(col("n")) * col(y) * col(y)).cast("double").as("syy"),
      sum(col("sxn") * col(y)).cast("double").as("sxy"),
      sum(d38(col("n")) * col("ry2")).cast("double").as("sry"),
      sum(d38(col("n")) * col("ry2") * col("ry2")).cast("double").as("sryy"),
      sum(col("srxn") * col("ry2")).cast("double").as("srxy"))
    def corr(sxy: Column, sx: Column, sy: Column,
             sxx: Column, syy: Column): Column =
      (col("nn") * sxy - sx * sy) /
        (sqrt(col("nn") * sxx - sx * sx) * sqrt(col("nn") * syy - sy * sy))
    xmom.crossJoin(broadcast(ymom))
      .select(col("nn").cast("long").as("n"),
        corr(col("sxy"), col("sx"), col("sy"), col("sxx"), col("syy"))
          .as("pearson"),
        corr(col("srxy"), col("srx"), col("sry"), col("srxx"), col("sryy"))
          .as("spearman"))
  }

  /** Shared ranked/cumulative state for the two-sample family (KS,
    * Mann-Whitney — any test that consumes a conditional histogram with
    * cumulative counts and tie-averaged ranks): ONE conditional
    * histogram over the data and ONE [[rangeCumSums]] pass yield both
    * the inclusive ECDF counts (ca, cb) and the doubled tie-averaged
    * rank (r2 = 2·(rows strictly below) + ties + 1, derived from the
    * inclusive sums as 2·(ca+cb −na−nb) + na+nb + 1 — exclusive =
    * inclusive − ties, so no second cumsum pass is needed).
    *
    * The result is checkpointed: it is a distinct-value frame
    * (bounded by the value domain, not the row count) and the POINT of
    * this operator is amortization — q167 (KS) and q168 (Mann-Whitney)
    * consume the same build, and a session-resident engine computes it
    * once per dataset rather than once per test statistic. Returns
    * (v, na, nb, ca, cb, r2). */
  def rankedPair(df: DataFrame, v: String, isA: Column): DataFrame = {
    val hist = df.groupBy(col(v))
      .agg(sum(when(isA, 1L).otherwise(0L)).as("na"),
        sum(when(isA, 0L).otherwise(1L)).as("nb"))
    rangeCumSums(hist, v, Seq("na", "nb"), inclusive = true)
      .select(col(v), col("na"), col("nb"),
        col("na_cum").as("ca"), col("nb_cum").as("cb"),
        (lit(2L) * (col("na_cum") + col("nb_cum") - col("na") - col("nb")) +
          col("na") + col("nb") + lit(1L)).as("r2"))
      .transform(GraftGlue.materialize(_))
  }

  /** [[ksTwoSample]] over a prebuilt [[rankedPair]] frame — the
    * amortized path when several two-sample statistics run on the same
    * split. */
  def ksFromRankedPair(rp: DataFrame, v: String): DataFrame = {
    val tot = rp.agg(max(col("ca")).as("ta"), max(col("cb")).as("tb"))
    rp.crossJoin(broadcast(tot))
      .select(col(v), col("ta"), col("tb"),
        abs(col("ca").cast("decimal(38,0)") * col("tb") -
          col("cb").cast("decimal(38,0)") * col("ta")).as("gap"))
      .orderBy(col("gap").desc, col(v))
      .limit(1)
      .select(col("ta").as("n_a"), col("tb").as("n_b"),
        (col("gap").cast("double") /
          (col("ta").cast("double") * col("tb").cast("double"))).as("ks_d"),
        col(v).as("at_v"))
  }

  /** [[mannWhitney]] over a prebuilt [[rankedPair]] frame. */
  def mannWhitneyFromRankedPair(rp: DataFrame): DataFrame = {
    def d38(c: Column): Column = c.cast("decimal(38,0)")
    val hist = rp.withColumn("t", col("na") + col("nb"))
    hist.agg(
        sum(col("na")).as("ta"), sum(col("nb")).as("tb"),
        sum(d38(col("na")) * col("r2")).as("r2a"),
        sum(d38(col("t")) * col("t") * col("t") - col("t")).as("tt"))
      .select(col("ta"), col("tb"),
        (col("r2a") - d38(col("ta")) * (col("ta") + lit(1L))).as("u2a"),
        col("tt"))
      .select(col("ta").as("n_a"), col("tb").as("n_b"),
        (col("u2a").cast("double") / lit(2.0)).as("u_a"),
        ((col("u2a").cast("double") / lit(2.0) -
          col("ta").cast("double") * col("tb").cast("double") / lit(2.0)) /
          sqrt((col("ta").cast("double") * col("tb").cast("double") / lit(12.0)) *
            ((col("ta") + col("tb")).cast("double") + lit(1.0) -
              col("tt").cast("double") /
                ((col("ta") + col("tb")).cast("double") *
                  ((col("ta") + col("tb")).cast("double") - lit(1.0))))))
          .as("z"),
        (col("u2a").cast("double") /
          (col("ta").cast("double") * col("tb").cast("double")) - lit(1.0))
          .as("r_rb"))
  }

  /** Mann-Whitney U (Wilcoxon rank-sum) with the tie-corrected normal
    * approximation — the nonparametric location test beside the KS
    * shape test. Rank algebra stays in exact integers via the doubled
    * tie-averaged ranks of [[doubledAvgRanks]]: 2·R_A = Σ n_A(v)·r2(v)
    * and 2·U_A = 2·R_A − n_A(n_A+1) are DECIMAL(38,0) folds, as is the
    * tie term T = Σ(t³−t); only the final z = (U−μ)/σ and rank-biserial
    * effect size are double trees over those exact moments.
    *
    * Scale: one conditional histogram over data; ranks come from the
    * range-partitioned prefix sum of [[doubledAvgRanks]] (never a
    * one-task global window over the value domain). Returns one row:
    * (n_a, n_b, u_a, z, r_rb), z and r_rb unrounded. */
  def mannWhitney(df: DataFrame, v: String, isA: Column): DataFrame =
    mannWhitneyFromRankedPair(rankedPair(df, v, isA))

  /** Two-sample Kolmogorov-Smirnov statistic D = sup |F_A − F_B| with
    * the value where the supremum is attained. Entirely exact until the
    * final division: the ECDF gap at each distinct value is the INTEGER
    * |cA·nB − cB·nA| (cross-multiplied counts in DECIMAL(38,0) — no
    * float ECDFs to diverge), the argmax is a decimal sort with a value
    * tiebreak, and D = gap / (nA·nB) is a single double division.
    *
    * Scale: one conditional histogram over the data (map-side
    * combined), then the range-partitioned prefix sums of
    * [[rangeCumSums]] over the distinct-value frame — no one-task
    * global window however large the value domain grows. Returns one
    * row: (n_a, n_b, ks_d, at_v) with ks_d unrounded. */
  def ksTwoSample(df: DataFrame, v: String, isA: Column): DataFrame =
    ksFromRankedPair(rankedPair(df, v, isA), v)

  /** Kaplan–Meier product-limit survival (Kaplan & Meier, JASA 1958)
    * over per-subject (`life`, `ev`) rows — ev = 1 for an observed
    * event, 0 for right-censoring. At-risk counts come from one
    * cumulative sum over the lifetime histogram; S(t) runs as
    * exp(Σ ln(1 − d/n)) over the DISTINCT event times, so window state
    * is bounded by the time domain, never the subject count. Emits
    * (t_days, n_events, at_risk, surv) at event times only, surv
    * rounded at 1e-6. StatsSpec pins the published 6-MP trial values. */
  def kaplanMeier(per: DataFrame, life: String = "life",
                  ev: String = "ev"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val upTo = Window.orderBy(col(life))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    riskTable(per, life, ev)
      .withColumn("surv", round(exp(sum(
        log(lit(1.0) - col("d").cast("double") / col("at_risk"))).over(upTo)), 6))
      .select(col(life).cast("long").as("t_days"), col("d").as("n_events"),
        col("at_risk"), col("surv"))
      .orderBy(col("t_days"))
  }

  /** Shared survival machinery: the lifetime histogram with at-risk
    * counts, filtered to event times — consumed by [[kaplanMeier]] and
    * [[nelsonAalen]]. State bounded by the time domain. */
  private def riskTable(per: DataFrame, life: String, ev: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = per.groupBy(col(life))
      .agg(count(lit(1)).as("n_all"), sum(col(ev)).as("d"))
      .transform(GraftGlue.materialize(_)) // at-risk cumsum + event rows share it
    val before = Window.orderBy(col(life))
      .rowsBetween(Window.unboundedPreceding, -1)
    hist
      .withColumn("at_risk",
        sum(col("n_all")).over(Window.orderBy(col(life)).rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)) -
          coalesce(sum(col("n_all")).over(before), lit(0L)))
      .filter(col("d") > 0)
  }

  /** Nelson-Aalen cumulative hazard (Nelson 1972; Aalen, Ann. Stat.
    * 1978) over the same per-subject (`life`, `ev`) rows as
    * [[kaplanMeier]] — the hazard-scale twin: Ĥ(t) = Σ_{tᵢ≤t} dᵢ/nᵢ,
    * plus the Fleming-Harrington/Breslow survival exp(−Ĥ), which
    * dominates the KM product-limit estimate (exp(−x) ≥ 1−x per
    * factor — StatsSpec pins both that dominance and the literal
    * hand fold on the published 6-MP trial data). Same scale shape:
    * everything runs on the day-bounded event-time histogram via the
    * shared [[riskTable]]; the cumulative Σ d/n is an ORDERED window
    * fold, so its float summation order is identical on both engines.
    * Emits (t_days, n_events, at_risk, cum_haz, surv_fh). */
  def nelsonAalen(per: DataFrame, life: String = "life",
                  ev: String = "ev"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val upTo = Window.orderBy(col(life))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    riskTable(per, life, ev)
      .withColumn("ch",
        sum(col("d").cast("double") / col("at_risk")).over(upTo))
      .select(col(life).cast("long").as("t_days"), col("d").as("n_events"),
        col("at_risk"), round(col("ch"), 6).as("cum_haz"),
        round(exp(-col("ch")), 6).as("surv_fh"))
      .orderBy(col("t_days"))
  }

  /** Two-group log-rank test (Mantel 1966; Peto & Peto, JRSS-A 1972)
    * over per-subject (`life`, `ev`, `grp`) rows — grp ∈ {0, 1}, ev = 1
    * for an observed event, 0 for right-censoring. At each distinct
    * event time the observed group-1 events d₁ are compared with the
    * hypergeometric expectation d·n₁/n and variance
    * d·(n−d)/(n−1)·n₁/n·(n−n₁)/n; the χ² statistic is (O₁−E₁)²/V.
    * Per-time expectation and variance quantize to nano-units so the
    * fold is an exact integer sum in DECIMAL(38,0) — both engines
    * evaluate the identical double expression (same operand order) on
    * exact integer inputs before the one round-to-nano, so the folded
    * sums compare arithmetically. Both at-risk curves come from one
    * cumulative sum over the (life × grp) histogram; window state is
    * bounded by the time domain, never the subject count (the
    * [[kaplanMeier]] shape). The nano quantization is exact while
    * 1e9·d·n₁/n < 2⁵³ — i.e. up to ~9e6 events at a single time point;
    * beyond that the two engines still agree (identical IEEE
    * expression) but the nano value itself carries float error.
    * One row out: (n0, n1, o1, e1, v1, chi2); chi2 is NULL by contract
    * on a degenerate cohort (zero variance — every event time single-
    * group, or no events at all) rather than a silent NaN/∞. */
  def logRank(per: DataFrame, life: String = "life", ev: String = "ev",
              grp: String = "grp"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def d38(c: Column) = c.cast("decimal(38,0)")
    val hist = per.groupBy(col(life))
      .agg(count(lit(1)).as("c_all"),
        sum(when(col(grp) === 1, 1L).otherwise(0L)).as("c_1"),
        sum(col(ev)).as("d_all"),
        sum(when(col(grp) === 1, col(ev)).otherwise(0L)).as("d_1"))
      .transform(GraftGlue.materialize(_)) // at-risk cumsums + event rows share it
    val before = Window.orderBy(col(life))
      .rowsBetween(Window.unboundedPreceding, -1)
    val whole = Window.orderBy(col(life)).rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val terms = hist
      .withColumn("n_at",
        sum(col("c_all")).over(whole) -
          coalesce(sum(col("c_all")).over(before), lit(0L)))
      .withColumn("n1_at",
        sum(col("c_1")).over(whole) -
          coalesce(sum(col("c_1")).over(before), lit(0L)))
      .filter(col("d_all") > 0 && col("n_at") > 1)
      // identical operand order in the DuckDB mirror: left-to-right
      // 1e9 * d1? no — e = 1e9 * d * n1 / n ; v = 1e9 * d * (n-d)
      //   / (n-1) * n1 / n * (n - n1) / n — each step a double op on
      // exact integer-valued operands, then ONE round to nano
      .select(
        col("d_1"),
        expr("CAST(round(1e9 * d_all * n1_at / n_at) AS BIGINT)").as("e_nano"),
        expr("CAST(round(1e9 * d_all * (n_at - d_all) / (n_at - 1) " +
          "* n1_at / n_at * (n_at - n1_at) / n_at) AS BIGINT)").as("v_nano"))
    val counts = per.agg(
      sum(when(col(grp) === 0, 1L).otherwise(0L)).as("n0"),
      sum(when(col(grp) === 1, 1L).otherwise(0L)).as("n1"))
    terms
      .agg(sum(col("d_1")).as("o1"),
        sum(d38(col("e_nano"))).as("e1n"),
        sum(d38(col("v_nano"))).as("v1n"))
      .crossJoin(broadcast(counts))
      // degenerate-cohort contract: when every event time has all its
      // at-risk subjects in one group (n1_at ∈ {0, n_at}) the variance
      // sum is 0 and the statistic is undefined — chi2 is then NULL BY
      // CONTRACT (an explicit guard, not a silent NaN/∞ leak), as is the
      // no-event cohort where the sums themselves are NULL
      .select(col("n0"), col("n1"), col("o1"),
        round(col("e1n").cast("double") / 1e9, 6).as("e1"),
        round(col("v1n").cast("double") / 1e9, 6).as("v1"),
        when(col("v1n") > 0,
          round((col("o1").cast("double") - col("e1n").cast("double") / 1e9) *
            (col("o1").cast("double") - col("e1n").cast("double") / 1e9) /
            (col("v1n").cast("double") / 1e9), 6))
          .otherwise(lit(null).cast("double")).as("chi2"))
  }

  /** Always-valid mSPRT monitor (Johari, Koomen, Pekelis, Walsh —
    * KDD'17) over a per-period two-arm frame (`day`, nt, st, nc, sc,
    * ss): cumulative per-arm moments give the running mean difference
    * θ̂ and its variance V; log Λ = ½ln(V/(V+τ²)) + θ̂²τ²/(2V(V+τ²));
    * the always-valid p = min(1, exp(−max log Λ so far)) is monotone by
    * the running max — valid at EVERY look. Periods with an empty arm
    * (or fewer than two total observations) are excluded: the monitor
    * starts once both arms report. Log-domain Λ so strong effects can't
    * overflow; the moment products nn·css and sall² run in
    * DECIMAL(38,0) whether `ss` arrives as BIGINT or DECIMAL, so no
    * caller can trip a silent long wraparound in the variance.
    * Windows are bounded by the period calendar. StatsSpec
    * pins that an injected mean shift drives p below α while the
    * symmetric A/A stream never rejects. */
  def msprtMonitor(daily: DataFrame, tau2: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def d38(c: Column) = c.cast("decimal(38,0)")
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("cnt", sum(col("nt")).over(w))
      .withColumn("cst", sum(col("st")).over(w))
      .withColumn("cnc", sum(col("nc")).over(w))
      .withColumn("csc", sum(col("sc")).over(w))
      .withColumn("css", sum(col("ss")).over(w))
      .withColumn("nn", col("cnt") + col("cnc"))
      .filter(col("cnt") > 0 && col("cnc") > 0 && col("nn") > 1)
      .withColumn("sall", d38(col("cst")) + d38(col("csc")))
      // nn*css widened like sall — a caller passing BIGINT ss (the
      // natural type for summed squared cents) would otherwise hit a
      // silent long*long wraparound in sig2; d38 is the identity when
      // ss already arrives as decimal(38,0) (both in-repo callers).
      .withColumn("sig2",
        (d38(col("nn")) * d38(col("css")) -
          col("sall") * col("sall")).cast("double") /
          (col("nn").cast("double") * col("nn") * (col("nn") - 1)) * col("nn"))
      .withColumn("theta",
        col("cst").cast("double") / col("cnt") -
          col("csc").cast("double") / col("cnc"))
      .withColumn("vv", col("sig2") * (lit(1.0) / col("cnt") + lit(1.0) / col("cnc")))
      .withColumn("llr",
        lit(0.5) * log(col("vv") / (col("vv") + tau2)) +
          col("theta") * col("theta") * tau2 /
            (lit(2.0) * col("vv") * (col("vv") + tau2)))
      .withColumn("p_alw", least(lit(1.0), exp(-max(col("llr")).over(w))))
      .select(col("day"), col("nn").as("n_seen"),
        round(col("theta") / 100.0, 4).as("theta"),
        round(col("llr"), 6).as("log_lambda"),
        round(col("p_alw"), 6).as("p_always_valid"),
        (col("p_alw") <= 0.05).cast("int").as("reject"))
      .orderBy(col("day"))
  }

  /** Stratified caliper nearest-neighbor matching (Rubin 1973,
    * deterministic variant) over rows carrying (`stratum`, `key`,
    * integer `value`, 0/1 `treat`): every treatment row matches its
    * nearest control by value within the stratum, with replacement —
    * ties to the LOWER value, one-sided when a side is missing. Both
    * neighbor passes are RUNNING window frames (the next control rides
    * the REVERSED sort — an UnboundedFollowing frame re-scans the
    * remaining partition per row, O(n²)). Returns per-stratum
    * (n_matched, att, mean_abs_gap) with ATT = mean treated-minus-
    * matched in exact integer units before the final rounded division.
    * StatsSpec pins nearest/tie/one-sided on a hand case. */
  def caliperMatch(df: DataFrame, stratum: String, key: String,
                   value: String, treat: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(stratum)).orderBy(col(value), col(key))
    val wRev = Window.partitionBy(col(stratum))
      .orderBy(col(value).desc, col(key).desc)
    val prevC = last(when(col(treat) === 0, col(value)), ignoreNulls = true)
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val nextC = last(when(col(treat) === 0, col(value)), ignoreNulls = true)
      .over(wRev.rowsBetween(Window.unboundedPreceding, -1))
    df.withColumn("prev_c", prevC).withColumn("next_c", nextC)
      .filter(col(treat) === 1)
      .withColumn("match_c",
        when(col("prev_c").isNull, col("next_c"))
          .when(col("next_c").isNull, col("prev_c"))
          .when(col(value) - col("prev_c") <= col("next_c") - col(value),
            col("prev_c"))
          .otherwise(col("next_c")))
      .filter(col("match_c").isNotNull)
      .groupBy(col(stratum))
      .agg(count(lit(1)).as("n_matched"),
        sum(col(value) - col("match_c")).as("sdiff"),
        sum(abs(col(value) - col("match_c"))).as("sgap"))
      .select(col(stratum), col("n_matched"),
        round(col("sdiff").cast("double") / col("n_matched") / 100.0, 4).as("att"),
        round(col("sgap").cast("double") / col("n_matched") / 100.0, 4)
          .as("mean_abs_gap"))
      .orderBy(col(stratum))
  }

  /** Adjusted Rand Index (Hubert & Arabie, J. Classification 1985)
    * between two partitions of the same rows — `lab` carries one row
    * per element with its cluster and label. Pure pair counting: every
    * sum is an exact integer (n(n−1) is even, so the halving is exact),
    * and the marginal products p_a·p_b and n(n−1) are evaluated in
    * DECIMAL(38,0) — each pair count can reach n(n−1)/2, so a LONG
    * product wraps once both marginals pass ~3e9 (reachable near ~100k
    * concentrated rows; the DuckDB mirror's HUGEINT would silently
    * diverge). Floats appear only in the two final divisions, evaluated
    * in one fixed order on exact operands, so both engines round the
    * same values. Cells bounded by clusters × labels. One row out:
    * (n, n_clusters, n_labels, p_ij, p_a, p_b, ari). StatsSpec pins the
    * Hubert–Arabie hand example. */
  def clusterAri(lab: DataFrame, clusterCol: String,
                 labelCol: String): DataFrame = {
    val l = GraftGlue.materialize(lab) // cells + both marginals share it
    val cells = l.groupBy(col(clusterCol), col(labelCol))
      .agg(count(lit(1)).as("nij"))
    val sIj = cells.agg(sum(expr("(nij * (nij - 1)) div 2")).as("p_ij"),
      countDistinct(col(clusterCol)).as("n_clusters"),
      countDistinct(col(labelCol)).as("n_labels"))
    val sA = l.groupBy(col(clusterCol)).agg(count(lit(1)).as("a"))
      .agg(sum(expr("(a * (a - 1)) div 2")).as("p_a"))
    val sB = l.groupBy(col(labelCol)).agg(count(lit(1)).as("b"))
      .agg(sum(expr("(b * (b - 1)) div 2")).as("p_b"))
    val n = l.agg(count(lit(1)).as("n"))
    def d38(c: Column) = c.cast("decimal(38,0)")
    sIj.crossJoin(broadcast(sA)).crossJoin(broadcast(sB))
      .crossJoin(broadcast(n))
      .withColumn("expct",
        (d38(col("p_a")) * d38(col("p_b"))).cast("double") /
          (d38(col("n")) * (d38(col("n")) - 1) / 2).cast("double"))
      .select(col("n"), col("n_clusters"), col("n_labels"),
        col("p_ij"), col("p_a"), col("p_b"),
        // NULL BY CONTRACT on a degenerate design (the q220 logRank
        // precedent): the denominator (p_a+p_b)/2 − p_a·p_b/T is zero
        // EXACTLY when p_a = p_b ∈ {0, T} — both partitions trivial
        // (one big cluster each: hit live by the ×100 stress, 100
        // copies of one doc) or both all-singletons. Guarded by the
        // EXACT INTEGER characterization, not a float compare: at
        // T² > 2⁵³ the double-cast denominator of a degenerate design
        // rounds to a tiny nonzero and a float guard would emit a
        // garbage ratio (self-review catch).
        when(col("p_a") === col("p_b") &&
            (col("p_a") === 0L ||
             d38(col("p_a")) === d38(col("n")) * (d38(col("n")) - 1) / 2),
          lit(null).cast("double"))
          .otherwise(round((col("p_ij") - col("expct")) /
            ((d38(col("p_a")) + d38(col("p_b"))).cast("double") / 2.0 -
              col("expct")), 6))
          .as("ari"))
  }

  /** Isotonic regression by pool-adjacent-violators (Ayer et al. 1955;
    * Barlow et al. 1972; Best & Chakravarti 1990) over a PRE-AGGREGATED
    * ordered bin frame (`ord`, `n`, `events`): the weighted
    * least-squares NONDECREASING fit of the per-bin event rate — the
    * classic score-calibration step (a model's raw score bins → a
    * monotone probability map). Inherently sequential stack merging, so
    * it runs as the DECLARED driver-bounded fold (the q202/q221
    * pattern): `maxBins` fails loudly on a non-aggregated input. Pool
    * merges compare exact rationals by BigInt cross-multiplication —
    * no float decides a merge — and each bin's fitted value is its
    * pool's (Σevents, Σn) ratio, one double division at the output
    * boundary. The DuckDB oracle does NOT mirror this stack: it
    * evaluates the independent minimax identity
    *   iso(i) = max_{j≤i} min_{k≥i} avg(events, j..k)
    * (a theorem of the PAVA optimum), so the hash compare proves the
    * implementation against a different algorithm, not a mirrored
    * construction. Output: (ord, n, events, rate, iso), rates rounded
    * at 1e-6 — distinct interval averages differ by ≥ 1/(W_a·W_b),
    * far above double noise at any gated scale. */
  def isotonicFit(bins: DataFrame, ord: String, n: String, events: String,
                  maxBins: Int = 1000): DataFrame = {
    val spark = bins.sparkSession
    import spark.implicits._
    // limit BEFORE collect: the loud "pre-aggregate" contract must fire
    // on a raw-row input, not OOM the driver trying to materialize it
    val rows = bins
      .select(col(ord).cast("long"), col(n).cast("long"),
        col(events).cast("long"))
      .orderBy(col(ord)).limit(maxBins + 1).as[(Long, Long, Long)].collect()
    require(rows.nonEmpty, "isotonicFit needs at least one bin")
    require(rows.length <= maxBins,
      s"isotonicFit is a declared bin-bounded driver fold: " +
        s"over $maxBins bins — pre-aggregate the bins")
    require(rows.forall(r => r._2 > 0 && r._3 >= 0 && r._3 <= r._2),
      "each bin needs n > 0 and 0 <= events <= n")
    // PAVA stack: (firstIdx, Σn, Σevents); merge while the new pool's
    // rate is BELOW the top's — rational compare via BigInt products
    var stack = List.empty[(Int, Long, Long)]
    rows.zipWithIndex.foreach { case ((_, w, s), i) =>
      var cur = (i, w, s)
      while (stack.nonEmpty && {
        val (_, tw, ts) = stack.head
        BigInt(ts) * cur._2 >= BigInt(cur._3) * tw // ts/tw >= cs/cw
      }) {
        val (ti, tw, ts) = stack.head
        stack = stack.tail
        // addExact: pooled weights from adversarial callers must throw,
        // not wrap into garbage the BigInt compares then trust
        cur = (ti, java.lang.Math.addExact(tw, cur._2),
          java.lang.Math.addExact(ts, cur._3))
      }
      stack = cur :: stack
    }
    val iso = Array.ofDim[Double](rows.length)
    var end = rows.length
    stack.foreach { case (first, w, s) =>
      val v = s.toDouble / w
      (first until end).foreach(iso(_) = v)
      end = first
    }
    spark.createDataFrame(rows.toIndexedSeq.zipWithIndex.map {
      case ((o, w, s), i) => (o, w, s, s.toDouble / w, iso(i))
    }).toDF(ord, n, events, "rate_raw", "iso_raw")
      .select(col(ord), col(n), col(events),
        round(col("rate_raw"), 6).as("rate"),
        round(col("iso_raw"), 6).as("iso"))
      .orderBy(col(ord))
  }

  /** Gini concentration coefficient per group over NONNEGATIVE integer
    * `cents`: G = (2·Σᵢ i·x₍ᵢ₎)/(n·Σx) − (n+1)/n with x₍ᵢ₎ the
    * ascending-sorted values. The rank sum folds per VALUE BLOCK on the
    * (value → count) histogram — a block of c equal values after s
    * predecessors contributes x·(c·s + c(c+1)/2), which is the same for
    * ANY rank assignment inside a tie, so no tiebreak is needed and the
    * window runs over the value domain (the q133 cent-domain
    * discipline), never row-proportional. Everything is exact integer
    * (c·(c+1) is always even, the block terms widen to DECIMAL(38,0))
    * until the one final double expression. Contract: negative cents
    * raise loudly (the Lorenz ordering is undefined there); an all-zero
    * group yields NULL gini (0/0, undefined); output (groups…, n,
    * sum_cents, gini) — sum_cents narrows to BIGINT behind a loud
    * guard (the q216 boundary contract: raise_error past 2⁶³ cents,
    * never a silent non-ANSI wrap). */
  def gini(df: DataFrame, groups: Seq[String], cents: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def d38(c: Column) = c.cast("decimal(38,0)")
    val hist = df
      .groupBy((groups.map(col) :+ col(cents).cast("long").as("x")): _*)
      .agg(count(lit(1)).as("c"))
    val before = Window.partitionBy(groups.map(col): _*).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val blocks = hist
      .withColumn("s", coalesce(sum(col("c")).over(before), lit(0L)))
      // c·(c+1)/2 must widen BEFORE the multiply: at c ~3e9 the long
      // product wraps silently. One factor is always even, so halving
      // that factor first keeps every operand inside a long and the
      // decimal product exact at any block size
      .withColumn("blk",
        d38(col("x")) * (d38(col("c")) * d38(col("s")) +
          expr("CASE WHEN c % 2 = 0" +
            " THEN CAST(c div 2 AS DECIMAL(38,0)) * CAST(c + 1 AS DECIMAL(38,0))" +
            " ELSE CAST(c AS DECIMAL(38,0)) * CAST((c + 1) div 2 AS DECIMAL(38,0))" +
            " END")))
    blocks.groupBy(groups.map(col): _*)
      .agg(sum(col("c")).as("n"), min(col("x")).as("mn"),
        sum(d38(col("x")) * d38(col("c"))).as("tot"),
        sum(col("blk")).as("rsum"))
      // the q216 boundary contract: the decimal total narrows to BIGINT
      // only behind a loud guard — a silent non-ANSI cast would NULL or
      // wrap past 2^63 cents while gini itself stayed plausibly correct
      .select((groups.map(col) :+ col("n") :+
        when(abs(col("tot")) <= d38(lit(Long.MaxValue)),
          col("tot").cast("long"))
          .otherwise(raise_error(lit(
            "gini: group total exceeds BIGINT cents — report the wide column")))
          .as("sum_cents") :+
        when(col("mn") < 0,
          raise_error(lit("gini: negative cents — Lorenz order undefined")))
          .otherwise(when(col("tot") > 0,
            round(lit(2.0) * col("rsum").cast("double") /
              (col("n").cast("double") * col("tot").cast("double")) -
              (col("n") + 1).cast("double") / col("n").cast("double"), 6))
            .otherwise(lit(null).cast("double"))).as("gini")): _*)
  }

  /** One-way ANOVA F over an integral value column (Fisher 1925): ONE
    * map-side-combined aggregate to the (group → n, Σy, Σy²) frame —
    * enum-bounded state — then the decomposition SSB = Σ s_g²/n_g −
    * S²/N, SSW = Σ ss_g − Σ s_g²/n_g as one double expression over
    * those exact moments (the house float-parity rule; the Σ over
    * groups is a k-term double fold whose summation-order ULP noise
    * sits ten orders below the 1e-6 output rounding). Emits one row:
    * (k, n, f_stat, eta2) — η² = SSB/SST the effect size. Degenerate
    * designs (k < 2, or zero within-group variance) emit NULL F by
    * contract (the logRank discipline). StatsSpec pins the moment
    * algebra against a literal group-mean/deviation-loop computation
    * on a hand dataset. */
  def anovaF(df: DataFrame, group: Column, value: Column): DataFrame = {
    val g = df.groupBy(group.as("g"))
      .agg(count(lit(1)).as("ng"),
        sum(value.cast("decimal(38,0)")).as("sg"),
        psum(value, value).as("ssg"))
    val mom = g.agg(
      count(lit(1)).as("k"),
      sum(col("ng")).as("n"),
      sum(col("sg")).cast("double").as("s"),
      sum(col("ssg")).as("ss"),
      sum(col("sg").cast("double") * col("sg").cast("double") /
        col("ng").cast("double")).as("sb"))
    val ssb = col("sb") - col("s") * col("s") / col("n").cast("double")
    val ssw = col("ss") - col("sb")
    val sst = col("ss") - col("s") * col("s") / col("n").cast("double")
    mom.select(col("k"), col("n"),
      when(col("k") >= 2 && ssw > 0,
        round((ssb / (col("k") - 1).cast("double")) /
          (ssw / (col("n") - col("k")).cast("double")), 6))
        .otherwise(lit(null).cast("double")).as("f_stat"),
      when(sst > 0, round(ssb / sst, 6))
        .otherwise(lit(null).cast("double")).as("eta2"))
  }

  /** Paired sign-flip permutation test (Fisher's randomization test in
    * its one-sample form): H₀ says the paired differences are
    * symmetric about zero, so flipping each difference's sign is
    * distribution-preserving; the two-sided p-value is
    * (1 + #{b : |T_b| ≥ |T_obs|}) / (B+1) with T = Σ±d_i. EVERYTHING
    * is exact integer arithmetic — T_obs and every replicate T_b are
    * long sums of cent differences, the only float is the final
    * p-value division — so both engines agree bit-for-bit with no
    * rounding leaps of faith. Signs are md5 bits (`salt:b:key` — the
    * q201 derandomization discipline: reproducible across engines,
    * runs, and partitionings). Scale shape: the caller hands a
    * pre-aggregated pairs frame (calendar/enum-bounded by
    * construction); the ×B expansion is one narrow generate with
    * map-side combine into B cells — the q201 bootstrap shape.
    * `df` must carry integral `diffCol` and a distinct `keyCol`.
    * Output row: (n_pairs, t_obs, n_extreme, p_value). StatsSpec pins
    * the two exact endpoints: an all-positive shift yields the minimum
    * p = 1/(B+1), an exactly antithetic frame yields T_obs = 0 →
    * p = 1. */
  def signFlipTest(df: DataFrame, keyCol: Column, diffCol: Column,
                   b: Int = 256, salt: String = "sf"): DataFrame = {
    require(b >= 1, s"need at least one sign replicate: $b")
    val pairs = df.select(keyCol.cast("string").as("k"),
      diffCol.cast("long").as("diff"))
      .transform(GraftGlue.materialize(_)) // feeds T_obs AND the xB expansion
    val tobs = pairs.agg(sum(col("diff")).as("t_obs"),
      count(lit(1)).as("n_pairs"))
    val flips = pairs
      .select(col("k"), col("diff"),
        explode(sequence(lit(0), lit(b - 1))).as("b"))
      .select(col("b"),
        when(conv(substring(md5(concat(lit(s"$salt:"),
            col("b").cast("string"), lit(":"), col("k"))), 1, 1), 16, 10)
            .cast("long") % 2 === 0, col("diff"))
          .otherwise(-col("diff")).as("sd"))
      .groupBy(col("b")).agg(sum(col("sd")).as("tb"))
    flips.crossJoin(broadcast(tobs))
      .agg(max(col("n_pairs")).as("n_pairs"),
        max(col("t_obs")).as("t_obs"),
        sum(when(abs(col("tb")) >= abs(col("t_obs")), 1L).otherwise(0L))
          .as("n_extreme"))
      .select(col("n_pairs"), col("t_obs"), col("n_extreme"),
        round((col("n_extreme") + 1).cast("double") / lit((b + 1).toDouble), 6)
          .as("p_value"))
  }

  /** [[signFlipTest]] run for a FAMILY of groups in one pass — the
    * per-segment experiment readout that multiple-testing correction
    * (q245's Benjamini-Hochberg step-up) exists for. Identical exact-
    * integer machinery, with the group id folded into the md5 sign
    * draw (`salt:b:g:key`) so each group's B replicates are
    * independent. One narrow ×B generate with map-side combine into
    * (group × B) cells, then a group-bounded aggregate — the q201
    * shape, still no per-row shuffle beyond the combine. Output: one
    * (g, n_pairs, t_obs, n_extreme) row per group; the caller derives
    * p = (n_extreme+1)/(B+1) and any correction over the ENUM-bounded
    * group frame. */
  def signFlipByGroup(df: DataFrame, grpCol: Column, keyCol: Column,
                      diffCol: Column, b: Int, salt: String): DataFrame = {
    require(b >= 1, s"need at least one sign replicate: $b")
    val pairs = df.select(grpCol.cast("string").as("g"),
      keyCol.cast("string").as("k"), diffCol.cast("long").as("diff"))
      .transform(GraftGlue.materialize(_)) // feeds per-group T_obs AND the xB expansion
    val tobs = pairs.groupBy(col("g"))
      .agg(sum(col("diff")).as("t_obs"), count(lit(1)).as("n_pairs"))
    val flips = pairs
      .select(col("g"), col("k"), col("diff"),
        explode(sequence(lit(0), lit(b - 1))).as("b"))
      .select(col("g"), col("b"),
        when(conv(substring(md5(concat(lit(s"$salt:"),
            col("b").cast("string"), lit(":"), col("g"), lit(":"),
            col("k"))), 1, 1), 16, 10)
            .cast("long") % 2 === 0, col("diff"))
          .otherwise(-col("diff")).as("sd"))
      .groupBy(col("g"), col("b")).agg(sum(col("sd")).as("tb"))
    flips.join(broadcast(tobs), "g")
      .groupBy(col("g"))
      .agg(max(col("n_pairs")).as("n_pairs"),
        max(col("t_obs")).as("t_obs"),
        sum(when(abs(col("tb")) >= abs(col("t_obs")), 1L).otherwise(0L))
          .as("n_extreme"))
  }

  /** Benjamini-Hochberg step-up (Benjamini & Hochberg JRSS-B 1995) over
    * an ENUM-BOUNDED family of RATIONAL p-values p_i = pNum_i/den:
    * rank p ascending (ties by `tie`), find the LARGEST k with
    * p_(k) ≤ k·α/m, reject ranks 1..k — the step-up RESCUES an earlier
    * rank whose own compare failed when a later rank passes (the
    * property a naive per-row threshold gets wrong; StatsSpec pins it
    * on a literal construction plus the textbook 15-p example).
    * The compare is pure integers — α = alphaNum/alphaDen and
    * p = pNum/den give p_(k) ≤ k·α/m ⟺ alphaDen·m·pNum ≤
    * den·alphaNum·k — so no float touches any decision. The rank
    * window is GLOBAL (unpartitioned — the step-up couples every rank
    * to m), i.e. single-partition by construction, so the operator
    * carries the house loud-cap discipline: the family row count is
    * probed with a `limit(maxFamily+1)` count (the TimeSeries guard
    * shape). The limit caps rows COLLECTED, not upstream work — a
    * family built from an aggregate/join executes its plan once for
    * the probe and once for the ranking pass (callers' family frames
    * are enum-bounded aggregates, so the extra pass is one cheap
    * aggregate; pass a checkpointed frame to pay it only once) —
    * and an over-cap family REFUSES instead of silently
    * single-threading a data-proportional input. Callers are
    * enum-bounded far below the default (q245 runs one test per
    * nation, ≤ 25 rows); a genuinely larger family belongs in a
    * partitioned per-stratum variant, not a bigger cap. Adds
    * (p_rank, rejected) to the input columns. */
  def bhStepUp(tests: DataFrame, pNum: Column, tie: Column, den: Long,
               alphaNum: Long, alphaDen: Long,
               maxFamily: Int = 4096): DataFrame = {
    require(den >= 1 && alphaNum >= 1 && alphaDen > alphaNum,
      s"need den >= 1 and alpha in (0,1): $alphaNum/$alphaDen over $den")
    val probed = tests.limit(maxFamily + 1).count()
    require(probed <= maxFamily,
      s"bhStepUp family exceeds $maxFamily tests: the global step-up rank " +
        s"window is single-partition by construction — partition the family " +
        s"(per-stratum BH) instead of ranking it whole")
    val w = Window.orderBy(pNum, tie)
    val full = Window.orderBy(col("p_rank")).rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    tests
      .withColumn("p_rank", row_number().over(w))
      .withColumn("__m", count(lit(1)).over(w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("__kstar", max(when(
          lit(alphaDen) * col("__m") * pNum <=
            lit(den * alphaNum) * col("p_rank"),
          col("p_rank")).otherwise(0)).over(full))
      .withColumn("rejected", (col("p_rank") <= col("__kstar")).cast("int"))
      .drop("__m", "__kstar")
  }
}
