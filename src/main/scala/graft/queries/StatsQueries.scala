package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.GraftGlue

import graft.Tables
import graft.operators.{Relational, Stats}

/** Closed-form inferential statistics over exact moments: the tests and
  * estimators an analyst reaches for right after the descriptive family
  * (q09/q61) — multi-feature OLS, Welch's two-sample t, Wilson-bound
  * ranking, and the equi-depth histogram that complements q08's
  * equal-width one.
  *
  * Parity discipline (see [[graft.operators.Stats]]): sufficient
  * statistics are DECIMAL(38,0) sums of per-row long products — exact
  * at any scale and partitioning — and every closed-form solve is an
  * IEEE double expression tree written IDENTICALLY here and in the
  * DuckDB oracle, so the hash compare is on equal bits, not luck.
  */
object StatsQueries {

  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables(s, d, n)

  /** Session-resident shared build for the two-sample family: the
    * returned-vs-kept price [[Stats.rankedPair]] (conditional histogram
    * + inclusive ECDF counts + doubled tie-averaged ranks) that q167
    * (KS) and q168 (Mann-Whitney) both consume. Built ONCE per
    * (session, dataset) and reused — the same amortization contract as
    * q172's materialized IVF index: the state is a distinct-value frame
    * (bounded by the cent-price domain), checkpointed by rankedPair
    * itself, and each additional test statistic over the split costs
    * one aggregate over it instead of a fresh histogram + prefix-sum
    * build. */
  private val rankedPairCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def returnedVsKeptPrices(s: SparkSession, d: String): DataFrame =
    rankedPairCache.getOrElseUpdate((s, d), {
      val li = t(s, d, "lineitem").filter(col("l_returnflag").isin("R", "N"))
        .select(col("l_returnflag").as("rf"),
          round(col("l_extendedprice") * 100).cast("long").as("v"))
      Stats.rankedPair(li, "v", col("rf") === "R")
    })

  /** Exact moment: Σ(a·b) with long per-row products, 128-bit exact
    * total ([[graft.functions.Aggregators.sum128]] — two mutable long
    * buffer slots, so GROUPED Gram aggregates stay on HashAggregate's
    * in-place fast path; a decimal(38,0) sum buffer forces the slow
    * path, measured 7× on q154), one double rounding at the end. */
  private def m(a: Column, b: Column): Column =
    graft.functions.Aggregators.sum128(a * b).cast("double")

  /** The ten OLS moment aggregates over (x1, x2, y) columns. */
  private def olsMoments: Seq[Column] = Seq(
    count(lit(1)).cast("double").as("n"),
    m(col("x1"), lit(1L)).as("s1"), m(col("x2"), lit(1L)).as("s2"),
    m(col("y"), lit(1L)).as("sy"),
    m(col("x1"), col("x1")).as("s11"), m(col("x1"), col("x2")).as("s12"),
    m(col("x2"), col("x2")).as("s22"),
    m(col("x1"), col("y")).as("s1y"), m(col("x2"), col("y")).as("s2y"),
    m(col("y"), col("y")).as("syy"))

  /** 3×3 Cramer solve + fit stats over a moment frame (any extra
    * grouping columns pass through). Output: intercept / coef_qty /
    * coef_disc in dollars, r2 — parenthesization mirrored token-for-
    * token by [[olsOracleSelect]]. */
  private def olsSolve(mom: DataFrame, keep: Seq[String]): DataFrame =
    mom.select(col("*"),
        (col("n") * (col("s11") * col("s22") - col("s12") * col("s12")) -
         col("s1") * (col("s1") * col("s22") - col("s12") * col("s2")) +
         col("s2") * (col("s1") * col("s12") - col("s11") * col("s2"))).as("det"),
        (col("sy") * (col("s11") * col("s22") - col("s12") * col("s12")) -
         col("s1") * (col("s1y") * col("s22") - col("s12") * col("s2y")) +
         col("s2") * (col("s1y") * col("s12") - col("s11") * col("s2y"))).as("d0"),
        (col("n") * (col("s1y") * col("s22") - col("s12") * col("s2y")) -
         col("sy") * (col("s1") * col("s22") - col("s12") * col("s2")) +
         col("s2") * (col("s1") * col("s2y") - col("s1y") * col("s2"))).as("d1"),
        (col("n") * (col("s11") * col("s2y") - col("s1y") * col("s12")) -
         col("s1") * (col("s1") * col("s2y") - col("s1y") * col("s2")) +
         col("sy") * (col("s1") * col("s12") - col("s11") * col("s2"))).as("d2"))
      .select(col("*"),
        (col("d0") / col("det")).as("b0"), (col("d1") / col("det")).as("b1"),
        (col("d2") / col("det")).as("b2"))
      .select(keep.map(col) ++ Seq(
        col("n").cast("long").as("n"),
        round(col("b0") / 100.0, 6).as("intercept"),
        round(col("b1") / 100.0, 6).as("coef_qty"),
        round(col("b2"), 6).as("coef_disc"),
        round(lit(1.0) -
          (col("syy") - (col("b0") * col("sy") + col("b1") * col("s1y") +
            col("b2") * col("s2y"))) /
          (col("syy") - col("sy") * col("sy") / col("n")), 6).as("r2")): _*)

  /** SQL mirror of [[olsMoments]] + [[olsSolve]]: `group` is "" for the
    * global fit or a column name to GROUP BY and carry through. Expects
    * a CTE li(x1, x2, y [, group]). */
  private def olsOracleSql(group: String): String = {
    val g = if (group.isEmpty) "" else s"$group, "
    val by = if (group.isEmpty) "" else s" GROUP BY $group"
    val ord = if (group.isEmpty) "" else s" ORDER BY $group"
    s"""mom AS (SELECT ${g}CAST(count(*) AS DOUBLE) AS n,
        CAST(sum(x1) AS DOUBLE) AS s1, CAST(sum(x2) AS DOUBLE) AS s2,
        CAST(sum(y) AS DOUBLE) AS sy,
        CAST(sum(x1 * x1) AS DOUBLE) AS s11,
        CAST(sum(x1 * x2) AS DOUBLE) AS s12,
        CAST(sum(x2 * x2) AS DOUBLE) AS s22,
        CAST(sum(x1 * y) AS DOUBLE) AS s1y,
        CAST(sum(x2 * y) AS DOUBLE) AS s2y,
        CAST(sum(y * y) AS DOUBLE) AS syy
      FROM li$by),
    dets AS (SELECT *,
        (n * (s11 * s22 - s12 * s12) -
         s1 * (s1 * s22 - s12 * s2) +
         s2 * (s1 * s12 - s11 * s2)) AS det,
        (sy * (s11 * s22 - s12 * s12) -
         s1 * (s1y * s22 - s12 * s2y) +
         s2 * (s1y * s12 - s11 * s2y)) AS d0,
        (n * (s1y * s22 - s12 * s2y) -
         sy * (s1 * s22 - s12 * s2) +
         s2 * (s1 * s2y - s1y * s2)) AS d1,
        (n * (s11 * s2y - s1y * s12) -
         s1 * (s1 * s2y - s1y * s2) +
         sy * (s1 * s12 - s11 * s2)) AS d2
      FROM mom),
    beta AS (SELECT *, (d0 / det) AS b0, (d1 / det) AS b1,
        (d2 / det) AS b2 FROM dets)
    SELECT ${g}CAST(n AS BIGINT) AS n,
      round(b0 / 100.0, 6) AS intercept,
      round(b1 / 100.0, 6) AS coef_qty,
      round(b2, 6) AS coef_disc,
      round(1.0 - (syy - (b0 * sy + b1 * s1y + b2 * s2y)) /
        (syy - sy * sy / n), 6) AS r2
    FROM beta$ord"""
  }

  val all: Seq[(String, Q)] = Seq(

    // ------------------------------------------- multi-feature OLS
    // price ~ quantity + discount by the normal equations: ONE scan
    // aggregates the 3×3 Gram matrix as exact decimal sums of long
    // products (quantity units, discount cents, price cents), then the
    // 3×3 Cramer solve runs as a double expression over that one-row
    // frame. No iteration, no feature matrix materialization — the
    // whole regression is a map-side-combined aggregate plus O(1)
    // arithmetic, the shape that holds at any row count. The generic
    // k-feature driver-solve twin is Stats.olsFit (spec-pinned equal).
    "q146_ols_normal_eq" -> Q(
      (s, d) => {
        import s.implicits._
        val li = t(s, d, "lineitem").select(
          $"l_quantity".cast("long").as("x1"),
          round($"l_discount" * 100).cast("long").as("x2"),
          round($"l_extendedprice" * 100).cast("long").as("y"))
        olsSolve(li.agg(olsMoments.head, olsMoments.tail: _*), keep = Nil)
      },
      Some(s"""WITH li AS (SELECT CAST(l_quantity AS BIGINT) AS x1,
              CAST(round(l_discount * 100) AS BIGINT) AS x2,
              CAST(round(l_extendedprice * 100) AS BIGINT) AS y
            FROM lineitem),
          ${olsOracleSql(group = "")}"""),
      "2-feature OLS with intercept via exact normal equations + Cramer"),

    // ------------------------------------------- per-segment OLS
    // The grouped form of q146 — a separate price model per return
    // flag, the "elasticity by segment" question. Identical moment
    // trees, now keyed: STILL one scan and one hash aggregate (the
    // Gram matrices of every group accumulate in the same map-side
    // combine); the Cramer solve runs per group-row. This is the shape
    // that fits a million segment models at 100 TB without a single
    // extra shuffle over the global fit.
    "q154_ols_by_group" -> Q(
      (s, d) => {
        import s.implicits._
        val li = t(s, d, "lineitem").select(
          $"l_returnflag".as("seg"),
          $"l_quantity".cast("long").as("x1"),
          round($"l_discount" * 100).cast("long").as("x2"),
          round($"l_extendedprice" * 100).cast("long").as("y"))
        olsSolve(li.groupBy($"seg").agg(olsMoments.head, olsMoments.tail: _*),
            keep = Seq("seg"))
          .orderBy($"seg")
      },
      Some(s"""WITH li AS (SELECT l_returnflag AS seg,
              CAST(l_quantity AS BIGINT) AS x1,
              CAST(round(l_discount * 100) AS BIGINT) AS x2,
              CAST(round(l_extendedprice * 100) AS BIGINT) AS y
            FROM lineitem),
          ${olsOracleSql(group = "seg")}"""),
      "per-segment OLS: one grouped Gram aggregate, Cramer solve per group"),

    // ------------------------------------------------ Welch's t-test
    // Returned (R) vs kept (N) price distributions: unequal-variance
    // two-sample t with Welch–Satterthwaite degrees of freedom. All six
    // sufficient statistics (n, Σ, Σ² per group) come from ONE
    // conditional aggregate over one scan — the canonical A/B-test
    // shape at warehouse scale (no per-group subqueries, no second
    // pass). sqrt is IEEE-correctly-rounded, so the final tree stays
    // bit-deterministic.
    "q147_welch_ttest" -> Q(
      (s, d) => {
        import s.implicits._
        val li = t(s, d, "lineitem").filter($"l_returnflag".isin("R", "N"))
          .select($"l_returnflag".as("rf"),
            round($"l_extendedprice" * 100).cast("long").as("y"))
        def side(v: String, suf: String) = Seq(
          sum(when($"rf" === v, 1L).otherwise(0L)).cast("double").as(s"n$suf"),
          sum(when($"rf" === v, $"y").otherwise(0L).cast("decimal(38,0)"))
            .cast("double").as(s"s$suf"),
          sum(when($"rf" === v, $"y" * $"y").otherwise(0L).cast("decimal(38,0)"))
            .cast("double").as(s"ss$suf"))
        val aggsAll = side("R", "1") ++ side("N", "2")
        li.agg(aggsAll.head, aggsAll.tail: _*)
          .select($"*",
            ($"s1" / $"n1").as("m1"), ($"s2" / $"n2").as("m2"),
            (($"ss1" - $"s1" * $"s1" / $"n1") / ($"n1" - 1.0)).as("v1"),
            (($"ss2" - $"s2" * $"s2" / $"n2") / ($"n2" - 1.0)).as("v2"))
          .select($"*",
            ($"v1" / $"n1" + $"v2" / $"n2").as("se2"))
          .select(
            $"n1".cast("long").as("n_ret"), $"n2".cast("long").as("n_kept"),
            round($"m1" / 100.0, 6).as("mean_ret"),
            round($"m2" / 100.0, 6).as("mean_kept"),
            round(($"m1" - $"m2") / sqrt($"se2"), 6).as("t_stat"),
            round($"se2" * $"se2" /
              (($"v1" / $"n1") * ($"v1" / $"n1") / ($"n1" - 1.0) +
               ($"v2" / $"n2") * ($"v2" / $"n2") / ($"n2" - 1.0)), 3)
              .as("df_welch"))
      },
      Some("""WITH li AS (SELECT l_returnflag AS rf,
              CAST(round(l_extendedprice * 100) AS BIGINT) AS y
            FROM lineitem WHERE l_returnflag IN ('R', 'N')),
          agg AS (SELECT
              CAST(sum(CASE WHEN rf = 'R' THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
              CAST(sum(CASE WHEN rf = 'R' THEN y ELSE 0 END) AS DOUBLE) AS s1,
              CAST(sum(CASE WHEN rf = 'R' THEN y * y ELSE 0 END) AS DOUBLE) AS ss1,
              CAST(sum(CASE WHEN rf = 'N' THEN 1 ELSE 0 END) AS DOUBLE) AS n2,
              CAST(sum(CASE WHEN rf = 'N' THEN y ELSE 0 END) AS DOUBLE) AS s2,
              CAST(sum(CASE WHEN rf = 'N' THEN y * y ELSE 0 END) AS DOUBLE) AS ss2
            FROM li),
          mv AS (SELECT *, (s1 / n1) AS m1, (s2 / n2) AS m2,
              ((ss1 - s1 * s1 / n1) / (n1 - 1.0)) AS v1,
              ((ss2 - s2 * s2 / n2) / (n2 - 1.0)) AS v2
            FROM agg),
          se AS (SELECT *, (v1 / n1 + v2 / n2) AS se2 FROM mv)
          SELECT CAST(n1 AS BIGINT) AS n_ret, CAST(n2 AS BIGINT) AS n_kept,
            round(m1 / 100.0, 6) AS mean_ret,
            round(m2 / 100.0, 6) AS mean_kept,
            round((m1 - m2) / sqrt(se2), 6) AS t_stat,
            round(se2 * se2 /
              ((v1 / n1) * (v1 / n1) / (n1 - 1.0) +
               (v2 / n2) * (v2 / n2) / (n2 - 1.0)), 3) AS df_welch
          FROM se"""),
      "Welch unequal-variance t-test, returned vs kept prices"),

    // --------------------------------------- Wilson-bound ranking
    // Brands ranked by the Wilson score lower bound of their
    // not-returned rate (Wilson JASA 1927) — the small-sample-safe
    // ranking every review/ctr leaderboard should use instead of the
    // raw proportion. One fact-dim equi-join then a 25-ary aggregate;
    // the bound is pure double arithmetic over two exact longs
    // (Stats.wilsonLower, tree mirrored in the oracle with z²
    // spelled (1.96*1.96) so both engines fold the same product).
    "q148_wilson_lcb" -> Q(
      (s, d) => {
        import s.implicits._
        val agg = t(s, d, "lineitem")
          .join(t(s, d, "part").select($"p_partkey", $"p_brand"),
            $"l_partkey" === $"p_partkey")
          .groupBy($"p_brand")
          .agg(count(lit(1)).as("n"),
            sum(when($"l_returnflag" =!= "R", 1L).otherwise(0L)).as("succ"))
        agg.select($"p_brand", $"n", $"succ",
            round($"succ".cast("double") / $"n", 6).as("p_hat"),
            round(Stats.wilsonLower($"succ", $"n", 1.96), 6).as("wilson_lb"))
          .orderBy($"wilson_lb".desc, $"p_brand")
      },
      Some("""WITH agg AS (SELECT p_brand, count(*) AS n,
              CAST(sum(CASE WHEN l_returnflag <> 'R' THEN 1 ELSE 0 END) AS BIGINT) AS succ
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_brand),
          w AS (SELECT p_brand, n, succ,
              (CAST(succ AS DOUBLE) / n) AS p
            FROM agg)
          SELECT p_brand, n, succ, round(p, 6) AS p_hat,
            round((p + (1.96*1.96) / (2.0 * n) -
              1.96 * sqrt((p * (1.0 - p) + (1.96*1.96) / (4.0 * n)) / n)) /
              (1.0 + (1.96*1.96) / n), 6) AS wilson_lb
          FROM w ORDER BY wilson_lb DESC, p_brand"""),
      "Wilson score lower-bound ranking of brand not-returned rates"),

    // --------------------------------------- equi-depth histogram
    // The partner of q08's equal-width histogram: 8 buckets holding
    // (near-)equal row counts, boundaries from the scalable exact-
    // quantile engine (3-pass bounded histogram, A13), then ONE scan
    // with the broadcast 7-boundary row assigns buckets by summed
    // comparisons. Boundary compare happens in eighth-cents longs
    // (quantile_cont at eighths interpolates on cent grid → exact
    // multiples of 1/800 dollar), so bucket edges cannot drift between
    // engines.
    "q149_equidepth_hist" -> Q(
      (s, d) => {
        import s.implicits._
        // ONE file scan: the 8-byte cents projection materializes once
        // and feeds the quantile engine's three passes AND the final
        // bucket count (scale=1: the engine interpolates directly in
        // integer cents, so p·8 is an exact eighth-cent long)
        // r18 A/B: deliberately NOT spread — same verdict as q133: the
        // quantile engine's passes are light integer scans, and a 32-way
        // checkpoint made each pass pay 32-task scheduling (2.10 → 3.72 s
        // measured). Locality beats parallelism for many-cheap-pass
        // engines at this row count.
        val li = t(s, d, "lineitem")
          .select(round($"l_extendedprice" * 100).cast("long").as("cents"))
          .transform(GraftGlue.materialize(_))
        val bounds = Relational.exactQuantilesQuantized(
            li, "cents", (1 to 7).map(_ / 8.0), scale = 1,
            // r18: cents of a bounded money domain — the one-pass
            // per-value-histogram engine path (identical results/W)
            domainBounded = true)
          .select((0 to 6).map(i =>
            round(col(s"p$i") * 8).cast("long").as(s"b$i")): _*)
        val bucket = (0 to 6).map(i =>
            when($"cents" * 8 > col(s"b$i"), 1).otherwise(0))
          .reduce(_ + _)
        li.crossJoin(broadcast(bounds))
          .groupBy(bucket.as("bucket"))
          .agg(count(lit(1)).as("cnt"),
            (min($"cents") / 100.0).as("lo"),
            (max($"cents") / 100.0).as("hi"))
          .orderBy($"bucket")
      },
      Some("""WITH li AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
            FROM lineitem),
          b AS (SELECT
              CAST(round(quantile_cont(l_extendedprice, 0.125) * 800) AS BIGINT) AS b0,
              CAST(round(quantile_cont(l_extendedprice, 0.250) * 800) AS BIGINT) AS b1,
              CAST(round(quantile_cont(l_extendedprice, 0.375) * 800) AS BIGINT) AS b2,
              CAST(round(quantile_cont(l_extendedprice, 0.500) * 800) AS BIGINT) AS b3,
              CAST(round(quantile_cont(l_extendedprice, 0.625) * 800) AS BIGINT) AS b4,
              CAST(round(quantile_cont(l_extendedprice, 0.750) * 800) AS BIGINT) AS b5,
              CAST(round(quantile_cont(l_extendedprice, 0.875) * 800) AS BIGINT) AS b6
            FROM lineitem)
          SELECT (CASE WHEN cents * 8 > b0 THEN 1 ELSE 0 END +
                  CASE WHEN cents * 8 > b1 THEN 1 ELSE 0 END +
                  CASE WHEN cents * 8 > b2 THEN 1 ELSE 0 END +
                  CASE WHEN cents * 8 > b3 THEN 1 ELSE 0 END +
                  CASE WHEN cents * 8 > b4 THEN 1 ELSE 0 END +
                  CASE WHEN cents * 8 > b5 THEN 1 ELSE 0 END +
                  CASE WHEN cents * 8 > b6 THEN 1 ELSE 0 END) AS bucket,
            count(*) AS cnt,
            min(cents) / 100.0 AS lo, max(cents) / 100.0 AS hi
          FROM li CROSS JOIN b GROUP BY 1 ORDER BY bucket"""),
      "8-bucket equi-depth histogram from the exact-quantile engine"),

    // --------------------------------- out-of-fold target encoding
    // The leakage-safe categorical encoder (Micci-Barreca SIGKDD Expl.
    // 2001 + the out-of-fold discipline every gradient-boosting
    // pipeline uses): each (category, fold) cell is encoded by the
    // target mean of the OTHER folds, so a row never sees its own
    // label. Folds are deterministic md5 buckets (reproducible across
    // engines and runs — rand() would be neither). Scale shape: ONE
    // grouped aggregate to the (category × fold) grid — bounded state,
    // map-side combined — then complement means via a window over that
    // 125-row grid, never over data. Cents stay DECIMAL-exact until
    // the final division.
    "q155_target_encode_oof" -> Q(
      (s, d) => {
        import s.implicits._
        // r18 (guide §2.5): the md5-fold projection + partial aggregate
        // ran as ONE task over the single-row-group scan (0.9 s stage);
        // spread keyed on p_brand — partitioning by a subset of the
        // (brand, fold) group keys satisfies the aggregate's clustered
        // distribution, so no second exchange (identity at production)
        val cells = Relational.spreadIfNarrow(t(s, d, "lineitem")
            .select($"l_partkey", $"l_extendedprice",
              $"l_orderkey", $"l_linenumber")
            .join(t(s, d, "part").select($"p_partkey", $"p_brand"),
              $"l_partkey" === $"p_partkey"), $"p_brand")
          .select($"p_brand",
            pmod(conv(substring(md5(concat(lit("q155:"),
              $"l_orderkey".cast("string"), lit(":"),
              $"l_linenumber".cast("string"))), 1, 15), 16, 10).cast("long"),
              lit(5L)).as("fold"),
            round($"l_extendedprice" * 100).cast("long").as("y"))
          .groupBy($"p_brand", $"fold")
          .agg(count(lit(1)).as("n_f"),
            sum($"y".cast("decimal(38,0)")).as("s_f"))
        val w = Window.partitionBy($"p_brand")
        cells
          .withColumn("tn", sum($"n_f").over(w))
          .withColumn("ts", sum($"s_f").over(w))
          .select($"p_brand", $"fold", $"n_f",
            round(($"ts" - $"s_f").cast("double") /
              ($"tn" - $"n_f").cast("double") / 100.0, 6).as("enc_oof"))
          .orderBy($"p_brand", $"fold")
      },
      Some("""WITH cells AS (SELECT p_brand,
              CAST('0x' || substr(md5('q155:' || CAST(l_orderkey AS VARCHAR)
                || ':' || CAST(l_linenumber AS VARCHAR)), 1, 15) AS BIGINT)
                % 5 AS fold,
              count(*) AS n_f,
              sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS s_f
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY 1, 2),
          tot AS (SELECT *,
              sum(n_f) OVER (PARTITION BY p_brand) AS tn,
              sum(s_f) OVER (PARTITION BY p_brand) AS ts
            FROM cells)
          SELECT p_brand, fold, n_f,
            round(CAST(ts - s_f AS DOUBLE) /
              CAST(tn - n_f AS DOUBLE) / 100.0, 6) AS enc_oof
          FROM tot ORDER BY p_brand, fold"""),
      "out-of-fold target encoding over deterministic md5 folds"),

    // ------------------------------------------------ Benford audit
    // First-significant-digit fraud/anomaly screen (Benford 1938, the
    // standard forensic-accounting test): observed digit shares of
    // price cents vs log10(1+1/d), per-digit χ² contributions. Digit
    // extraction is pure string arithmetic on the exact cents long (no
    // log10 on data rows — libm only touches the NINE expected shares).
    // χ² terms quantize to integer nano-units before summing (the
    // q143/q144 discipline), so the total is an exact long fold. One
    // scan, one 9-ary aggregate.
    "q160_benford_audit" -> Q(
      (s, d) => {
        import s.implicits._
        val digits = t(s, d, "lineitem")
          .select(substring(round($"l_extendedprice" * 100).cast("long")
            .cast("string"), 1, 1).cast("int").as("digit"))
          .groupBy($"digit").agg(count(lit(1)).as("n"))
        val tot = digits.agg(sum($"n").as("nt"))
        val terms = digits.crossJoin(broadcast(tot))
          .withColumn("p_exp", log(lit(1.0) + lit(1.0) / $"digit") / log(lit(10.0)))
          .withColumn("term", expr(
            "CAST(round(1e9 * (((n - nt * p_exp) * (n - nt * p_exp)) / (nt * p_exp))) AS BIGINT)"))
        val chi2 = terms.agg(round(sum($"term") / 1e9, 6).as("chi2"))
        terms.crossJoin(broadcast(chi2))
          .select($"digit", $"n",
            round($"n".cast("double") / $"nt", 6).as("p_obs"),
            round($"p_exp", 6).as("p_benford"),
            round($"term" / 1e9, 6).as("contrib"), $"chi2")
          .orderBy($"digit")
      },
      Some("""WITH digits AS (SELECT
              CAST(substr(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                AS VARCHAR), 1, 1) AS INT) AS digit,
              count(*) AS n
            FROM lineitem GROUP BY 1),
          tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM digits),
          terms AS (SELECT digit, n, nt,
              ln(1.0 + 1.0 / digit) / ln(10.0) AS p_exp,
              CAST(round(1e9 * (((n - nt * (ln(1.0 + 1.0 / digit) / ln(10.0)))
                * (n - nt * (ln(1.0 + 1.0 / digit) / ln(10.0))))
                / (nt * (ln(1.0 + 1.0 / digit) / ln(10.0))))) AS BIGINT) AS term
            FROM digits CROSS JOIN tot),
          chi AS (SELECT round(CAST(sum(term) AS BIGINT) / 1e9, 6) AS chi2
            FROM terms)
          SELECT digit, n, round(CAST(n AS DOUBLE) / nt, 6) AS p_obs,
            round(p_exp, 6) AS p_benford,
            round(term / 1e9, 6) AS contrib, chi2
          FROM terms CROSS JOIN chi ORDER BY digit"""),
      "Benford first-digit audit with nano-exact chi-square fold"),

    // ------------------------------------------- Gini concentration
    // Revenue-concentration inequality per nation: Gini over customer
    // lifetime spend, G = 2·Σi·xᵢ/(n·Σx) − (n+1)/n on ascending-sorted
    // spend, via [[graft.operators.Stats.gini]]'s HISTOGRAM-BLOCK rank
    // sum: a block of c equal values after s predecessors contributes
    // x·(c·s + c(c+1)/2) — tie-invariant and provably equal to the
    // row_number() formulation, which the oracle still uses, so the
    // unchanged hash IS the cross-engine proof of the block identity.
    // Posture note, honestly stated: lifetime spend is near-unique per
    // customer, so HERE the histogram compresses almost nothing — the
    // window input stays ~customer-cardinality (never larger). The
    // block form pays off on discrete domains (unit cents, counts,
    // ratings) where the histogram saturates; all sums widen to
    // DECIMAL(38,0) either way.
    "q161_gini_nation" -> Q(
      (s, d) => {
        import s.implicits._
        val spend = t(s, d, "orders")
          .groupBy($"o_custkey")
          .agg(sum(round($"o_totalprice" * 100).cast("long")).as("x"))
          .join(t(s, d, "customer").select($"c_custkey", $"c_nationkey"),
            $"o_custkey" === $"c_custkey")
          .join(broadcast(t(s, d, "nation").select($"n_nationkey", $"n_name")),
            $"c_nationkey" === $"n_nationkey")
        graft.operators.Stats.gini(spend, Seq("n_name"), "x")
          .select($"n_name", $"n".as("n_cust"),
            round($"sum_cents".cast("double") / 100.0, 2).as("total_spend"),
            $"gini")
          .orderBy($"n_name")
      },
      Some("""WITH spend AS (SELECT o_custkey,
              CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
            FROM orders GROUP BY o_custkey),
          ranked AS (SELECT n_name, x, row_number() OVER (
              PARTITION BY n_name ORDER BY x, o_custkey) AS i
            FROM spend
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey)
          SELECT n_name, count(*) AS n_cust,
            round(CAST(sum(x) AS DOUBLE) / 100.0, 2) AS total_spend,
            round(2.0 * CAST(sum(i * x) AS DOUBLE) /
                (CAST(count(*) AS DOUBLE) * CAST(sum(x) AS DOUBLE)) -
              (count(*) + 1.0) / count(*), 6) AS gini
          FROM ranked GROUP BY n_name ORDER BY n_name"""),
      "per-nation Gini of customer spend: rank windows, decimal-exact sums"),

    // --------------------------------- Spearman + Pearson correlation
    // Quantity vs line gross revenue (quantity × price — the testdata
    // draws price independent of quantity, so revenue is the monotone
    // composite), both correlations in ONE input-proportional pass
    // (Stats.rankCorr): the joint (x, y) histogram is the only
    // aggregate over data; tie-averaged ranks derive from its marginals
    // as DOUBLED integers (Spearman 1904 tie convention, the doubling
    // cancels in the scale-invariant ratio), and every moment is a
    // DECIMAL(38,0) sum of exact products — Pearson on values, Pearson
    // on ranks = Spearman. Rank windows run on distinct-VALUE frames
    // (50 quantities / the cent price grid), never data rows. Pearson
    // vs Spearman side by side is the classic linearity-vs-monotonicity
    // read: rank correlation sees through the multiplicative noise that
    // depresses the linear one.
    "q166_spearman_corr" -> Q(
      (s, d) => {
        import s.implicits._
        val li = t(s, d, "lineitem").select(
          $"l_quantity".cast("long").as("x"),
          round($"l_quantity" * $"l_extendedprice" * 100).cast("long").as("y"))
        Stats.rankCorr(li, "x", "y")
          .select($"n", round($"pearson", 6).as("pearson"),
            round($"spearman", 6).as("spearman"))
      },
      Some("""WITH li AS (SELECT CAST(l_quantity AS BIGINT) AS x,
              CAST(round(l_quantity * l_extendedprice * 100) AS BIGINT) AS y
            FROM lineitem),
          joint AS (SELECT x, y, count(*) AS n FROM li GROUP BY x, y),
          rx AS (SELECT x, 2 * coalesce(sum(n) OVER (ORDER BY x
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + n + 1 AS rx2
            FROM (SELECT x, sum(n) AS n FROM joint GROUP BY x)),
          ry AS (SELECT y, 2 * coalesce(sum(n) OVER (ORDER BY y
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + n + 1 AS ry2
            FROM (SELECT y, sum(n) AS n FROM joint GROUP BY y)),
          mom AS (SELECT CAST(sum(n) AS DOUBLE) AS nn,
              CAST(sum(CAST(n AS HUGEINT) * x) AS DOUBLE) AS sx,
              CAST(sum(CAST(n AS HUGEINT) * y) AS DOUBLE) AS sy,
              CAST(sum(CAST(n AS HUGEINT) * x * x) AS DOUBLE) AS sxx,
              CAST(sum(CAST(n AS HUGEINT) * y * y) AS DOUBLE) AS syy,
              CAST(sum(CAST(n AS HUGEINT) * x * y) AS DOUBLE) AS sxy,
              CAST(sum(CAST(n AS HUGEINT) * rx2) AS DOUBLE) AS srx,
              CAST(sum(CAST(n AS HUGEINT) * ry2) AS DOUBLE) AS sry,
              CAST(sum(CAST(n AS HUGEINT) * rx2 * rx2) AS DOUBLE) AS srxx,
              CAST(sum(CAST(n AS HUGEINT) * ry2 * ry2) AS DOUBLE) AS sryy,
              CAST(sum(CAST(n AS HUGEINT) * rx2 * ry2) AS DOUBLE) AS srxy
            FROM joint JOIN rx USING (x) JOIN ry USING (y))
          SELECT CAST(nn AS BIGINT) AS n,
            round((nn * sxy - sx * sy) /
              (sqrt(nn * sxx - sx * sx) * sqrt(nn * syy - sy * sy)), 6)
              AS pearson,
            round((nn * srxy - srx * sry) /
              (sqrt(nn * srxx - srx * srx) * sqrt(nn * sryy - sry * sry)), 6)
              AS spearman
          FROM mom"""),
      "Pearson + tie-averaged Spearman from one joint-histogram pass"),

    // --------------------------------------- two-sample KS test
    // Distribution-free companion to q147's Welch t on the same split:
    // Kolmogorov-Smirnov D = sup |F_ret − F_kept| over price ECDFs,
    // with the price where the gap peaks. Exact end to end: the gap at
    // each distinct cent value is the INTEGER |cA·nB − cB·nA| (decimal
    // cross-multiply — float ECDFs never exist to diverge), argmax
    // breaks ties on the smaller price, one double division at output.
    // One conditional histogram over data; cumulative windows on the
    // distinct-cents frame (bounded by the price grid). Consumes the
    // session-shared rankedPair build (see returnedVsKeptPrices) —
    // q167 and q168 run different statistics over the SAME ranked
    // state, built once.
    "q167_ks_two_sample" -> Q(
      (s, d) => {
        import s.implicits._
        Stats.ksFromRankedPair(returnedVsKeptPrices(s, d), "v")
          .select($"n_a".as("n_ret"), $"n_b".as("n_kept"),
            round($"ks_d", 6).as("ks_d"),
            ($"at_v" / lit(100.0)).as("at_price"))
      },
      Some("""WITH li AS (SELECT l_returnflag AS rf,
              CAST(round(l_extendedprice * 100) AS BIGINT) AS v
            FROM lineitem WHERE l_returnflag IN ('R', 'N')),
          hist AS (SELECT v,
              sum(CASE WHEN rf = 'R' THEN 1 ELSE 0 END) AS na,
              sum(CASE WHEN rf = 'R' THEN 0 ELSE 1 END) AS nb
            FROM li GROUP BY v),
          cum AS (SELECT v,
              sum(na) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
              sum(nb) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
            FROM hist),
          tot AS (SELECT max(ca) AS ta, max(cb) AS tb FROM cum),
          g AS (SELECT v, ta, tb,
              abs(CAST(ca AS HUGEINT) * tb - CAST(cb AS HUGEINT) * ta) AS gap
            FROM cum CROSS JOIN tot)
          SELECT CAST(ta AS BIGINT) AS n_ret, CAST(tb AS BIGINT) AS n_kept,
            round(CAST(gap AS DOUBLE) /
              (CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE)), 6) AS ks_d,
            v / 100.0 AS at_price
          FROM g ORDER BY gap DESC, v LIMIT 1"""),
      "two-sample KS on returned-vs-kept price ECDFs, integer-exact gaps"),

    // --------------------------------------- Mann-Whitney rank-sum
    // Third member of the two-sample family on the same split: Welch t
    // (q147) assumes normality, KS (q167) tests shape — Mann-Whitney U
    // is the nonparametric location test between them. Rank algebra in
    // exact integers end to end (doubled tie-averaged ranks, decimal
    // folds for 2R_A, 2U_A and the tie term Σ(t³−t)); the tie-corrected
    // z and the rank-biserial effect size are single double trees over
    // those moments. Same scale shape as q167 — and the same SHARED
    // ranked state: this query is one aggregate over the session's
    // rankedPair build, not a fresh histogram + prefix-sum pass.
    "q168_mann_whitney" -> Q(
      (s, d) => {
        import s.implicits._
        Stats.mannWhitneyFromRankedPair(returnedVsKeptPrices(s, d))
          .select($"n_a".as("n_ret"), $"n_b".as("n_kept"),
            round($"u_a", 1).as("u_ret"),
            round($"z", 6).as("z"), round($"r_rb", 6).as("r_rb"))
      },
      Some("""WITH li AS (SELECT l_returnflag AS rf,
              CAST(round(l_extendedprice * 100) AS BIGINT) AS v
            FROM lineitem WHERE l_returnflag IN ('R', 'N')),
          hist AS (SELECT v,
              sum(CASE WHEN rf = 'R' THEN 1 ELSE 0 END) AS na,
              sum(CASE WHEN rf = 'R' THEN 0 ELSE 1 END) AS nb
            FROM li GROUP BY v),
          rk AS (SELECT v, na, nb, na + nb AS t,
              2 * coalesce(sum(na + nb) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + na + nb + 1 AS r2
            FROM hist),
          agg AS (SELECT
              CAST(sum(na) AS BIGINT) AS ta, CAST(sum(nb) AS BIGINT) AS tb,
              sum(CAST(na AS HUGEINT) * r2) AS r2a,
              sum(CAST(t AS HUGEINT) * t * t - t) AS tt
            FROM rk),
          u AS (SELECT ta, tb, tt,
              r2a - CAST(ta AS HUGEINT) * (ta + 1) AS u2a
            FROM agg)
          SELECT ta AS n_ret, tb AS n_kept,
            round(CAST(u2a AS DOUBLE) / 2.0, 1) AS u_ret,
            round((CAST(u2a AS DOUBLE) / 2.0 -
                CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE) / 2.0) /
              sqrt((CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE) / 12.0) *
                (CAST(ta + tb AS DOUBLE) + 1.0 -
                  CAST(tt AS DOUBLE) / (CAST(ta + tb AS DOUBLE) *
                    (CAST(ta + tb AS DOUBLE) - 1.0)))), 6) AS z,
            round(CAST(u2a AS DOUBLE) /
              (CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE)) - 1.0, 6) AS r_rb
          FROM u"""),
      "tie-corrected Mann-Whitney U on returned-vs-kept prices"),

    // ----------------------------- Theil-Sen slope + Mann-Kendall test
    // The robust trend pair (Theil 1950 / Sen 1968; Mann 1945 / Kendall
    // 1975): median-of-pairwise-slopes estimator plus the S-statistic
    // monotone-trend test with the standard tie-corrected variance
    // n(n−1)(2n+5)/18 − Σt(t−1)(2t+5)/18 and the ±1 continuity-corrected
    // z. The O(n²) pair stage runs over the CALENDAR-BOUNDED daily
    // aggregate (366 rows for 1996 — C(366,2)=66,795 pairs regardless of
    // raw-row scale), never raw orders: the only data-proportional work
    // is the one map-side-combined daily rollup. Slopes are single IEEE
    // divisions of exact cent/day integers, identical on both engines;
    // the 66,795-element exact median hits one element (odd count), so
    // sen_slope is bit-reproducible, not interpolation luck.
    "q225_theil_sen" -> Q(
      (s, d) => {
        import s.implicits._
        val ser = t(s, d, "orders")
          .filter($"o_orderdate" >= "1996-01-01" && $"o_orderdate" < "1997-01-01")
          .groupBy(datediff($"o_orderdate", lit("1996-01-01"))
            .cast("long").as("day"))
          .agg(Relational.centsSum($"o_totalprice").as("cents"))
          .transform(GraftGlue.materialize(_)) // ≤366 rows feed 4 derivations: 1 scan, not 4
        val a = ser.select($"day".as("d1"), $"cents".as("c1"))
        val b = ser.select($"day".as("d2"), $"cents".as("c2"))
        val pairs = a.join(broadcast(b), col("d1") < col("d2"))
          .select((($"c2" - $"c1").cast("double") /
              ($"d2" - $"d1").cast("double")).as("slope"),
            signum(($"c2" - $"c1").cast("double")).cast("long").as("sgn"))
        val pairAgg = pairs.agg(
          expr("percentile(slope, 0.5)").as("sen"),
          sum($"sgn").as("s_stat"))
        val nRow = ser.agg(count(lit(1)).as("n"))
        val ties = ser.groupBy($"cents").agg(count(lit(1)).as("tcnt"))
          .agg(coalesce(sum(when($"tcnt" > 1,
            $"tcnt" * ($"tcnt" - 1) * (lit(2) * $"tcnt" + 5))), lit(0L)).as("tt"))
        val varExpr = ($"n" * ($"n" - 1) * (lit(2) * $"n" + 5) - $"tt") / lit(18.0)
        pairAgg.crossJoin(nRow).crossJoin(ties)
          .select($"n", $"s_stat",
            round(varExpr, 6).as("var_s"),
            round(when($"s_stat" > 0, ($"s_stat" - 1) / sqrt(varExpr))
              .when($"s_stat" < 0, ($"s_stat" + 1) / sqrt(varExpr))
              .otherwise(lit(0.0)), 6).as("z_mk"),
            round($"sen", 6).as("sen_slope"))
      },
      Some("""WITH ser AS (SELECT
            CAST(date_diff('day', DATE '1996-01-01', o_orderdate) AS BIGINT) AS day,
            CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
          FROM orders
          WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
          GROUP BY 1),
        pairs AS (SELECT
            CAST(b.cents - a.cents AS DOUBLE) / CAST(b.day - a.day AS DOUBLE) AS slope,
            CAST(sign(b.cents - a.cents) AS BIGINT) AS sgn
          FROM ser a JOIN ser b ON a.day < b.day),
        pa AS (SELECT median(slope) AS sen, CAST(sum(sgn) AS BIGINT) AS s_stat
          FROM pairs),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ser),
        tg AS (SELECT CAST(coalesce(sum(CASE WHEN tcnt > 1
              THEN tcnt * (tcnt - 1) * (2 * tcnt + 5) END), 0) AS BIGINT) AS tt
          FROM (SELECT cents, count(*) AS tcnt FROM ser GROUP BY 1))
        SELECT n, s_stat,
          round((n * (n - 1) * (2 * n + 5) - tt) / 18.0, 6) AS var_s,
          round(CASE
            WHEN s_stat > 0 THEN (s_stat - 1)
              / sqrt((n * (n - 1) * (2 * n + 5) - tt) / 18.0)
            WHEN s_stat < 0 THEN (s_stat + 1)
              / sqrt((n * (n - 1) * (2 * n + 5) - tt) / 18.0)
            ELSE 0.0 END, 6) AS z_mk,
          round(sen, 6) AS sen_slope
        FROM pa CROSS JOIN nn CROSS JOIN tg"""),
      "Theil-Sen slope + tie-corrected Mann-Kendall z over the daily calendar"),

    // ------------------------- stratified ATE + saturated-propensity IPW
    // The third leg of the causal family (q198 CUPED, q210 caliper
    // matching, q213 QTE): stratify on the customer market segment,
    // estimate the high-priority treatment effect on order value as the
    // stratum-weighted mean difference (Cochran 1968), and ALSO as the
    // Horvitz-Thompson IPW sum with the saturated per-stratum propensity
    // e_s = n1s/ns (Rosenbaum & Rubin 1983). For discrete saturated
    // strata the two estimators coincide by algebra — StatsSpec pins the
    // identity — so ate_strat == ate_ipw is a built-in cross-check
    // computed along two genuinely different float paths (5-term
    // stratum fold vs per-row weighted sum). Degenerate strata with an
    // empty arm are excluded by contract on BOTH engines (n1>0, n0>0);
    // everything upstream of the closed forms is one hash aggregate
    // over the broadcast-joined customer dimension.
    "q227_stratified_ipw" -> Q(
      (s, d) => {
        import s.implicits._
        val cust = t(s, d, "customer").select($"c_custkey", $"c_mktsegment")
        val o = t(s, d, "orders")
          .select($"o_custkey",
            ($"o_orderpriority" === "1-URGENT" || $"o_orderpriority" === "2-HIGH")
              .cast("int").as("treat"),
            expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("y"))
          .join(broadcast(cust), $"o_custkey" === $"c_custkey")
          .select($"c_mktsegment", $"treat", $"y")
        val st = o.groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("ns"),
            sum($"treat").cast("long").as("n1"),
            sum(when($"treat" === 1, $"y")).as("s1"),
            sum(when($"treat" === 0, $"y")).as("s0"))
          .transform(GraftGlue.materialize(_)) // enum-sized; kept/glob/ipw-broadcast read it
          // (without it each consumer re-derives the orders⋈customer
          // aggregate: 4 scans of each table where the declared two
          // passes — stratum build + per-row IPW — need only 2)
        val kept = st.filter($"n1" > 0 && $"ns" - $"n1" > 0)
        val glob = st.agg(sum($"n1").as("n1g"), sum($"ns" - $"n1").as("n0g"),
          sum($"s1").cast("long").as("s1g"), sum($"s0").cast("long").as("s0g"))
        val sa = kept.agg(sum($"ns").as("nk"),
          sum($"ns" * ($"s1".cast("double") / $"n1" -
            $"s0".cast("double") / ($"ns" - $"n1"))).as("num"))
        val ipw = o.join(broadcast(kept), "c_mktsegment")
          .agg(sum(when($"treat" === 1,
              $"y" * ($"ns".cast("double") / $"n1"))
            .otherwise(-$"y" * ($"ns".cast("double") / ($"ns" - $"n1"))))
            .as("wsum"))
        sa.crossJoin(glob).crossJoin(ipw)
          .select(($"n1g" + $"n0g").as("n_total"), $"n1g".as("n_treat"),
            round($"s1g".cast("double") / $"n1g" -
              $"s0g".cast("double") / $"n0g", 2).as("naive_diff"),
            round($"num" / $"nk", 2).as("ate_strat"),
            round($"wsum" / $"nk", 2).as("ate_ipw"))
      },
      Some("""WITH o AS (SELECT c_mktsegment,
            CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS treat,
            CAST(round(o_totalprice * 100) AS BIGINT) AS y
          FROM orders JOIN customer ON o_custkey = c_custkey),
        st AS (SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS ns,
            CAST(sum(treat) AS BIGINT) AS n1,
            CAST(sum(CASE WHEN treat = 1 THEN y END) AS BIGINT) AS s1,
            CAST(sum(CASE WHEN treat = 0 THEN y END) AS BIGINT) AS s0
          FROM o GROUP BY 1),
        kept AS (SELECT * FROM st WHERE n1 > 0 AND ns - n1 > 0),
        gl AS (SELECT CAST(sum(n1) AS BIGINT) AS n1g,
            CAST(sum(ns - n1) AS BIGINT) AS n0g,
            CAST(sum(s1) AS BIGINT) AS s1g,
            CAST(sum(s0) AS BIGINT) AS s0g
          FROM st),
        sa AS (SELECT CAST(sum(ns) AS BIGINT) AS nk,
            sum(ns * (CAST(s1 AS DOUBLE) / n1
              - CAST(s0 AS DOUBLE) / (ns - n1))) AS num
          FROM kept),
        ipw AS (SELECT sum(CASE WHEN o.treat = 1
              THEN y * (CAST(k.ns AS DOUBLE) / k.n1)
              ELSE -y * (CAST(k.ns AS DOUBLE) / (k.ns - k.n1)) END) AS wsum
          FROM o JOIN kept k USING (c_mktsegment))
        SELECT n1g + n0g AS n_total, n1g AS n_treat,
          round(CAST(s1g AS DOUBLE) / n1g - CAST(s0g AS DOUBLE) / n0g, 2)
            AS naive_diff,
          round(num / nk, 2) AS ate_strat,
          round(wsum / nk, 2) AS ate_ipw
        FROM sa CROSS JOIN gl CROSS JOIN ipw"""),
      "stratified ATE vs saturated-propensity IPW, the coincidence oracled"),

    // ---------------------------------------------- one-way ANOVA F
    // Fisher's F across the five market segments — the k-group
    // generalization of q147's Welch t (which covers k=2 with unequal
    // variances; ANOVA is the classical equal-variance omnibus). All
    // mechanics in [[graft.operators.Stats.anovaF]]: one enum-bounded
    // moment aggregate, the SSB/SSW decomposition as a closed form,
    // NULL on degenerate designs. η² rides along as the effect size.
    // The k-term group fold's summation-order ULP noise is ~1e-16
    // relative vs the 1e-6 rounding — the declared float discipline.
    "q235_anova_f" -> Q(
      (s, d) => {
        import s.implicits._
        val cust = t(s, d, "customer").select($"c_custkey", $"c_mktsegment")
        val o = t(s, d, "orders")
          .join(broadcast(cust), $"o_custkey" === $"c_custkey")
          .select($"c_mktsegment",
            expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("y"))
        Stats.anovaF(o, $"c_mktsegment", $"y")
      },
      Some("""WITH o AS (SELECT c_mktsegment AS g,
            CAST(round(o_totalprice * 100) AS BIGINT) AS y
          FROM orders JOIN customer ON o_custkey = c_custkey),
        grp AS (SELECT g, CAST(count(*) AS BIGINT) AS ng,
            sum(CAST(y AS HUGEINT)) AS sg,
            CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS ssg
          FROM o GROUP BY 1),
        mom AS (SELECT CAST(count(*) AS BIGINT) AS k,
            CAST(sum(ng) AS BIGINT) AS n,
            CAST(sum(sg) AS DOUBLE) AS s,
            sum(ssg) AS ss,
            sum(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
              / CAST(ng AS DOUBLE)) AS sb
          FROM grp)
        SELECT k, n,
          CASE WHEN k >= 2 AND (ss - sb) > 0 THEN
            round(((sb - s * s / CAST(n AS DOUBLE)) / CAST(k - 1 AS DOUBLE))
              / ((ss - sb) / CAST(n - k AS DOUBLE)), 6) END AS f_stat,
          CASE WHEN (ss - s * s / CAST(n AS DOUBLE)) > 0 THEN
            round((sb - s * s / CAST(n AS DOUBLE))
              / (ss - s * s / CAST(n AS DOUBLE)), 6) END AS eta2
        FROM mom"""),
      "one-way ANOVA F + eta-squared across market segments, exact moments"),

    // --------------------------------- paired sign-flip permutation test
    // Fisher's randomization test on the year-over-year daily revenue
    // change (1997 vs 1996, paired by day-of-year): did revenue shift,
    // without ANY distributional assumption? All mechanics in
    // [[graft.operators.Stats.signFlipTest]]: exact long T statistics,
    // md5-bit signs (the q201 derandomization), B=256 replicates as one
    // narrow generate with map-side combine into 256 cells over the
    // CALENDAR-BOUNDED pairs frame — the data-proportional work is the
    // two daily rollups. The oracle re-derives every replicate sum
    // bit-for-bit; StatsSpec pins the two exact endpoints (min-p on an
    // all-positive shift, p=1 on an antithetic frame).
    "q236_sign_flip" -> Q(
      (s, d) => {
        import s.implicits._
        // pair on (month, day-of-month), NOT dayofyear: 1996 is a leap
        // year, so dayofyear would misalign every pair after Feb 28 and
        // silently drop Dec 31 (self-review catch)
        def daily(y: Int): DataFrame = t(s, d, "orders")
          .filter(year($"o_orderdate") === y)
          .groupBy((month($"o_orderdate") * 100 + dayofmonth($"o_orderdate"))
            .cast("long").as("day"))
          .agg(Relational.centsSum($"o_totalprice").as(s"c$y"))
        val pairs = daily(1996).join(daily(1997), "day")
          .select($"day", ($"c1997" - $"c1996").as("diff"))
        Stats.signFlipTest(pairs, $"day", $"diff", b = 256, salt = "q236")
      },
      Some("""WITH a AS (SELECT
            CAST(month(o_orderdate) * 100 + dayofmonth(o_orderdate) AS BIGINT) AS day,
            CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS c96
          FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1),
        b2 AS (SELECT
            CAST(month(o_orderdate) * 100 + dayofmonth(o_orderdate) AS BIGINT) AS day,
            CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS c97
          FROM orders WHERE year(o_orderdate) = 1997 GROUP BY 1),
        p AS (SELECT a.day, c97 - c96 AS diff FROM a JOIN b2 USING (day)),
        t AS (SELECT CAST(sum(diff) AS BIGINT) AS t_obs,
            CAST(count(*) AS BIGINT) AS n_pairs FROM p),
        fl AS (SELECT bb.b,
            CAST(sum(CASE WHEN CAST('0x' || substr(md5('q236:' ||
                  CAST(bb.b AS VARCHAR) || ':' || CAST(p.day AS VARCHAR)),
                  1, 1) AS BIGINT) % 2 = 0
              THEN diff ELSE -diff END) AS BIGINT) AS tb
          FROM p CROSS JOIN (SELECT unnest(generate_series(0, 255)) AS b) bb
          GROUP BY 1)
        SELECT n_pairs, t_obs,
          CAST(sum(CASE WHEN abs(tb) >= abs(t_obs) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_extreme,
          round(CAST(sum(CASE WHEN abs(tb) >= abs(t_obs) THEN 1 ELSE 0 END)
            + 1 AS DOUBLE) / 257.0, 6) AS p_value
        FROM fl CROSS JOIN t GROUP BY 1, 2"""),
      "exact-integer sign-flip permutation test on YoY daily revenue changes"),

    // ------------------------------------------ weighted percentiles
    // Quantity-weighted price quartiles — "the price of the typical
    // UNIT sold", vs q149's row-weighted "typical line item": the
    // lower weighted quantile v_p = min{v : F_w(v) ≥ p}. EVERYTHING is
    // exact integers: the weight ECDF is a cumulative window over the
    // distinct-cents histogram (state bounded by the catalog price
    // grid — part price × integer quantity — never row count, the
    // rankedPair boundedness class) and each pick is an integer-
    // rational compare (4·cumw ≥ k·W), so no float exists anywhere in
    // the query. StatsSpec replays the walk literally and pins the
    // all-weights-1 degeneration to the unweighted lower median.
    "q240_weighted_quartiles" -> Q(
      (s, d) => {
        import s.implicits._
        val hist = t(s, d, "lineitem")
          .groupBy(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
            .as("cents"))
          .agg(sum($"l_quantity".cast("long")).as("w"))
        val cum = hist.select($"cents", $"w",
          sum($"w").over(Window.orderBy($"cents")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("cumw"),
          sum($"w").over(Window.orderBy($"cents")
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
            .as("tw"))
        cum.agg(max($"tw").as("total_w"),
          min(when($"cumw" * 4 >= $"tw", $"cents")).as("wp25_cents"),
          min(when($"cumw" * 2 >= $"tw", $"cents")).as("wmed_cents"),
          min(when($"cumw" * 4 >= $"tw" * 3, $"cents")).as("wp75_cents"))
      },
      Some("""WITH hist AS (SELECT
            CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
            CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
          FROM lineitem GROUP BY 1),
        cum AS (SELECT cents, w,
            CAST(sum(w) OVER (ORDER BY cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS cumw,
            CAST(sum(w) OVER (ORDER BY cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
              AS BIGINT) AS tw
          FROM hist)
        SELECT max(tw) AS total_w,
          min(CASE WHEN cumw * 4 >= tw THEN cents END) AS wp25_cents,
          min(CASE WHEN cumw * 2 >= tw THEN cents END) AS wmed_cents,
          min(CASE WHEN cumw * 4 >= tw * 3 THEN cents END) AS wp75_cents
        FROM cum"""),
      "quantity-weighted price quartiles: integer-exact weight-ECDF walk"),

    // -------------------------------------------- price elasticity
    // Log-log demand regression per brand: elasticity = d ln(qty) /
    // d ln(price) — the econ measure a pricing platform fits. ln
    // values are quantized to NANO-NAT integers (round(ln·1e9): both
    // engines' ln agree to ~1e-15 relative, six orders below the
    // quantization step — the q215 entropy discipline), so the
    // per-brand slope moments fold exactly in DECIMAL(38,0) and the
    // closed form is one mirrored IEEE tree. Zero-variance groups
    // (single price point) emit NULL by contract. Shape: ONE broadcast
    // dim join + one enum-bounded (25-brand) moment aggregate.
    "q242_price_elasticity" -> Q(
      (s, d) => {
        import s.implicits._
        def d38(c: Column) = c.cast("decimal(38,0)")
        // r18 (guide §2.5): the log+decimal moment chain ran as ONE task
        // over the single-row-group scan (1.23 s stage); spread keyed on
        // the group key so the partial aggregate parallelizes and the
        // final groupBy reuses the exchange (identity at production
        // fan-out — a broadcast join preserves scan parallelism)
        val li = Relational.spreadIfNarrow(t(s, d, "lineitem")
            .select($"l_partkey", $"l_extendedprice", $"l_quantity")
            .join(broadcast(t(s, d, "part").select($"p_partkey", $"p_brand")),
              $"l_partkey" === $"p_partkey"), $"p_brand")
          .select($"p_brand",
            round(log($"l_extendedprice" / $"l_quantity") * 1e9)
              .cast("long").as("lp"), // ln(unit price) nano-nats
            round(log($"l_quantity") * 1e9).cast("long").as("lq"))
        li.groupBy($"p_brand")
          .agg(count(lit(1)).as("n"),
            sum(d38($"lp")).as("sx"), sum(d38($"lq")).as("sy"),
            sum(d38($"lp") * $"lp").as("sxx"),
            sum(d38($"lp") * $"lq").as("sxy"))
          .select($"p_brand", $"n",
            when($"n" * $"sxx" - $"sx" * $"sx" > 0,
              round(($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
                ($"n" * $"sxx" - $"sx" * $"sx").cast("double"), 6))
              .otherwise(lit(null).cast("double")).as("elasticity"))
          .orderBy($"p_brand")
      },
      Some("""WITH li AS (SELECT p_brand,
            CAST(round(ln(l_extendedprice / l_quantity) * 1e9) AS BIGINT) AS lp,
            CAST(round(ln(l_quantity) * 1e9) AS BIGINT) AS lq
          FROM lineitem JOIN part ON l_partkey = p_partkey),
        mom AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
            sum(CAST(lp AS HUGEINT)) AS sx, sum(CAST(lq AS HUGEINT)) AS sy,
            sum(CAST(lp AS HUGEINT) * lp) AS sxx,
            sum(CAST(lp AS HUGEINT) * lq) AS sxy
          FROM li GROUP BY 1)
        SELECT p_brand, n,
          CASE WHEN n * sxx - sx * sx > 0 THEN
            round(CAST(n * sxy - sx * sy AS DOUBLE) /
              CAST(n * sxx - sx * sx AS DOUBLE), 6) END AS elasticity
        FROM mom ORDER BY p_brand"""),
      "log-log price elasticity per brand, nano-nat quantized exact moments"),

    // ------------------------------------- interpurchase-time medians
    // The repeat-purchase cadence per market segment: days between a
    // customer's CONSECUTIVE orders (per-customer lag window — state
    // bounded by one customer's history per partition), median'd per
    // segment through the scale-safe grouped engine
    // ([[Relational.groupedMedian2]]: cost bounded by DISTINCT gap
    // values — the ≤ ~2400-day calendar domain — never by row count;
    // per-group `percentile` would buffer every gap of a segment in
    // one executor). med2 = lo + hi doubled-median stays an exact
    // BIGINT (the q133 house rule); the readable days double is one
    // division. Gap multisets are tie-robust: equal-date orders sort
    // by key, and consecutive differences of a sorted sequence are
    // permutation-invariant within ties.
    "q244_interpurchase" -> Q(
      (s, d) => {
        import s.implicits._
        val cust = t(s, d, "customer").select($"c_custkey", $"c_mktsegment")
        val w = Window.partitionBy($"o_custkey")
          .orderBy($"o_orderdate", $"o_orderkey")
        val gaps = t(s, d, "orders")
          .select($"o_custkey", $"o_orderdate", $"o_orderkey")
          .withColumn("gap",
            datediff($"o_orderdate", lag($"o_orderdate", 1).over(w))
              .cast("long"))
          .filter($"gap".isNotNull)
          .join(broadcast(cust), $"o_custkey" === $"c_custkey")
          .select($"c_mktsegment".as("seg"), $"gap")
        graft.operators.Relational.groupedMedian2(gaps, "seg", "gap")
          .select($"seg", $"n".as("n_gaps"), $"med2",
            ($"med2".cast("double") / 2.0).as("median_days"))
          .orderBy($"seg")
      },
      Some("""WITH gaps AS (SELECT c_mktsegment AS seg,
            CAST(date_diff('day', lag(o_orderdate) OVER (
              PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
              o_orderdate) AS BIGINT) AS gap
          FROM orders JOIN customer ON o_custkey = c_custkey),
        g AS (SELECT seg, gap FROM gaps WHERE gap IS NOT NULL),
        ord AS (SELECT seg, gap,
            row_number() OVER (PARTITION BY seg ORDER BY gap) AS rn,
            count(*) OVER (PARTITION BY seg) AS n FROM g)
        SELECT seg, max(n) AS n_gaps,
          CAST(sum(gap * (CASE WHEN 2 * rn = n THEN 1
            WHEN 2 * rn = n + 1 THEN 2
            WHEN 2 * rn = n + 2 THEN 1 ELSE 0 END)) AS BIGINT) AS med2,
          CAST(sum(gap * (CASE WHEN 2 * rn = n THEN 1
            WHEN 2 * rn = n + 1 THEN 2
            WHEN 2 * rn = n + 2 THEN 1 ELSE 0 END)) AS DOUBLE) / 2.0
            AS median_days
        FROM ord GROUP BY seg ORDER BY seg"""),
      "per-segment interpurchase-gap medians via the scale-safe grouped engine"),

    // --------------------------- Benjamini-Hochberg multiple testing
    // The experimentation platform's missing piece after the per-test
    // family (q236's sign-flip, q217's mSPRT): run a FAMILY of m
    // hypothesis tests — here, one sign-flip permutation test of the
    // 1996→1997 daily-revenue change PER NATION — and control the
    // false-discovery rate with the BH step-up (Benjamini & Hochberg
    // JRSS-B 1995): sort p ascending, find the largest k with
    // p_(k) ≤ k·α/m, reject ranks 1..k. EVERYTHING stays exact
    // integers: each p = (n_extreme+1)/(B+1) is a rational with a
    // common denominator, so the step-up compare p_(k) ≤ k·α/m at
    // α = 1/10 becomes 10·m·(n_extreme+1) ≤ (B+1)·k — no float
    // touches any decision, and the reported p_value is display-only.
    // Scale shape: the ×B expansion is the q201 narrow-generate with
    // map-side combine ([[Stats.signFlipByGroup]]); ranks and the k*
    // cummax run over the NATION-bounded test frame (≤ 25 rows).
    // StatsSpec pins the step-up against a literal textbook example
    // (including the non-monotone case where a later small p rescues
    // an earlier larger one — the property a naive per-row threshold
    // gets wrong).
    "q245_bh_fdr" -> Q(
      (s, d) => {
        import s.implicits._
        val B = 64
        val cust = t(s, d, "customer").select($"c_custkey", $"c_nationkey")
        def daily(y: Int): DataFrame = t(s, d, "orders")
          .filter(year($"o_orderdate") === y)
          .join(broadcast(cust), $"o_custkey" === $"c_custkey")
          .groupBy($"c_nationkey".as("nat"),
            (month($"o_orderdate") * 100 + dayofmonth($"o_orderdate"))
              .cast("long").as("day"))
          .agg(Relational.centsSum($"o_totalprice").as(s"c$y"))
        val pairs = daily(1996).join(daily(1997), Seq("nat", "day"))
          .select($"nat", $"day", ($"c1997" - $"c1996").as("diff"))
        val tests = Stats.signFlipByGroup(pairs, $"nat", $"day", $"diff",
            b = B, salt = "q245")
          .select($"g".cast("int").as("nat"), $"n_pairs", $"t_obs",
            $"n_extreme")
          // checkpoint the ≤25-row family BEFORE the step-up: bhStepUp's
          // loud-cap probe (limit(cap+1).count) would otherwise execute
          // the whole B=64 sign-flip expansion a second time — the exact
          // double-pass the operator doc tells callers to avoid (the
          // round-14 q245 drift, measured and fixed here)
          .transform(GraftGlue.materialize(_))
        // BH step-up over the nation-bounded frame (Stats.bhStepUp —
        // hand-pinned in StatsSpec incl. the rank-rescue property)
        Stats.bhStepUp(tests, $"n_extreme" + 1, $"nat",
            den = (B + 1).toLong, alphaNum = 1L, alphaDen = 10L)
          .select($"nat", $"n_pairs", $"t_obs", $"n_extreme",
            round(($"n_extreme" + 1).cast("double") / lit((B + 1).toDouble), 6)
              .as("p_value"),
            $"p_rank", $"rejected")
          .orderBy($"p_rank", $"nat")
      },
      Some("""WITH c AS (SELECT c_custkey, c_nationkey FROM customer),
        a AS (SELECT c_nationkey AS nat,
            CAST(month(o_orderdate) * 100 + dayofmonth(o_orderdate) AS BIGINT) AS day,
            CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS c96
          FROM orders JOIN c ON o_custkey = c_custkey
          WHERE year(o_orderdate) = 1996 GROUP BY 1, 2),
        b2 AS (SELECT c_nationkey AS nat,
            CAST(month(o_orderdate) * 100 + dayofmonth(o_orderdate) AS BIGINT) AS day,
            CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS c97
          FROM orders JOIN c ON o_custkey = c_custkey
          WHERE year(o_orderdate) = 1997 GROUP BY 1, 2),
        p AS (SELECT nat, day, c97 - c96 AS diff FROM a JOIN b2 USING (nat, day)),
        t AS (SELECT nat, CAST(sum(diff) AS BIGINT) AS t_obs,
            CAST(count(*) AS BIGINT) AS n_pairs FROM p GROUP BY 1),
        fl AS (SELECT p.nat, bb.b,
            CAST(sum(CASE WHEN CAST('0x' || substr(md5('q245:' ||
                  CAST(bb.b AS VARCHAR) || ':' || CAST(p.nat AS VARCHAR) ||
                  ':' || CAST(p.day AS VARCHAR)), 1, 1) AS BIGINT) % 2 = 0
              THEN diff ELSE -diff END) AS BIGINT) AS tb
          FROM p CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) bb
          GROUP BY 1, 2),
        ex AS (SELECT fl.nat,
            CAST(sum(CASE WHEN abs(tb) >= abs(t_obs) THEN 1 ELSE 0 END)
              AS BIGINT) AS n_extreme
          FROM fl JOIN t USING (nat) GROUP BY 1),
        r AS (SELECT t.nat, n_pairs, t_obs, n_extreme,
            CAST(row_number() OVER (ORDER BY n_extreme, t.nat) AS INTEGER)
              AS p_rank,
            CAST(count(*) OVER () AS BIGINT) AS m
          FROM t JOIN ex USING (nat)),
        ks AS (SELECT max(CASE WHEN 10 * m * (n_extreme + 1) <= 65 * p_rank
            THEN p_rank ELSE 0 END) AS kstar FROM r)
        SELECT nat, n_pairs, t_obs, n_extreme,
          round(CAST(n_extreme + 1 AS DOUBLE) / 65.0, 6) AS p_value,
          p_rank, CAST(p_rank <= kstar AS INTEGER) AS rejected
        FROM r CROSS JOIN ks ORDER BY p_rank, nat"""),
      "per-nation sign-flip tests under Benjamini-Hochberg FDR control, exact step-up")
  )
}
