package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.GraftGlue

/** Corpus-selection operators for training-data curation: "take the best
  * documents until a token budget is filled" without ever globally
  * sorting the corpus. */
object Selection {

  /** Greedy head-of-corpus selection under a weight budget: orders rows
    * by `score` DESC (ties by `id` ASC) and keeps rows while the running
    * `weight` total has not yet reached `budget` — the row that crosses
    * the line is kept, so the selection always fills the budget. Returns
    * the selected rows of `df` unchanged.
    *
    * Scale shape — the naive form is a global sort + running sum (one
    * partition); this instead mirrors the two-level rank-selection of
    * [[Relational.exactQuantilesQuantized]]:
    *
    *   1. aggregate weight per DISTINCT score (hash aggregate; shuffle
    *      carries one row per distinct score, which quantized scores —
    *      e.g. round-6 ratios in [0,1] — bound far below the row count);
    *   2. the range-partitioned prefix sum of [[Stats.rangeCumSums]]
    *      over that histogram finds the cut score and the residual
    *      budget inside it (never a one-task global window, however
    *      large the score domain grows);
    *   3. rows strictly above the cut pass with a broadcast filter (no
    *      sort at all); only the cut bucket runs a per-row cumulative
    *      window, partitioned by the score so it never sees more than
    *      one bucket's rows.
    *
    * The greedy rule is deterministic (score DESC, id ASC), so the
    * selected SET is unique and engine-reproducible. If the whole corpus
    * weighs less than `budget`, everything is selected. `score` must be
    * non-null; null weights count as 0. */
  def headByScoreBudget(df: DataFrame, score: Column, weight: Column,
                        id: Column, budget: Long): DataFrame = {
    val scored = df.withColumn("__s", score).withColumn("__w",
      coalesce(weight.cast("long"), lit(0L)))
      // read 3x (histogram, above-cut stream, at-cut window) — without
      // this the caller's scoring expressions (often text splits, the
      // q83 shape) re-run per branch; the materialized frame is the
      // narrow (id, weight, score) projection, not the documents
      .transform(GraftGlue.materialize(_))
    // 1. score histogram (one row per distinct score)
    val byScore = scored.groupBy(col("__s")).agg(sum(col("__w")).as("__tok"))
    // 2. cumulative weight in score-DESC order via the range-partitioned
    // two-pass prefix sum (Stats.rangeCumSums, keyed on the NEGATED
    // score) — a continuous score domain grows with the corpus, so the
    // histogram must never fall into a one-task global window
    val cum = Stats.rangeCumSums(
        byScore.withColumn("__negs", -col("__s")),
        "__negs", Seq("__tok"), inclusive = true)
      .withColumn("__cum", col("__tok_cum"))
    val crossing = col("__cum") - col("__tok") < budget && col("__cum") >= budget
    val cut = cum.agg(
      max(when(crossing, col("__s"))).as("__cut_s"),
      max(when(crossing, lit(budget) - (col("__cum") - col("__tok"))))
        .as("__cut_budget"))
    // 3. pass-through above the cut; per-row window inside the cut bucket
    val withCut = scored.crossJoin(broadcast(cut))
    val above = withCut.filter(col("__cut_s").isNull || col("__s") > col("__cut_s"))
    val atCut = withCut.filter(col("__s") === col("__cut_s"))
      .withColumn("__dcum", sum(col("__w")).over(
        Window.partitionBy(col("__s")).orderBy(id.asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("__dcum") - col("__w") < col("__cut_budget"))
      .drop("__dcum")
    above.union(atCut).drop("__s", "__w", "__cut_s", "__cut_budget")
  }

  /** Weight-proportional systematic sample of `m` rows: lay every row's
    * integer weight end-to-end on a number line of total length W (in
    * `id` order), drop `m` evenly-spaced probes t_j = ⌊(2j+1)·W / 2m⌋
    * (the midpoints of m equal strata), and pick the row whose weight
    * interval [cum−w, cum) contains each probe. The classic deterministic
    * alternative to weighted random sampling for mixture construction:
    * inclusion is exactly weight-proportional, needs no RNG, and — being
    * all-integer — reproduces bit-for-bit on any engine (no float `pow`
    * or `ln` whose last-ulp could flip a selection near a boundary).
    * A row heavier than a stratum can win multiple probes (correct:
    * that's sampling with replacement, weight-proportionally).
    *
    * Scale shape: the naive cumulative sum is a one-partition window
    * over the corpus. This instead buckets ids by `bucketWidth`:
    *   1. per-row cumsum WITHIN each bucket (window partitioned by
    *      bucket — bounded by bucketWidth rows per partition);
    *   2. per-bucket totals (hash aggregate, one row per bucket) get a
    *      cumulative offset via [[Stats.rangeCumSums]] — the bucket
    *      list is rows/bucketWidth and so GROWS with the data; the
    *      range-partitioned two-pass prefix sum keeps its cumsum off
    *      any one-task global window (the only single-partition frames
    *      left are per-shuffle-partition totals, cluster-bounded);
    *   3. global cum = bucket offset + within-bucket cum (broadcast-able
    *      join on bucket id); probes are a broadcast m-row table matched
    *      with a range condition (BroadcastNestedLoop over m tiny rows).
    * Null/zero weights get empty intervals and are never selected. */
  def weightedSystematicSample(df: DataFrame, id: Column, weight: Column,
                               m: Int, bucketWidth: Long): DataFrame = {
    require(m > 0 && bucketWidth > 0, s"need m>0, bucketWidth>0; got $m, $bucketWidth")
    val spark = df.sparkSession
    val base = df
      .withColumn("__id", id)
      .withColumn("__w", coalesce(weight.cast("long"), lit(0L)))
      // integer `div`, not floor(double /): a float quotient would lose
      // id precision past 2^53 and silently merge far-apart buckets
      .withColumn("__b", expr(s"__id div ${bucketWidth}L"))
    val inBucket = base.withColumn("__cin",
      sum(col("__w")).over(Window.partitionBy(col("__b")).orderBy(col("__id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val offsets = Stats.rangeCumSums(
        base.groupBy(col("__b")).agg(sum(col("__w")).as("__bw")),
        "__b", Seq("__bw"), inclusive = false)
      .withColumn("__off", col("__bw_cum"))
    val total = offsets.agg(sum(col("__bw")).as("__W"))
    val probes = broadcast(spark.range(m).select(col("id").as("pick"))
      .crossJoin(total)
      .select(col("pick"),
        expr(s"CAST(((2 * pick + 1) * __W) div ${2L * m} AS BIGINT)").as("__t")))
    val cum = inBucket
      .join(broadcast(offsets.select(col("__b"), col("__off"))), Seq("__b"))
      .withColumn("__cum", col("__off") + col("__cin"))
    cum.join(probes,
        probes("__t") >= cum("__cum") - cum("__w") && probes("__t") < cum("__cum"))
      .drop("__id", "__w", "__b", "__cin", "__off", "__cum", "__t")
  }
}
