package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.GraftGlue

import graft.operators.{Graph, Relational}
import graft.queries.TradeGraph

/** The partition-keeping checkpoint and the one-job-per-round graph
  * engines built on it (PageRank, HITS, k-core). */
class GraphRoundsSpec extends SparkSpec {
  import spark.implicits._

  private def partitioningOf(df: DataFrame) =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.outputPartitioning }.get

  private def plansExchange(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("Exchange")

  test("localCheckpointPartitioned keeps hash partitioning under AQE; raw localCheckpoint drops it") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val df = spark.range(0, 400).select(($"id" % 37).as("k"), $"id".as("v"))
      .localCheckpoint()
    // the same-name re-alias is optimized away, so the final plan's
    // partitioning names the pre-alias attribute: it must be renamed
    val kept = GraftGlue.localCheckpointPartitioned(
      Relational.spread(df.select($"k".as("k"), $"v".as("v")), $"k"))
    assert(partitioningOf(kept).isInstanceOf[HashPartitioning], partitioningOf(kept))
    val agg = kept.groupBy($"k").agg(sum($"v"))
    assert(!plansExchange(agg), s"same-key aggregate must not shuffle:\n" +
      agg.queryExecution.executedPlan)
    // the Spark behavior the helper exists for: if a raw checkpoint ever
    // keeps the partitioning, the helper is dead weight — and if the
    // helper's plan starts shuffling, it no longer does its job
    val raw = Relational.spread(df, $"k").localCheckpoint()
    assert(plansExchange(raw.groupBy($"k").agg(sum($"v"))),
      "a raw localCheckpoint under AQE is expected to lose its partitioning")
    val want = df.groupBy($"k").agg(sum($"v")).collect().toSet
    assert(agg.collect().toSet == want)
  }

  test("localCheckpointPartitioned leaves a coalesced frame's partitioning unknown") {
    val df = spark.range(0, 400).select(($"id" % 37).as("k"), $"id".as("v"))
    val ck = GraftGlue.localCheckpointPartitioned(
      Relational.spread(df, $"k").coalesce(2))
    assert(partitioningOf(ck).isInstanceOf[UnknownPartitioning], partitioningOf(ck))
    assert(plansExchange(ck.groupBy($"k").agg(sum($"v"))))
    assert(ck.count() == 400)
  }

  test("PageRank, HITS and k-core schedule set-up jobs plus one job per round") {
    val d = sf("sf0.001")
    val both = TradeGraph.edgesBoth(spark, d) // builds the store if missing
    val cs = TradeGraph.edges(spark, d)
    // set-up: the edge checkpoint is one exchange plus the checkpoint
    // job; PageRank adds the out-degree collect (exchange + result),
    // HITS the second, src-partitioned checkpoint
    val checkpoint = 2
    val cases = Seq(
      ("pageRankFixed", checkpoint + 2, 5,
        () => Graph.pageRankFixed(both, "src", "dst", iters = 5)),
      ("hitsFixed", checkpoint * 2, 2 * 3,
        () => Graph.hitsFixed(cs, "src", "dst", iters = 3)),
      ("kCoreFixed", checkpoint, 6,
        () => Graph.kCoreFixed(both, "src", "dst", k = 2, rounds = 6)))
    for ((engine, setup, rounds, run) <- cases) {
      val jobs = jobsOf("graft.operators") { assert(run().collect().nonEmpty, s"$engine returned nothing") }
      assert(jobs.length <= setup + rounds + 1,
        s"$engine scheduled ${jobs.length} jobs, bound ${setup + rounds + 1}:\n" +
          jobs.mkString("\n"))
    }
  }

  test("PageRank, HITS and k-core keep Long ids and agree with the String-id run") {
    val both = TradeGraph.edgesBoth(spark, sf("sf0.001"))
    // 'c'/'s' prefixes → disjoint Long ranges
    val asLong = (c: String) =>
      expr(s"cast(substr($c, 2) as bigint) + if($c like 's%', 1000000000L, 0L)")
    val lb = both.select(asLong("src").as("src"), asLong("dst").as("dst"))
    val back = (df: DataFrame) => df.withColumn("node", expr(
      "if(node >= 1000000000L, concat('s', node - 1000000000L), concat('c', node))"))
    val engines = Seq[DataFrame => DataFrame](
      Graph.pageRankFixed(_, "src", "dst", iters = 3),
      Graph.hitsFixed(_, "src", "dst", iters = 2),
      Graph.kCoreFixed(_, "src", "dst", k = 8, rounds = 3))
    for (f <- engines) {
      val got = f(lb)
      assert(got.schema("node").dataType == org.apache.spark.sql.types.LongType,
        got.schema.simpleString)
      assert(back(got).collect().toSet == f(both).collect().toSet)
    }
  }

  test("PageRank, HITS and k-core refuse more than MaxDriverNodes nodes, naming the engine") {
    // a chain of MaxDriverNodes + 1 edges: every engine's first
    // node-sized collect passes the bound
    val chain = spark.range(0, Graph.MaxDriverNodes + 1L)
      .select($"id".as("src"), ($"id" + 1).as("dst"))
    val engines = Seq[(String, () => DataFrame)](
      "pageRankFixed" -> (() => Graph.pageRankFixed(chain, "src", "dst", iters = 1)),
      "hitsFixed" -> (() => Graph.hitsFixed(chain, "src", "dst", iters = 1)),
      "kCoreFixed" -> (() => Graph.kCoreFixed(chain, "src", "dst", k = 1, rounds = 1)))
    for ((engine, run) <- engines) {
      val ex = intercept[IllegalArgumentException](run())
      assert(ex.getMessage.contains(engine) && ex.getMessage.contains("MaxDriverNodes"),
        ex.getMessage)
    }
  }
}
