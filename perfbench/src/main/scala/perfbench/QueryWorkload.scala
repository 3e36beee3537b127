package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.datasources.FileStatusCache
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** graph_iter: registered queries from `SparkEntry.queries`,
  * one pass per timed run, in an order drawn from the seed. A query op
  * is the registry call (plan, including the eager work it triggers)
  * followed by `collect`, the rows a dashboard or notebook receives.
  *
  * Each set-up cycle wipes the layout root and runs one untimed pass,
  * which rebuilds the persisted stores the queries read; each store
  * build is timed. A timed run that creates a store dir counts in
  * `layout.builds_in_run`. */
final class QueryWorkload(spark: SparkSession, sfDir: String, names: Seq[String],
                          seed: Long) extends Workload {
  private val fns = names.map { n =>
    n -> SparkEntry.queries.getOrElse(n, sys.error(s"no registered query $n"))
  }
  private val rng = new scala.util.Random(seed)
  private val layoutRoot = new File(LayoutFs.root.getOrElse(sys.error("perfbench.layoutRoot unset")))
  // store dir -> build seconds, one map per set-up cycle
  private val builds = mutable.ArrayBuffer.empty[Map[String, Double]]
  private val newStores = mutable.Map.empty[Int, Int]
  // (query, result hash) -> (schema, rows, ops with that result)
  private val results = mutable.LinkedHashMap.empty[(String, Int), (StructType, Array[Row], Int)]

  /** Two passes, because the first timed pass is still measurably
    * slower than the second: a process whose first pass overran
    * `seconds` on a slow host would report only that colder pass. */
  override def minUnits: Int = 2

  private def storeDirs(): Set[String] =
    Option(layoutRoot.listFiles).toSeq.flatten.filter(_.isDirectory).flatMap { k =>
      Option(k.listFiles).toSeq.flatten
        .filter(d => d.isDirectory && !d.getName.startsWith("."))
        .map(d => s"${k.getName}/${d.getName}")
    }.toSet

  /** Wipes the layout root, then runs one untimed pass; the registry
    * calls that create a store dir are its store builds. */
  override def setupCycle(t: Tracer): Unit = {
    Disk.delete(layoutRoot)
    // the session caches file listings by path; a wiped store must be
    // listed afresh when it is rebuilt at the same path
    FileStatusCache.resetForTesting()
    val built = mutable.Map.empty[String, Double]
    pass(t, record = false, onPlan = Some((made, secs) =>
      // a registry call that builds several stores is charged to them jointly
      if (made.nonEmpty) built(made.toSeq.sorted.mkString("+")) = secs))
    builds += built.toMap
  }

  override def runUnit(t: Tracer, u: Int): (Seq[OpRec], Long) = {
    val before = storeDirs()
    val ops = pass(t, record = true)
    val made = (storeDirs() -- before).size
    newStores(u) = made
    (ops, Disk.size(layoutRoot))
  }

  private def pass(t: Tracer, record: Boolean,
                   onPlan: Option[(Set[String], Double) => Unit] = None): Seq[OpRec] =
    rng.shuffle(fns).map { case (n, fn) =>
      val o0 = System.nanoTime()
      val out = t(n, "queries.op") { _ =>
        try {
          val before = onPlan.map(_ => storeDirs())
          val (df, plan) = t(n, "queries.plan")(s => (fn(spark, sfDir), s))
          for (f <- onPlan; b <- before) f(storeDirs() -- b, plan.seconds)
          val rows = t(n, "queries.exec")(_ => df.collect())
          Right((df.schema, rows))
        } catch { case e: Throwable => Left(e) }
      }
      val secs = (System.nanoTime() - o0) / 1e9
      out match {
        case Right((schema, rows)) =>
          if (record) {
            val key = (n, rows.toSeq.hashCode)
            val prev = results.get(key)
            results(key) = (schema, rows, prev.map(_._3).getOrElse(0) + 1)
          }
          OpRec(n, secs, rows.length.toLong, failed = false)
        case Left(e) =>
          System.err.println(s"[perfbench] $n failed: ${e.getMessage}")
          OpRec(n, secs, 0L, failed = true)
      }
    }

  override def writeChecks(dir: String, corrupt: Boolean): Seq[Map[String, Any]] = {
    val perName = mutable.Map.empty[String, Int]
    results.toSeq.zipWithIndex.map { case (((n, _), (schema, rows, ops)), i) =>
      val k = perName.getOrElse(n, 0)
      perName(n) = k + 1
      val out = s"$dir/$n-$k"
      val written = if (corrupt && i == 0) rows.dropRight(1) else rows
      spark.createDataFrame(java.util.Arrays.asList(written: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(out)
      Map[String, Any]("kind" -> "query", "name" -> n, "dir" -> out, "ops" -> ops,
        "sql" -> SparkEntry.oracleSql.get(n))
    }
  }

  override def layerMetrics(t: Tracer, u: Int): Map[String, Double] = {
    val (planS, planJobs, _) = SparkLayers.layer(t, u, "queries.plan")
    val (execS, execJobs, _) = SparkLayers.layer(t, u, "queries.exec")
    Map(
      "queries.plan_s" -> planS,
      "queries.plan_jobs" -> planJobs,
      "queries.exec_s" -> execS,
      "queries.exec_jobs" -> execJobs,
      "layout.build_s" -> Main.median(builds.map(_.values.sum).toSeq),
      "layout.store_mb" -> Disk.size(layoutRoot) / 1e6,
      "layout.builds_in_run" -> newStores.getOrElse(u, 0).toDouble)
  }

  override def setupFacts: Map[String, Any] = Map(
    "layout_builds_s" -> builds,
    "layout_builds_in_run" -> newStores.values.sum,
    "layout_store_bytes" -> Disk.size(layoutRoot))
}
