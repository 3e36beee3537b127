package graft.tools

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.graftglue.GraftGlue

import graft.{Session, SparkEntry}

/** Stage-level profile of named queries (optimization-round tooling,
  * guide §1 "measure first"): one warm pass (absorbs codegen/JIT), then
  * a profiled pass per query with a listener recording every stage's
  * wall span, task count and summed executor task time. Output per
  * query: total wall, job, stage and shuffle-map stage counts, and the
  * stages sorted by wall span — the direct read for "single-task stage"
  * (numTasks=1 where cores=32) and "job-count bound" (many jobs, each
  * stage cheap) diagnoses.
  * `sbt "runMain graft.tools.Profile <q>..."`. Dev tool only: never in
  * a query path, never in the bench methodology. */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = Session.sfDir
    val spark = Session.local("graft-profile")

    case class St(id: Int, name: String, tasks: Int, wallMs: Long,
                  taskMs: Long, site: String, shuffleMap: Boolean)
    val stages = ArrayBuffer[St]()
    var jobs = 0
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val wall = (for (a <- si.submissionTime; b <- si.completionTime)
          yield b - a).getOrElse(0L)
        stages.synchronized {
          stages += St(si.stageId, si.name.takeWhile(_ != '\n'), si.numTasks,
            wall, si.taskMetrics.executorRunTime,
            si.details.linesIterator.toSeq.headOption.getOrElse(""),
            GraftGlue.isShuffleMap(si))
        }
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        stages.synchronized { jobs += 1 }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ()
    }

    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      // two warm passes: pass 1 pays Janino, pass 2 stabilizes JIT
      (1 to 2).foreach { _ =>
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
      // the warm passes' events must not reach the listener
      GraftGlue.drain(spark.sparkContext)
      stages.synchronized { stages.clear(); jobs = 0 }
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // stage events are posted async: deliver them all before reading
      GraftGlue.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      val snap = stages.synchronized { (stages.toSeq, jobs) }
      println(f"== $name wall=$wall%.3f s  jobs=${snap._2}  stages=${snap._1.size}" +
        s"  shuffle-map=${snap._1.count(_.shuffleMap)}")
      val span = snap._1.map(_.wallMs).sum
      snap._1.sortBy(-_.wallMs).take(14).foreach { s =>
        println(f"   ${s.wallMs}%6d ms wall  ${s.taskMs}%7d ms task  " +
          f"${s.tasks}%4d tasks  [${s.id}%3d] ${s.name}%-22s ${s.site.take(90)}")
      }
      println(f"   (sum of stage walls: $span%d ms; wall not in any stage = driver/scheduling)")
    }
    spark.stop()
  }
}
