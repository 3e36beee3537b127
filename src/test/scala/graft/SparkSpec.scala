package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftglue.GraftGlue
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one session). Four
  * cores whatever the machine: job counts and results are pinned at
  * four partitions. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.local("graft-test", cores = 4, conf = Map(
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_wh").toString))

  def sf(name: String): String = s"/root/testdata/$name"

  /** Jobs `body` schedules, each named by the first call-site line of
    * its stages that contains `site`, for the failure message. */
  def jobsOf(site: String)(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val jobs = ArrayBuffer[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        jobs += e.stageInfos.map(_.details.linesIterator
          .find(_.contains(site)).getOrElse("?")).mkString(" | ")
      }
    }
    GraftGlue.drain(sc)
    sc.addSparkListener(l)
    try { body; GraftGlue.drain(sc) } finally sc.removeSparkListener(l)
    jobs.synchronized(jobs.toSeq)
  }
}
