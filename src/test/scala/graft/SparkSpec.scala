package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.graftglue.ListenerGlue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

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
    ListenerGlue.drain(sc)
    sc.addSparkListener(l)
    try { body; ListenerGlue.drain(sc) } finally sc.removeSparkListener(l)
    jobs.synchronized(jobs.toSeq)
  }
}
