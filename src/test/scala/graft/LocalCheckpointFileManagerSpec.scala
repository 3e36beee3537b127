package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.{LocalCheckpointFileManager, StreamPipeline}

/** Counts its instances, to show which manager a query really used. */
class CountingCheckpointFileManager(path: Path, conf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, conf) {
  CountingCheckpointFileManager.made.incrementAndGet()
}
object CountingCheckpointFileManager { val made = new AtomicInteger }

/** The java.nio checkpoint manager keeps the write-ahead protocol of
  * Spark's own manager: exactly-once resume, no-clobber publishes, and
  * Hadoop-format checksum sidecars that `LocalFileSystem` verifies. */
class LocalCheckpointFileManagerSpec extends SparkSpec {
  import spark.implicits._

  private val key = "spark.sql.streaming.checkpointFileManagerClass"
  private val conf = new Configuration()

  private def tmpDir(prefix: String): Path =
    new Path(Files.createTempDirectory(prefix).toUri)

  private def write(fm: LocalCheckpointFileManager, p: Path, bytes: Array[Byte],
                    overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(bytes)
    out.close()
  }

  private def local(p: Path) = Paths.get(p.toUri.getPath)
  private def sidecar(p: Path) = local(new Path(p.getParent, s".${p.getName}.crc"))
  private def bytes(n: Int, seed: Int) = Array.tabulate[Byte](n)(i => (i * 31 + seed).toByte)
  private def readChecked(p: Path): Array[Byte] = {
    val in = FileSystem.getLocal(conf).open(p)
    try in.readAllBytes() finally in.close()
  }

  test("a restarted foreachBatchSink query resumes after its last committed batch") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Int]
    val ckpt = Files.createTempDirectory("ckpt_resume").toString
    val seen = ArrayBuffer.empty[(Long, Seq[Int])]
    val writer: (org.apache.spark.sql.DataFrame, Long) => Unit = (b, id) =>
      seen.synchronized(seen += ((id, b.as[Int].collect().toSeq.sorted)))
    def run(chunks: Seq[Int]*): Unit = {
      val q = StreamPipeline.foreachBatchSink(ms.toDF(), ckpt, writer)
      try chunks.foreach { c => ms.addData(c: _*); q.processAllAvailable() }
      finally q.stop()
    }
    run(Seq(1, 2), Seq(3))
    assert(spark.conf.get(key) == classOf[LocalCheckpointFileManager].getName)
    run() // a restart with nothing new delivers nothing again
    run(Seq(4, 5))
    assert(seen.toSeq == Seq((0L, Seq(1, 2)), (1L, Seq(3)), (2L, Seq(4, 5))))
    // both logs were published with their sidecars and no temp file is left
    for (log <- Seq("offsets", "commits"); b <- 0 to 2) {
      val f = new Path(s"$ckpt/$log/$b")
      assert(Files.exists(local(f)) && Files.exists(sidecar(f)), s"$log/$b")
      assert(readChecked(f).nonEmpty)
    }
    val left = Files.walk(Paths.get(ckpt)).iterator.asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".tmp")).toSeq
    assert(left.isEmpty, left)
  }

  test("a no-clobber publish onto an existing file fails and keeps the old bytes") {
    val dir = tmpDir("ckpt_noclobber")
    val fm = new LocalCheckpointFileManager(dir, conf)
    val p = new Path(dir, "0")
    write(fm, p, "old".getBytes, overwrite = false)
    intercept[FileAlreadyExistsException](write(fm, p, "new".getBytes, overwrite = false))
    assert(readChecked(p).sameElements("old".getBytes))
    assert(Files.list(local(dir)).iterator.asScala.map(_.getFileName.toString).toSet ==
      Set("0", ".0.crc"))
  }

  test("an overwrite is read back checksum-verified, and a flipped byte is caught") {
    val dir = tmpDir("ckpt_overwrite")
    val fm = new LocalCheckpointFileManager(dir, conf)
    val p = new Path(dir, "state.delta")
    write(fm, p, bytes(700, 1), overwrite = false)
    val fresh = bytes(1300, 2)
    write(fm, p, fresh, overwrite = true)
    assert(readChecked(p).sameElements(fresh))
    val raf = new java.io.RandomAccessFile(local(p).toFile, "rw")
    try { raf.seek(900); raf.write(fresh(900) ^ 0x01) } finally raf.close()
    intercept[ChecksumException](readChecked(p))
  }

  test("the sidecar bytes equal those Spark's manager writes") {
    val dir = tmpDir("ckpt_sidecar")
    val spark0 = new FileContextBasedCheckpointFileManager(dir, conf)
    val ours = new LocalCheckpointFileManager(dir, conf)
    for (n <- Seq(0, 1, 512, 1300)) {
      val (a, b) = (new Path(dir, s"spark_$n"), new Path(dir, s"ours_$n"))
      val out = spark0.createAtomic(a, false)
      out.write(bytes(n, n))
      out.close()
      write(ours, b, bytes(n, n), overwrite = false)
      assert(Files.readAllBytes(local(b)).sameElements(Files.readAllBytes(local(a))))
      assert(Files.readAllBytes(sidecar(b)).sameElements(Files.readAllBytes(sidecar(a))),
        s"$n bytes")
    }
  }

  test("a checkpoint manager the caller set is kept") {
    implicit val sqlCtx = spark.sqlContext
    val mine = classOf[CountingCheckpointFileManager].getName
    val before = spark.conf.getOption(key)
    spark.conf.set(key, mine)
    try {
      val ms = MemoryStream[Int]
      val made = CountingCheckpointFileManager.made.get
      val q = StreamPipeline.foreachBatchSink(ms.toDF(),
        Files.createTempDirectory("ckpt_mine").toString, (_, _) => ())
      try { ms.addData(1); q.processAllAvailable() } finally q.stop()
      assert(spark.conf.get(key) == mine)
      assert(CountingCheckpointFileManager.made.get > made)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
