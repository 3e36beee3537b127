package graft.streaming

import java.io.{BufferedOutputStream, ByteArrayOutputStream, DataOutputStream, File, OutputStream}
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.StandardCopyOption.ATOMIC_MOVE
import java.util.zip.CRC32

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

/** Spark's default checkpoint file manager with its per-batch local-disk
  * calls done by java.nio. Each micro-batch publishes one offset-log and
  * one commit-log file through `createAtomic`; on a local path without
  * libhadoop, Hadoop's local file system starts a shell process for each
  * permission or stat call, so one tiny publish costs ~30 ms where
  * java.nio takes well under 1 ms.
  *
  * On a `file:` path (or a scheme-less one when the default file system
  * is local) it overrides `createTempFile`, `renameTempFile`, `mkdirs`
  * and `exists`; every other call, and every other scheme, goes to the
  * parent unchanged. The write-ahead protocol is the parent's own
  * `createAtomic` (temp file next to its target, then a rename), so
  * only how the bytes reach the disk differs:
  *  - a no-clobber publish is `Files.createLink`, which fails atomically
  *    when the target exists, and then throws Hadoop's
  *    `FileAlreadyExistsException`, the signal `HDFSMetadataLog` reads
  *    as a concurrent writer;
  *  - an overwrite drops the target's old sidecar, then renames with
  *    `ATOMIC_MOVE`;
  *  - both publish a `.name.crc` sidecar in Hadoop's ChecksumFs format
  *    (`crc\0`, the int bytes-per-sum, one CRC32 per chunk), the same
  *    bytes Spark's manager writes, so `LocalFileSystem` verifies the
  *    file on read.
  * Like the parent on a local disk, it does not fsync. A no-clobber
  * publish needs a file system with hard links. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, hadoopConf) {
  import LocalCheckpointFileManager._

  /** The local file `p` names, or None when it lives on another scheme. */
  private def local(p: Path): Option[NioPath] = {
    val u = fc.makeQualified(p).toUri
    if (u.getScheme == "file") Some(new File(u.getPath).toPath) else None
  }

  override def createTempFile(p: Path): FSDataOutputStream = local(p) match {
    case Some(f) => new FSDataOutputStream(new SummedOutputStream(f), null)
    case None => super.createTempFile(p)
  }

  override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit =
    (local(src), local(dst)) match {
      case (Some(s), Some(d)) =>
        if (overwriteIfPossible) {
          // a reader must never pair the new bytes with the old sums
          Files.deleteIfExists(sidecar(d))
          Files.move(s, d, ATOMIC_MOVE)
        } else {
          try Files.createLink(d, s)
          catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              Files.deleteIfExists(s)
              Files.deleteIfExists(sidecar(s))
              throw new FileAlreadyExistsException(s"$dst already exists")
          }
          Files.delete(s)
        }
        if (Files.exists(sidecar(s))) Files.move(sidecar(s), sidecar(d), ATOMIC_MOVE)
      case _ => super.renameTempFile(src, dst, overwriteIfPossible)
    }

  override def mkdirs(p: Path): Unit = local(p) match {
    case Some(d) => Files.createDirectories(d)
    case None => super.mkdirs(p)
  }

  override def exists(p: Path): Boolean = local(p) match {
    case Some(f) => Files.exists(f)
    case None => super.exists(p)
  }
}

object LocalCheckpointFileManager {

  /** Hadoop's default `file.bytes-per-checksum`, the chunk size ChecksumFs
    * writes local sidecars with. */
  private val BytesPerSum = 512

  /** ChecksumFs's sidecar of `f`: `.name.crc` in the same directory. */
  private def sidecar(f: NioPath): NioPath = f.resolveSibling(s".${f.getFileName}.crc")

  /** Writes `file` and, on close, its sidecar: `crc\0`, the int
    * bytes-per-sum, then the CRC32 of each chunk, the last one short. */
  private final class SummedOutputStream(file: NioPath) extends OutputStream {
    private val out = new BufferedOutputStream(Files.newOutputStream(file))
    private val sums = new ByteArrayOutputStream()
    private val sumsOut = new DataOutputStream(sums)
    private val crc = new CRC32
    private var inChunk = 0
    private var closed = false

    sumsOut.write(Array[Byte]('c', 'r', 'c', 0))
    sumsOut.writeInt(BytesPerSum)

    private def endChunk(): Unit = {
      sumsOut.writeInt(crc.getValue.toInt)
      crc.reset()
      inChunk = 0
    }

    override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)

    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      out.write(b, off, len)
      var i = off
      while (i < off + len) {
        val n = math.min(off + len - i, BytesPerSum - inChunk)
        crc.update(b, i, n)
        inChunk += n
        i += n
        if (inChunk == BytesPerSum) endChunk()
      }
    }

    override def flush(): Unit = out.flush()

    override def close(): Unit = if (!closed) {
      closed = true
      out.close()
      if (inChunk > 0) endChunk()
      Files.write(sidecar(file), sums.toByteArray)
    }
  }
}
