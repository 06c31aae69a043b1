package graft.streaming

import java.io.{BufferedOutputStream, ByteArrayOutputStream, DataOutputStream, FileOutputStream, OutputStream}
import java.nio.file.{Files, Paths, Path => NioPath}
import java.nio.file.StandardCopyOption.ATOMIC_MOVE
import java.util.zip.CRC32

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

/** Spark's `FileContextBasedCheckpointFileManager` with the three write-side
  * calls of the atomic-write protocol (`createTempFile`, `renameTempFile`,
  * `mkdirs`) done through java.nio when the path lives on Hadoop's
  * checksummed local file system (`LocalFs`, scheme `file`). Without the
  * native Hadoop library that file system sets permissions and reads file
  * status by running `chmod`/`stat` child processes; see
  * [[graft.SessionTuning.checkpointFileManagerClass]] for the measured cost.
  *
  * The files on disk are the ones `LocalFs` writes, byte for byte: the data
  * file and its `.<name>.crc` sidecar in ChecksumFs's format (the magic
  * `crc\0`, the bytes-per-checksum int, then one big-endian CRC32 per
  * chunk), renamed together. So a checkpoint moves freely between this
  * manager and Spark's. Every other method, and every other file system,
  * is Spark's own code. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, hadoopConf) {

  /** LocalFs's CRC chunk size; None on any other file system. */
  private val bytesPerSum: Option[Int] = fc.getDefaultFileSystem match {
    case fs: LocalFs => Some(fs.getBytesPerSum)
    case _ => None
  }

  /** The local file behind `p`, or None when Spark's code must handle it. */
  private def local(p: Path): Option[NioPath] = bytesPerSum.flatMap { _ =>
    val uri = fc.makeQualified(p).toUri
    if (uri.getScheme == "file") Some(Paths.get(uri.getPath)) else None
  }

  private def crcOf(file: NioPath): NioPath =
    file.resolveSibling(s".${file.getFileName}.crc")

  override def mkdirs(p: Path): Unit = local(p) match {
    case Some(dir) => Files.createDirectories(dir)
    case None => super.mkdirs(p)
  }

  override def createTempFile(p: Path): FSDataOutputStream = local(p) match {
    case Some(file) =>
      new FSDataOutputStream(new ChecksummedOutput(file, crcOf(file), bytesPerSum.get), null)
    case None => super.createTempFile(p)
  }

  /** Overwrite: the old sidecar goes first, so a reader sees old bytes
    * without sums, new bytes without sums or new bytes with new sums, never
    * a mismatched pair. No overwrite: a hard link fails atomically when
    * `dst` exists and then leaves `src` in place, as Spark's rename does. */
  override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit =
    (local(src), local(dst)) match {
      case (Some(from), Some(to)) =>
        if (overwriteIfPossible) {
          Files.deleteIfExists(crcOf(to))
          Files.move(from, to, ATOMIC_MOVE)
        } else {
          try Files.createLink(to, from)
          catch { case e: java.nio.file.FileAlreadyExistsException =>
            throw new FileAlreadyExistsException(s"Rename destination $dst already exists.")
              .initCause(e) }
          Files.delete(from)
        }
        Files.move(crcOf(from), crcOf(to), ATOMIC_MOVE)
      case _ => super.renameTempFile(src, dst, overwriteIfPossible)
    }

  /** Writes `file` (a missing parent fails with FileNotFoundException, as in
    * Hadoop), summing every `bytesPerSum` chunk as it goes; `close` syncs
    * the data to disk, then writes the sidecar. A FileOutputStream,
    * like Hadoop's: a FileChannel would abort the write when the query's
    * thread is interrupted by `stop()`, and Spark reads the resulting
    * ClosedChannelException as a failed query, not a stopped one. */
  private final class ChecksummedOutput(file: NioPath, crcFile: NioPath, bytesPerSum: Int)
      extends OutputStream {
    private val fileOut = new FileOutputStream(file.toFile)
    private val data = new BufferedOutputStream(fileOut, 1 << 16)
    private val sums = new ByteArrayOutputStream()
    private val sumsOut = new DataOutputStream(sums)
    private val crc = new CRC32
    private var inChunk = 0
    private var closed = false
    sumsOut.write(Array[Byte]('c', 'r', 'c', 0))
    sumsOut.writeInt(bytesPerSum)

    override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)

    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      data.write(b, off, len)
      var i = off
      while (i < off + len) {
        val n = math.min(bytesPerSum - inChunk, off + len - i)
        crc.update(b, i, n)
        inChunk += n
        i += n
        if (inChunk == bytesPerSum) endChunk()
      }
    }

    private def endChunk(): Unit = {
      sumsOut.writeInt(crc.getValue.toInt)
      crc.reset()
      inChunk = 0
    }

    override def flush(): Unit = data.flush()

    override def close(): Unit = if (!closed) {
      closed = true
      if (inChunk > 0) endChunk()
      writeSynced(fileOut) { _ => data.flush() }
      writeSynced(new FileOutputStream(crcFile.toFile))(sums.writeTo)
    }

    private def writeSynced(out: FileOutputStream)(body: FileOutputStream => Unit): Unit =
      try { body(out); out.getFD.sync() } finally out.close()
  }
}
