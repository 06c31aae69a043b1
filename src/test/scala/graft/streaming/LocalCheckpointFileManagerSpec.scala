package graft.streaming

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

/** [[LocalCheckpointFileManager]] against Spark's stock
  * `FileContextBasedCheckpointFileManager`: the same bytes on disk, the same
  * collision and cancel behaviour, readable in both directions, and Spark's
  * own code on any other file system. */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {
  import LocalCheckpointFileManagerSpec._

  private val conf = new Configuration()
  private def ours(d: NioPath): CheckpointFileManager =
    new LocalCheckpointFileManager(new Path(d.toUri), conf)
  private def stock(d: NioPath): CheckpointFileManager =
    new FileContextBasedCheckpointFileManager(new Path(d.toUri), conf)
  private val managers = Seq("stock" -> (stock _), "ours" -> (ours _))

  private def tempDir(): NioPath = Files.createTempDirectory("ckpt-fm")
  private def file(d: NioPath, name: String) = new Path(d.resolve(name).toUri)

  /** Writes through `createAtomic` in uneven pieces, single bytes included,
    * so chunk and buffer boundaries fall mid-write. */
  private def write(fm: CheckpointFileManager, p: Path, bytes: Array[Byte],
                    overwrite: Boolean = false): Unit = {
    val out = fm.createAtomic(p, overwrite)
    try {
      var i = 0
      for (piece <- Iterator(1, 1, 7, 600, 1 << 17) if i < bytes.length) {
        val n = math.min(piece, bytes.length - i)
        if (n == 1) out.write(bytes(i).toInt) else out.write(bytes, i, n)
        i += n
      }
      out.write(bytes, i, bytes.length - i)
    } catch { case e: Throwable => out.cancel(); throw e }
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): Array[Byte] = {
    val in = fm.open(p)
    try in.readAllBytes() finally in.close()
  }

  /** Every file in `d`, with temp-file UUIDs blanked, name → bytes. */
  private def contents(d: NioPath): Map[String, Seq[Byte]] =
    Files.list(d).iterator().asScala.map { f =>
      f.getFileName.toString.replaceAll("[0-9a-f-]{36}", "<uuid>") ->
        Files.readAllBytes(f).toSeq
    }.toMap

  private def bytes(n: Int, seed: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    new scala.util.Random(seed).nextBytes(b)
    b
  }

  private val sizes = Seq(0, 1, 100, 512, 1500, 70001)

  test("data file and .crc sidecar are byte-identical to Spark's, any length") {
    val d = tempDir()
    val temp = ours(d).asInstanceOf[CheckpointFileManager.RenameHelperMethods]
      .createTempFile(file(d, "probe"))
    try assert(!temp.getWrappedStream.getClass.getName.startsWith("org.apache.hadoop"),
      "on a local path the temp file must be written without Hadoop's stream")
    finally temp.close()
    for (n <- sizes) {
      val (a, b) = (tempDir(), tempDir())
      write(stock(a), file(a, "7"), bytes(n, n))
      write(ours(b), file(b, "7"), bytes(n, n))
      assert(contents(a).keySet == Set("7", ".7.crc"), s"n=$n")
      assert(contents(b) == contents(a), s"n=$n: stock and ours must leave the same files")
    }
  }

  test("each manager reads what the other wrote, through the checksummed reader") {
    for (n <- sizes; (writer, mk) <- managers) {
      val d = tempDir()
      val payload = bytes(n, 31 * n)
      write(mk(d), file(d, "1"), payload)
      for ((reader, rd) <- managers)
        assert(read(rd(d), file(d, "1")).toSeq == payload.toSeq,
          s"n=$n: $reader must read what $writer wrote")
    }
  }

  test("a no-overwrite collision throws Hadoop's FileAlreadyExistsException and keeps the original") {
    val left = managers.map { case (name, mk) =>
      val d = tempDir()
      write(mk(d), file(d, "3"), bytes(900, 1))
      intercept[FileAlreadyExistsException] {
        write(mk(d), file(d, "3"), bytes(40, 2))
      }
      assert(read(mk(d), file(d, "3")).toSeq == bytes(900, 1).toSeq, name)
      name -> contents(d)
    }.toMap
    assert(left("ours") == left("stock"), "the same files, the leftover temp included")
    assert(left("ours").keySet.exists(_.endsWith(".tmp")))
  }

  test("overwriteIfPossible replaces the file and its sidecar") {
    val after = managers.map { case (name, mk) =>
      val d = tempDir()
      write(mk(d), file(d, "5"), bytes(3000, 3), overwrite = true)
      write(mk(d), file(d, "5"), bytes(700, 4), overwrite = true)
      assert(read(mk(d), file(d, "5")).toSeq == bytes(700, 4).toSeq, name)
      name -> contents(d)
    }.toMap
    assert(after("ours") == after("stock"))
    assert(after("ours").keySet == Set("5", ".5.crc"))
  }

  test("cancel() leaves no file behind") {
    for ((name, mk) <- managers) {
      val d = tempDir()
      val out = mk(d).createAtomic(file(d, "9"), false)
      out.write(bytes(2000, 5))
      out.cancel()
      assert(contents(d).isEmpty, s"$name left ${contents(d).keySet}")
    }
  }

  test("mkdirs creates nested directories; a missing parent fails the same way") {
    for ((name, mk) <- managers) {
      val d = tempDir()
      mk(d).mkdirs(file(d, "a/b/c"))
      assert(Files.isDirectory(d.resolve("a/b/c")), name)
      mk(d).mkdirs(file(d, "a/b/c"))
      intercept[FileNotFoundException] {
        write(mk(d), file(d, "missing/1"), bytes(10, 6))
      }
    }
  }

  test("a path on another file system takes Spark's code") {
    val fsConf = new Configuration()
    fsConf.set("fs.AbstractFileSystem.countfs.impl", classOf[CountingAfs].getName)
    val d = tempDir()
    val root = new Path(s"countfs://${d.toUri.getPath}")
    val fm = new LocalCheckpointFileManager(root, fsConf)
    val renames = CountingFs.renames.get
    fm.mkdirs(new Path(root, "x"))
    write(fm, new Path(root, "x/1"), bytes(100, 7))
    assert(CountingFs.renames.get == renames + 1, "the rename must go through Hadoop")
    assert(Files.readAllBytes(d.resolve("x/1")).toSeq == bytes(100, 7).toSeq)
    assert(!Files.exists(d.resolve("x/.1.crc")), "a raw file system writes no sidecar")
  }
}

object LocalCheckpointFileManagerSpec {
  /** The local disk under a `countfs:` scheme, without checksums; counts renames. */
  class CountingFs extends RawLocalFileSystem {
    override def getUri: URI = URI.create("countfs:///")
    override def getScheme: String = "countfs"
    override def rename(src: Path, dst: Path): Boolean = {
      CountingFs.renames.incrementAndGet()
      super.rename(src, dst)
    }
  }
  object CountingFs { val renames = new AtomicInteger }

  class CountingAfs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new CountingFs, conf, "countfs", false)
}
