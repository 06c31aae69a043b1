package graft

import java.io.File
import org.apache.commons.io.FileUtils

/** The on-disk states a crash inside `AtomicSwap.swapPartitions` can
  * leave behind, built by hand from the table before and after an
  * uninterrupted swap. The partitions whose files differ between the two
  * are the swapped ones, in the swap's (ascending partition value) order;
  * their directories in `after` are exactly what the swap wrote to tmp.
  * Each state is (name, build), and `build(dir)` lays the state out as
  * the table at `dir` with its tmp beside it:
  *  - tmp written partway, with no `_SUCCESS`;
  *  - tmp complete, before any delete;
  *  - for each k, partitions 1..k-1 swapped and the k-th live partition
  *    deleted, before its rename;
  *  - every rename done, before tmp is deleted. */
object SwapCrashStates {

  private def parts(table: File): Map[String, Set[String]] =
    table.listFiles().filter(f => f.isDirectory && f.getName.contains("="))
      .map(p => p.getName -> p.list().toSet).toMap

  private def states(before: File, after: File): Seq[(String, File => Unit)] = {
    val (b, a) = (parts(before), parts(after))
    val swapped = (b.keySet ++ a.keySet).toSeq.filter(p => b.get(p) != a.get(p))
      .sortBy(_.split('=')(1).toInt)
    val written = swapped.filter(a.contains)
    require(written.nonEmpty, "the fixture swap must write a partition")
    def state(inTmp: Seq[String], complete: Boolean, renamed: Int,
              deleteNext: Boolean)(dir: File): Unit = {
      FileUtils.copyDirectory(before, dir)
      val tmp = new File(dir.getPath + ".tmp-append")
      tmp.mkdirs()
      inTmp.foreach(p => FileUtils.copyDirectory(new File(after, p), new File(tmp, p)))
      if (complete) new File(tmp, "_SUCCESS").createNewFile()
      swapped.take(renamed).foreach { p =>
        FileUtils.deleteDirectory(new File(dir, p))
        if (new File(tmp, p).exists)
          FileUtils.moveDirectory(new File(tmp, p), new File(dir, p))
      }
      if (deleteNext) FileUtils.deleteDirectory(new File(dir, swapped(renamed)))
    }
    Seq[(String, File => Unit)](
      "tmp written partway, no _SUCCESS" -> state(written.take(1), false, 0, false),
      "tmp complete, before any delete" -> state(written, true, 0, false)) ++
      swapped.indices.map(k =>
        s"partition ${k + 1} of ${swapped.size} (${swapped(k)}) deleted, before its rename" ->
          (state(written, true, k, true) _)) :+
      ("every rename done, before tmp is deleted" ->
        (state(written, true, swapped.size, false) _))
  }

  /** Replay `op`, which turns the table `base` into its uninterrupted
    * result, on every crash state: directly, and after a `read` (a
    * reader's recovery must leave what the replay needs). Returns
    * `read` of the uninterrupted result and, per state, `read` of the
    * replayed one; work happens under `scratch`. */
  def replays(base: File, op: File => Unit, read: File => Seq[String],
              scratch: File): (Seq[String], Seq[(String, Seq[String])]) = {
    val after = new File(scratch, "uninterrupted/tbl")
    FileUtils.copyDirectory(base, after)
    op(after)
    val replayed = states(base, after).zipWithIndex.flatMap { case ((name, build), i) =>
      Seq(false, true).map { readFirst =>
        val dir = new File(scratch, s"s$i-$readFirst/tbl")
        build(dir)
        if (readFirst) read(dir)
        op(dir)
        (if (readFirst) s"$name, read before the replay" else name) -> read(dir)
      }
    }
    (read(after), replayed)
  }
}
