package graft

import org.scalatest.funsuite.AnyFunSuite

/** A stored-index directory's leaf must not look hidden to Spark, which
  * skips paths whose name starts with `_` or `.` ("All paths were
  * ignored"). */
class StoreDirSpec extends AnyFunSuite {
  private val tag = QueriesA.jvmTag

  private def leaf(d: String): String = {
    val dir = QueriesA.storeDir("ivf", d)
    assert(dir.startsWith(s"target/graft-ivf/$tag/"))
    dir.stripPrefix(s"target/graft-ivf/$tag/")
  }

  test("an absolute data path gives a leaf that does not start with '_'") {
    val d = "/data/tpch/sf0.01"
    assert(leaf(d) == f"data_tpch_sf0.01-${d.hashCode}%08x")
    assert(QueriesA.storeDir("ivf", d, "-batch") == s"target/graft-ivf/$tag/${leaf(d)}-batch")
  }

  test("a relative data path keeps its name chars") {
    val d = "testdata/sf0.1"
    assert(leaf(d) == f"testdata_sf0.1-${d.hashCode}%08x")
  }

  test("'.'-leading paths drop every leading '.' and '_'; the hash keeps them apart") {
    for (d <- Seq("./testdata", "../testdata", ".hidden/sf0.1", ".", "/", "__x")) {
      val l = leaf(d)
      assert(!l.startsWith("_") && !l.startsWith("."), s"$d -> $l")
      assert(l.endsWith(f"-${d.hashCode}%08x"), s"$d -> $l")
    }
    assert(leaf("./testdata") != leaf("../testdata"))
    assert(leaf(".") == f"data-${".".hashCode}%08x")
  }
}
