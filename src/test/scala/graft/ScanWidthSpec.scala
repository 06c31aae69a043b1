package graft

import org.scalatest.funsuite.AnyFunSuite

/** The scan-conditioning decision behind `Tables.loadWide`: every
  * `batch_kernels` query reads through it, and whole-query specs never see
  * which width it picked. */
class ScanWidthSpec extends AnyFunSuite {

  private val KiB = 1024L
  private val MiB = 1024L * KiB

  test("enough planned splits to fill the width: the scan is kept") {
    assert(Tables.scanWidth(splits = 8, bytes = 4 * MiB, cores = 8).isEmpty)
    assert(Tables.scanWidth(splits = 9, bytes = 4 * MiB, cores = 8).isEmpty)
    assert(Tables.scanWidth(splits = 7, bytes = 4 * MiB, cores = 8).contains(8))
    assert(Tables.scanWidth(splits = 20, bytes = 20 * MiB, cores = 32).isEmpty)
    assert(Tables.scanWidth(splits = 19, bytes = 20 * MiB, cores = 32).contains(20))
  }

  test("a table under 64 KiB is kept at any split count") {
    assert(Tables.scanWidth(splits = 1, bytes = 64 * KiB - 1, cores = 32).isEmpty)
    assert(Tables.scanWidth(splits = 1, bytes = 0, cores = 4).isEmpty)
    assert(Tables.scanWidth(splits = 1, bytes = 64 * KiB, cores = 32).contains(8))
  }

  test("a sub-MiB table gets the floor of min(8, cores)") {
    assert(Tables.scanWidth(splits = 1, bytes = 500 * KiB, cores = 2).contains(2))
    assert(Tables.scanWidth(splits = 1, bytes = 500 * KiB, cores = 4).contains(4))
    assert(Tables.scanWidth(splits = 1, bytes = 500 * KiB, cores = 32).contains(8))
    // the floor holds up to 8 MiB on a wide machine
    assert(Tables.scanWidth(splits = 1, bytes = 8 * MiB, cores = 32).contains(8))
  }

  test("above the floor the width is one task per whole MiB") {
    assert(Tables.scanWidth(splits = 1, bytes = 9 * MiB, cores = 32).contains(9))
    assert(Tables.scanWidth(splits = 1, bytes = 20 * MiB, cores = 32).contains(20))
    assert(Tables.scanWidth(splits = 1, bytes = 21 * MiB - 1, cores = 32).contains(20))
  }

  test("the width is capped at the cores") {
    assert(Tables.scanWidth(splits = 1, bytes = 32 * MiB, cores = 32).contains(32))
    assert(Tables.scanWidth(splits = 1, bytes = 100 * MiB, cores = 32).contains(32))
    assert(Tables.scanWidth(splits = 1, bytes = 100 * MiB, cores = 4).contains(4))
    assert(Tables.scanWidth(splits = 4, bytes = 100 * MiB, cores = 4).isEmpty)
  }
}
