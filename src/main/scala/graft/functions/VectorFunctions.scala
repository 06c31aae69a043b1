package graft.functions

import graft.expressions.Exprs
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over embedding columns (`array<float>`; `array<double>` is
  * accepted too): the dot product and random-hyperplane LSH buckets, as
  * native Catalyst expressions — no UDFs, no driver-side math.
  *
  * Accumulation is left-to-right in double precision, which matches DuckDB's
  * `list_dot_product(CAST(v AS DOUBLE[]), ...)` bit-for-bit on the oracle
  * path; query layers still round before comparing.
  */
object VectorFunctions {

  /** Σ aᵢ·bᵢ in double precision: the codegen'd [[graft.expressions.Dot]]. */
  def dot(a: Column, b: Column): Column = Exprs.dot(a, b)

  /** Random-hyperplane LSH bucket for approximate nearest neighbour: the
    * sign pattern of `bits` pseudo-random projections. Hyperplane j's
    * component for dimension i is ±1 derived from md5("j:i") parity — fully
    * deterministic, reproducible on any engine, no stored model needed.
    * Vectors in the same bucket are ANN candidates; probing the bucket (plus
    * optionally neighbouring buckets at Hamming distance 1) replaces the
    * all-pairs scan at scale.
    */
  def hyperplaneSigns(dim: Int, planeIdx: Int): Seq[Double] =
    (0 until dim).map { i =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$planeIdx:$i".getBytes("UTF-8"))
      if ((h(0) & 0x01) == 0) 1.0 else -1.0
    }

  def lshBucket(vec: Column, dim: Int, bits: Int): Column = {
    val bitCols = (0 until bits).map { j =>
      val plane = array(hyperplaneSigns(dim, j).map(lit): _*)
      when(dot(vec, plane) >= 0, lit(1)).otherwise(lit(0)).cast("string")
    }
    concat(bitCols: _*)
  }
}
