package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.ColumnBridge

/** Column-API bindings for the native expressions (no session extension
  * needed — usable on any SparkSession). */
object Exprs {
  def cosineSim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimilarity(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Σ aᵢ·bᵢ in double over array<float|double> (see [[Dot]]). */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(Dot(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def wordShingles(text: Column, n: Int): Column =
    ColumnBridge.column(WordShingles(ColumnBridge.expression(text), n))

  def hammingDist(a: Column, b: Column): Column =
    ColumnBridge.column(HammingDistance(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def nfcNormalize(text: Column): Column =
    ColumnBridge.column(NfcNormalize(ColumnBridge.expression(text)))

  /** Shingles deduped at the source — for set-semantics consumers. */
  def wordShinglesDistinct(text: Column, n: Int): Column =
    ColumnBridge.column(WordShingles(ColumnBridge.expression(text), n, distinct = true))

  /** Case-folded a–z counts in one byte pass (26-element long array). */
  def letterCounts(text: Column): Column =
    ColumnBridge.column(LetterCounts(ColumnBridge.expression(text)))

  /** Jaro–Winkler similarity in [0,1] (DuckDB-parity semantics). */
  def jaroWinkler(a: Column, b: Column): Column =
    ColumnBridge.column(JaroWinkler(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** One-pass literal-panel term counts over a token array
    * (`terms.length`-element long array, slot order = panel order). */
  def termFrequencies(toks: Column, terms: Seq[String]): Column =
    ColumnBridge.column(TermFrequencies(ColumnBridge.expression(toks), terms))

  /** Fused tokenize + panel counts + token length over RAW text:
    * `terms.length + 1` longs, last slot = token count. */
  def panelTermStats(text: Column, terms: Seq[String]): Column =
    ColumnBridge.column(PanelTermStats(ColumnBridge.expression(text), terms))

  def bloomMightContain(s: Column,
      bloom: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter]): Column =
    ColumnBridge.column(BloomMightContain(ColumnBridge.expression(s), bloom))
}
