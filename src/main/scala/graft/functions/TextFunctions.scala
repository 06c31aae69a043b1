package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text primitives for the training-data-pipeline operators
  * (tokenization, shingling, language-ID scoring, quality metrics,
  * fingerprinting).
  *
  * Everything here is pure `Column` expressions over built-in Spark SQL
  * functions — no UDFs — so the whole pipeline stays inside whole-stage
  * codegen and is trivially distributable. Each primitive has a 1:1 ANSI-SQL
  * twin used by the DuckDB oracle (see SparkEntry.oracleSql), which pins the
  * exact semantics (split behavior, hash function, rounding).
  */
object TextFunctions {

  /** Whitespace tokens with empties dropped — matches
    * `list_filter(string_split(text,' '), x -> x <> '')` in the oracle. */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => t =!= "")

  /** BPE-ish token count: runs of letters, runs of digits, or single
    * non-alphanumeric glyphs. A cheap proxy for subword token budgeting. */
  val BpeTokenPattern = "[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"
  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit(BpeTokenPattern))

  /** Word n-gram shingles from a pre-tokenized array column: array of
    * space-joined n-grams. Docs shorter than n shingle to the full token
    * list (min 1 shingle) so no document silently drops out of dedup.
    *
    * Uses concat_ws over element_at (O(1) per access) rather than
    * slice+array_join (which copies an O(n) sub-array per position —
    * measurably 8× slower on the interpreted higher-order-function path).
    * Pass a *column reference* to an already-projected tokens column, not
    * `tokens(text)` inline, or the split/filter runs once per reference. */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    when(size(toks) <= n, array(array_join(toks, " ")))
      .otherwise(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(o => element_at(toks, i + o)): _*)))

  def shingles(text: Column, n: Int): Column = shinglesFromTokens(tokens(text), n)

  /** Canonical form used for fingerprinting: collapse whitespace, trim,
    * lowercase. */
  def normalized(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  /** Content fingerprint = md5 of the normalized text. md5 is the one hash
    * both Spark and DuckDB implement identically (lowercase hex), which is
    * why it anchors the oracle-checked dedup path. */
  def fingerprint(text: Column): Column = md5(normalized(text))

  /** Occurrence count of a literal marker substring, via length delta.
    * Exactly `(length(t) - length(replace(t, m, ''))) / length(m)`.
    * Literal `replace`, not a quoted-pattern regexp_replace — the langid
    * scorer evaluates 20 markers per row and the regex machinery was the
    * dominant cost of that projection. */
  def occurrences(text: Column, marker: String): Column =
    ((length(text) - length(call_function("replace", text, lit(marker), lit("")))) / marker.length).cast("int")

  /** Language marker words (surrounded by spaces to match whole words).
    * Deterministic scoring heuristic; the oracle replicates the same CASE
    * chain, so ties resolve identically by list order. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " a ", " and ", " of "),
    "de" -> Seq(" der ", " die ", " und ", " das "),
    "es" -> Seq(" el ", " la ", " los ", " que "),
    "fr" -> Seq(" le ", " la ", " les ", " et "),
    "zh" -> Seq("的", "是", "了", "在"))

  def langScore(text: Column, markers: Seq[String]): Column = {
    val padded = concat(lit(" "), text, lit(" "))
    markers.map(m => occurrences(padded, m)).reduce(_ + _)
  }

  /** argmax over language scores; ties break by declaration order.
    * CASE WHEN s0 >= s1 AND s0 >= s2 ... THEN l0 WHEN s1 >= s2 ... — each
    * branch only needs to dominate the *later* ones, since earlier branches
    * already won ties. The oracle SQL uses the identical CASE chain. */
  def langId(text: Column): Column = {
    val scores = LangMarkers.map { case (lang, ms) => lang -> langScore(text, ms) }
    val cols = scores.map(_._2)
    val branches = scores.zipWithIndex.map { case ((lang, s), i) =>
      val laterDominated = cols.drop(i + 1).foldLeft(lit(true))((acc, o) => acc && s >= o)
      (laterDominated, lang)
    }
    branches.init.foldRight(lit(branches.last._2): Column) { case ((cond, lang), acc) =>
      when(cond, lang).otherwise(acc)
    }
  }

  /** Quality metrics for filtering a pretraining corpus. All ratios rounded
    * in the query layer, not here, so downstream ops can keep full precision. */
  def punctCount(text: Column): Column = regexp_count(text, lit("[^a-zA-Z0-9\\s]"))

  /** Token count (LongType) via the native fused tokenizer — ONE byte
    * pass, no intermediate array, no interpreted HOF; bit-equal to
    * `size(tokens(text))` (the r13 `PanelTermStats` kernel with an empty
    * panel: slot 0 is the token count). Use where the token ARRAY isn't
    * otherwise consumed — explode/shingle consumers keep `tokens`. */
  def tokenCount(text: Column): Column =
    graft.expressions.Exprs.panelTermStats(text, Nil).getItem(0)

  val Stopwords = Seq("the", "a", "and", "of", "in", "to", "is", "has")

  /** Stopword occurrences, natively: the panel-counts kernel over the
    * lowered text, slots summed (stopwords are distinct, so the sum IS
    * the any-of count). Replaces the interpreted per-token 8-branch
    * lambda — bit-equal, now LongType (callers cast anyway). Codegen
    * subexpression elimination collapses the repeated kernel reference
    * to one evaluation per row. */
  def stopwordCount(text: Column): Column = {
    val counts = graft.expressions.Exprs.panelTermStats(lower(text), Stopwords)
    Stopwords.indices.map(i => counts.getItem(i)).reduce(_ + _)
  }
}
