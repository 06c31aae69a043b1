package graft

import graft.expressions._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Concat, Expression, ExpressionInfo, GetJsonObject, Literal, Lower, StringTrim}

/** Graft's SQL functions and planner rules, installed on every graft
  * session by `SessionTuning.apply`, and only there. A session built
  * outside `SessionTuning` has neither.
  *
  *  - One optimizer rule, [[graft.expressions.FastDoubleRound]]: Spark's
  *    double `round` runs as `FastRound`, whether the query came from the
  *    Column API, SQL or a streaming micro-batch.
  *  - One function list: the native expressions (`cosine_sim`,
  *    `word_shingles`, `hamming_dist`, `jaro_winkler`, `nfc_normalize`)
  *    and the reference's SQL UDFs (SURVEY.md §2.3 P6-P7, see
  *    `graft.sql.SqlSurface`), every one a Catalyst expression with
  *    codegen, none a row-at-a-time UDF. The Column API
  *    (`graft.expressions.Exprs`) builds the same expressions directly.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => FastDoubleRound)
    GraftExtensions.functions.foreach(ext.injectFunction)
  }
}

object GraftExtensions {
  private def fn(name: String, cls: Class[_])(builder: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)

  /** `get_page_key(header)`, and `get_sql_field(header)` with one argument:
    * the samza-sql-groupby statement reads its `__key__` and `pageKey`
    * columns from the same field, "Using GetSqlField UDF to extract page
    * key from the requestHeader" (samza-sql-groupby/src/main/sql/samza.sql:6-10).
    * Both compile to the identical expression, which is what lets that
    * statement run verbatim: its SELECT names `GetPageKey(pv.requestHeader)`
    * while grouping only by `GetSqlField(pv.requestHeader)`, and Catalyst
    * accepts a select expression semantically equal to a grouping one. */
  private def pageKey(args: Seq[Expression]): Expression = {
    require(args.length == 1, "get_page_key(header)")
    GetJsonObject(args.head, Literal("$.pageKey"))
  }

  /** `get_sql_field(json, 'a.b')` pulls a field out of an opaque record
    * (samza-sql-casewhen/src/main/sql/samza.sql:7-8); payloads here are
    * JSON strings, so it is `get_json_object(json, '$.a.b')`: the dotted
    * path concatenates onto '$.' at plan time and constant-folds to a
    * literal JsonPath. Null input, null or missing path, and malformed
    * JSON all give null. */
  private def sqlField(args: Seq[Expression]): Expression = args match {
    case Seq(json, path) => GetJsonObject(json, Concat(Seq(Literal("$."), path)))
    case Seq(_)          => pageKey(args)
    case _ => throw new IllegalArgumentException(
      "get_sql_field(json, dotted_path) or get_sql_field(header)")
  }

  /** The injected function set. The registry lowercases names, so the
    * reference's `GetSqlField`/`GetPageKey` spellings resolve through
    * `getsqlfield`/`getpagekey`; the snake_case names are the batch
    * queries' spelling. */
  private val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn("cosine_sim", classOf[CosineSimilarity]) { args =>
      require(args.length == 2, "cosine_sim(arrayFloat, arrayFloat)")
      CosineSimilarity(args(0), args(1))
    },
    fn("word_shingles", classOf[WordShingles]) { args =>
      require(args.length == 2, "word_shingles(text, n)")
      val n = args(1) match {
        case Literal(v: Int, _) => v
        case other => other.eval().asInstanceOf[Number].intValue()
      }
      WordShingles(args(0), n)
    },
    fn("hamming_dist", classOf[HammingDistance]) { args =>
      require(args.length == 2, "hamming_dist(bitsA, bitsB)")
      HammingDistance(args(0), args(1))
    },
    fn("jaro_winkler", classOf[JaroWinkler]) { args =>
      require(args.length == 2, "jaro_winkler(a, b)")
      JaroWinkler(args(0), args(1))
    },
    fn("nfc_normalize", classOf[NfcNormalize]) { args =>
      require(args.length == 1, "nfc_normalize(text)")
      NfcNormalize(args(0))
    },
    // samza-sql-filter/src/main/sql/samza.sql:7: canonicalize a string
    // for comparison
    fn("standardize", classOf[Lower]) { args =>
      require(args.length == 1, "standardize(str)")
      Lower(StringTrim(args.head))
    },
    fn("get_sql_field", classOf[GetJsonObject])(sqlField),
    fn("getsqlfield", classOf[GetJsonObject])(sqlField),
    fn("get_page_key", classOf[GetJsonObject])(pageKey),
    fn("getpagekey", classOf[GetJsonObject])(pageKey))
}
