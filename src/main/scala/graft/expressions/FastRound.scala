package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, Round, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** `round(x, scale)` HALF_UP on doubles, bit-identical to Spark's `Round`
  * but without its per-row `BigDecimal.valueOf(x)` (a `Double.toString`)
  * whenever the answer can be decided in primitive arithmetic; see
  * [[RoundKernel.halfUp]]. Doubles only: the type check rejects decimals
  * (and floats), which stay on Spark's `round`. Code never builds it by
  * hand; [[FastDoubleRound]] plans it in place of Spark's double `round`. */
case class FastRound(child: Expression, scale: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"fast_round expects double, got ${child.dataType}; use round for other types")

  override def dataType: DataType = DoubleType

  /** As Spark's `RoundBase`, so the rewrite changes no attribute's
    * nullability (and no streaming state schema). */
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    RoundKernel.halfUp(input.asInstanceOf[Double], scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.RoundKernel.halfUp($c, $scale)")

  override protected def withNewChildInternal(newChild: Expression): FastRound =
    copy(child = newChild)

  override def prettyName: String = "fast_round"
}

/** Optimizer rule: Spark's `round(x, s)` on a double with a literal scale
  * runs as [[FastRound]]. Decimal, float and integral rounds keep Spark's
  * `Round`. It runs after analysis, so the cache manager, which matches
  * analyzed plans, sees `Round` on both sides of every lookup. Installed by
  * `graft.GraftExtensions`; excluded by name through
  * `spark.sql.optimizer.excludedRules`. */
object FastDoubleRound extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case Round(child, Literal(s: Int, IntegerType), _) if child.dataType == DoubleType =>
      FastRound(child, s)
  }
}

object RoundKernel {
  /** 10^0 … 10^22, every one an exact double. */
  private val Pow10: Array[Double] = Array.tabulate(23)(i => s"1e$i".toDouble)

  /** Spark's double round: `BigDecimal.valueOf(x).setScale(s, HALF_UP)
    * .doubleValue()`, NaN and ±Inf passed through.
    *
    * `valueOf` rounds the decimal string of x, which lies within half an
    * ulp of x; `y = |x|·10^s` lies within half an ulp of its exact value.
    * So when y's fractional part is clear of .5 by more than both errors
    * (the band), the string and x round to the same integer r, and r is
    * `floor(y)` or `floor(y) + 1`. With y < 1e15 < 2^52, r and 10^s are
    * exact doubles, so the correctly rounded `r / 10^s` is exactly what
    * `BigDecimal.doubleValue` returns for unscaled r at scale s. r = 0 is
    * +0.0 (a BigDecimal zero has no sign). Ties, near-ties, large
    * magnitudes and other scales take the BigDecimal path. */
  def halfUp(x: Double, s: Int): Double = {
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) return x
    if (s >= 0 && s < Pow10.length) {
      val p = Pow10(s)
      val y = math.abs(x) * p
      if (y < 1e15) {
        val f = math.floor(y)
        val frac = y - f
        val band = 4 * math.ulp(y) + math.ulp(x) * p
        if (frac < 0.5 - band || frac > 0.5 + band) {
          val r = if (frac > 0.5) f + 1 else f
          if (r == 0) return 0.0
          val q = r / p
          return if (x < 0) -q else q
        }
      }
    }
    java.math.BigDecimal.valueOf(x).setScale(s, java.math.RoundingMode.HALF_UP).doubleValue()
  }
}
