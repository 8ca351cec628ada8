package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

import graft.expressions.{VecAggExpr, VecDotExpr}

/** Catalyst extension point of the engine — the analog of the
  * reference compiler's optimization-pass pipeline
  * (/root/reference/mlir_compiler/optimizer.py:24-71: fusion passes
  * run between parse and codegen). Registered programmatically by
  * GraftSession; a cluster deployment sets
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  *
  * [[SmallQueryRoute]] is the one physical rule: an AQE query-stage
  * preparation rule that plans a small, join-free, layout-blind query
  * whose result goes to the client or the noop sink as a
  * single-partition plan (no hash shuffles to coalesce, no
  * range-sampling job under its ORDER BY). Its guards and its size gate
  * are documented there. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => VecDotRewrite)
    ext.injectResolutionRule(s => ChangeFeedRewrite(s))
    ext.injectQueryStagePrepRule(s => SmallQueryRoute(s))
    ext.injectTableFunction(HistoryTvf.description)
  }
}

/** `SELECT * FROM glog_history('/path/to/table')` — the SQL spelling
  * of [[graft.sources.GraftLogSource.history]] (the DESCRIBE HISTORY
  * analog: version, commit_timestamp, n_live_files, n_added,
  * n_removed per retained manifest version). Registered through the
  * session's TableFunctionRegistry — the same registry `range(...)`
  * lives in — so the analyzer resolves it like any built-in TVF and
  * the rows are exactly the Scala API's (one code path). The path
  * must be a string LITERAL: history is driver-side metadata
  * resolution (O(retained versions) manifest reads at analysis
  * time), not a distributed scan. */
object HistoryTvf {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
  import org.apache.spark.sql.types.StringType

  val description: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan) = (
    FunctionIdentifier("glog_history"),
    new ExpressionInfo("graft.plans.HistoryTvf", "glog_history"),
    (args: Seq[Expression]) => {
      val path = args match {
        case Seq(e) if e.foldable && e.dataType == StringType &&
            e.eval() != null => e.eval().toString
        case _ => throw new IllegalArgumentException(
          "glog_history expects exactly one string-literal table path: " +
            "glog_history('/path/to/table')")
      }
      graft.sources.GraftLogSource
        .history(org.apache.spark.sql.SparkSession.active, path)
        .queryExecution.analyzed
    })
}

/** Resolves the PUBLIC change-feed reader spelling
  * (`spark.read.format("glog").option("changeFeedFrom", a)
  * .option("changeFeedTo", b)`): the provider returns a marker
  * [[graft.sources.GlogChangeFeedTable]] (the feed's multiset-diff
  * composition cannot live inside one DSv2 scan), and this rule swaps
  * its relation for [[graft.sources.GraftLogSource.changeFeed]]'s
  * analyzed plan during resolution — downstream operators keep their
  * resolved attribute ids via an aliasing Project, and the whole
  * optimizer (including the feed's `filesOf` planning-time file
  * restriction) applies to the substituted subtree. */
case class ChangeFeedRewrite(spark: org.apache.spark.sql.SparkSession)
    extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.Project
  import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case r: DataSourceV2Relation
          if r.table.isInstanceOf[graft.sources.GlogChangeFeedTable] =>
        val t = r.table.asInstanceOf[graft.sources.GlogChangeFeedTable]
        val feed = graft.sources.GraftLogSource
          .changeFeed(spark, t.path, t.fromVersion, t.toVersion)
          .queryExecution.analyzed
        val byName = feed.output.map(a => a.name -> a).toMap
        // re-home the feed's output under the relation's attribute ids
        // so references already resolved against the relation stay valid
        Project(r.output.map { ref =>
          Alias(byName(ref.name), ref.name)(exprId = ref.exprId)
        }, feed)
    }
}

/** Rewrites the interpreted HOF dot-product fold
  *   aggregate(zip_with(a, b, (x, y) -> x·y), 0.0, (s, v) -> s + v)
  * into the codegen'd VecDotExpr (~23× on a 4M×64 microbench). The
  * operator-fusion idea of the reference's MatMul+Add→Gemm pass
  * (optimizer.py:134-141), applied at the expression level.
  *
  * Semantics-preserving INCLUDING nulls: both spellings accumulate in
  * double, left to right, and yield NULL on dim mismatch or a null
  * element (VecDotExpr null parity is asserted by VecDotExprSpec).
  * The match is deliberately strict — any deviation (different init,
  * reversed accumulator, extra finish work, non-float/double arrays)
  * is left untouched. */
object VecDotRewrite extends Rule[LogicalPlan] {

  private def isDoubleArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  /** x, cast(x as double), or try-cast thereof — the lambda bodies the
    * Column API and SQL spellings produce around the element vars. */
  private def stripCast(e: Expression): Expression = e match {
    case c: Cast if c.dataType == DoubleType => stripCast(c.child)
    case other => other
  }

  private def isVar(e: Expression, v: NamedExpression): Boolean =
    stripCast(e) match {
      case nv: NamedLambdaVariable => nv.exprId == v.exprId
      case _ => false
    }

  private def isZeroDouble(zero: Expression): Boolean =
    zero.foldable && zero.dataType == DoubleType && zero.eval() == 0.0

  def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    // dot product first — more specific than the plain-sum fold below
    // (a sum over a zip_with would keep the interpreted ZipWith alive)
    case ArrayAggregate(
        ZipWith(a, b, LambdaFunction(Multiply(mx, my, _), Seq(x, y), _)),
        zero,
        LambdaFunction(Add(as, av, _), Seq(s, v), _),
        finish)
      if isDoubleArray(a) && isDoubleArray(b) &&
        isVar(mx, x) && isVar(my, y) &&
        isZeroDouble(zero) &&
        isVar(as, s) && isVar(av, v) &&
        isIdentityFinish(finish) =>
      VecDotExpr(a, b)

    // Σx² fold: aggregate(arr, 0.0, (s, x) -> s + x*x) → vec_sumsq
    case ArrayAggregate(
        arr,
        zero,
        LambdaFunction(Add(as, Multiply(v1, v2, _), _), Seq(s, v), _),
        finish)
      if isDoubleArray(arr) && isZeroDouble(zero) &&
        isVar(as, s) && isVar(v1, v) && isVar(v2, v) &&
        isIdentityFinish(finish) =>
      VecAggExpr(arr, "sumsq")

    // Σx fold: aggregate(arr, 0.0, (s, x) -> s + x) → vec_sum
    case ArrayAggregate(
        arr,
        zero,
        LambdaFunction(Add(as, av, _), Seq(s, v), _),
        finish)
      if isDoubleArray(arr) && isZeroDouble(zero) &&
        isVar(as, s) && isVar(av, v) &&
        isIdentityFinish(finish) =>
      VecAggExpr(arr, "sum")
  }

  private def isIdentityFinish(finish: Expression): Boolean = finish match {
    case LambdaFunction(body, Seq(arg), _) => isVar(body, arg)
    case _ => false
  }
}
