package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.types.Decimal

import graft.functions.{ArrayMath, DDSketchAgg, StringSim}
import graft.plans.{TopKPerGroupStrategy, TopKRewrite}

/** SQL-surface registration for the engine's custom expressions, two ways:
  *
  *  1. `GraftFunctions.register(spark)` — imperative, works on any live
  *     session; used by the mains and tests.
  *  2. `spark.sql.extensions=graft.GraftExtensions` — the
  *     [[SparkSessionExtensions]] injection point for sessions created by
  *     infra that owns the builder (spark-submit, Thrift server).
  *
  * After either, SQL users get `graft_dot(a, b)` (native codegen dot
  * product, [[ArrayMath.DotProduct]]), `graft_jaro_winkler(a, b)` /
  * `graft_damerau_levenshtein(a, b)` ([[StringSim]], DuckDB-compatible
  * record-linkage metrics), `graft_upper_tri(a)`
  * ([[ArrayMath.UpperTriProducts]], the one-pass covariance kernel), and
  * the aggregate `graft_dd_sketch(v, gamma)` ([[DDSketchAgg]], the
  * mergeable quantile sketch as a SQL aggregate).
  *
  * The hook also injects [[TopKPerGroupStrategy]] and the [[TopKRewrite]]
  * rule, so SQL's `row_number() OVER (...) <= k` plans the heap exec.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.injections.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    ext.injectPlannerStrategy(_ => TopKPerGroupStrategy)
    ext.injectOptimizerRule(_ => TopKRewrite)
  }
}

object GraftFunctions {

  private[graft] val injections: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq((
      "graft_dot",
      new ExpressionInfo(classOf[ArrayMath.DotProduct].getName, "graft_dot"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "graft_dot(arrayA, arrayB) takes 2 arguments")
        ArrayMath.DotProduct(exprs(0), exprs(1))
      }), (
      "graft_jaro_winkler",
      new ExpressionInfo(classOf[StringSim.JaroWinkler].getName, "graft_jaro_winkler"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "graft_jaro_winkler(a, b) takes 2 arguments")
        StringSim.JaroWinkler(exprs(0), exprs(1))
      }), (
      "graft_damerau_levenshtein",
      new ExpressionInfo(classOf[StringSim.DamerauLevenshtein].getName,
        "graft_damerau_levenshtein"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "graft_damerau_levenshtein(a, b) takes 2 arguments")
        StringSim.DamerauLevenshtein(exprs(0), exprs(1))
      }), (
      "graft_upper_tri",
      new ExpressionInfo(classOf[ArrayMath.UpperTriProducts].getName, "graft_upper_tri"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "graft_upper_tri(array) takes 1 argument")
        ArrayMath.UpperTriProducts(exprs(0))
      }), (
      "graft_dd_sketch",
      new ExpressionInfo(classOf[DDSketchAgg.Sketch].getName, "graft_dd_sketch"),
      (exprs: Seq[Expression]) => {
        // aggregate: the analyzer wraps a bare AggregateFunction in an
        // AggregateExpression, so SQL `graft_dd_sketch(v, 1.02)` just works
        require(exprs.length == 2,
          "graft_dd_sketch(value, gamma) takes 2 arguments")
        require(exprs(1).foldable, "gamma must be a literal")
        val gamma = exprs(1).eval() match {
          case d: Decimal => d.toDouble
          // any JVM numeric literal — double, decimal, AND integers
          // (graft_dd_sketch(v, 2) is a legal exact-power-of-gamma ask)
          case n: java.lang.Number => n.doubleValue()
          case other => throw new IllegalArgumentException(
            s"gamma must be a numeric literal, got $other")
        }
        DDSketchAgg.Sketch(exprs.head, gamma)
      }))

  /** Register the functions on a live session. */
  def register(spark: SparkSession): Unit =
    injections.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}
