package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Engine extension point, installed via
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`.
  *
  * Registers the engine's native expressions with the session's function
  * registry so they are usable from `expr(...)` / `spark.sql(...)` exactly
  * like built-ins, and participate in whole-stage codegen; also injects the
  * engine's seven optimizer rules (`graft.plans`: `LevenshteinBandRule`,
  * `ArrayContainsJoinRule`, `VectorFoldRule`, `MatViewRule`,
  * `SkippingIndexRule`, `JoinReorderRule`, `BySourceGroupFilterRule`) and
  * the `AsOfJoinStrategy` planner strategy.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => graft.plans.LevenshteinBandRule)
    ext.injectOptimizerRule(_ => graft.plans.ArrayContainsJoinRule)
    ext.injectOptimizerRule(_ => graft.plans.VectorFoldRule)
    ext.injectOptimizerRule(s => new graft.plans.MatViewRule(s))
    ext.injectOptimizerRule(s => new graft.plans.SkippingIndexRule(s))
    ext.injectOptimizerRule(s => new graft.plans.JoinReorderRule(s))
    ext.injectOptimizerRule(_ => graft.plans.BySourceGroupFilterRule)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectFunction((
      FunctionIdentifier("dot_d"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_d"),
      GraftExtensions.dotDBuilder))
    ext.injectFunction((
      FunctionIdentifier("top_k_pairs"),
      new ExpressionInfo(classOf[TopKPairs].getName, "top_k_pairs"),
      GraftExtensions.topKBuilder))
    ext.injectFunction((
      FunctionIdentifier("l2sq_l"),
      new ExpressionInfo(classOf[L2SqLong].getName, "l2sq_l"),
      GraftExtensions.l2SqBuilder))
    ext.injectFunction((
      FunctionIdentifier("cms_agg"),
      new ExpressionInfo(classOf[CmsAgg].getName, "cms_agg"),
      GraftExtensions.cmsBuilder))
    ext.injectFunction((
      FunctionIdentifier("sorted_intersect_l"),
      new ExpressionInfo(classOf[SortedIntersectLong].getName,
        "sorted_intersect_l"),
      GraftExtensions.sortedIntersectBuilder))
  }
}

object GraftExtensions {

  private val dotDBuilder: Seq[Expression] => Expression = children => {
    require(children.length == 2, "dot_d takes exactly 2 arguments")
    DotProduct(children.head, children(1))
  }

  private val l2SqBuilder: Seq[Expression] => Expression = children => {
    require(children.length == 2, "l2sq_l takes exactly 2 arguments")
    L2SqLong(children.head, children(1))
  }

  /** `l2sq_l` counterpart of [[registerDotD]] — resolves the native
    * squared-L2 expression in sessions built without GraftExtensions. */
  def registerL2Sq(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("l2sq_l"),
      new ExpressionInfo(classOf[L2SqLong].getName, "l2sq_l"),
      l2SqBuilder)

  private val topKBuilder: Seq[Expression] => Expression = children => {
    require(children.length == 3,
      "top_k_pairs takes exactly 3 arguments: (score, id, k)")
    val k = children(2) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"top_k_pairs: k must be an integer literal, got $other")
    }
    TopKPairs(children.head, children(1), k)
  }

  private val sortedIntersectBuilder: Seq[Expression] => Expression =
    children => {
      require(children.length == 2,
        "sorted_intersect_l takes exactly 2 arguments")
      SortedIntersectLong(children.head, children(1))
    }

  /** `sorted_intersect_l` counterpart of [[registerDotD]] — resolves the
    * native sorted-merge intersection in sessions built without
    * GraftExtensions. */
  def registerSortedIntersect(
      spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("sorted_intersect_l"),
      new ExpressionInfo(classOf[SortedIntersectLong].getName,
        "sorted_intersect_l"),
      sortedIntersectBuilder)

  private val cmsBuilder: Seq[Expression] => Expression = children => {
    require(children.length == 4,
      "cms_agg takes exactly 4 arguments: (word, cnt, depth, width)")
    val lits = children.drop(2).map {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"cms_agg: depth/width must be integer literals, got $other")
    }
    CmsAgg(children.head, children(1), lits.head, lits(1))
  }

  /** `cms_agg` counterpart of [[registerDotD]] — resolves the native
    * count-min aggregate in sessions built without GraftExtensions. */
  def registerCms(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("cms_agg"),
      new ExpressionInfo(classOf[CmsAgg].getName, "cms_agg"),
      cmsBuilder)

  /** `top_k_pairs` counterpart of [[registerDotD]] — resolves the native
    * top-k aggregate in sessions built without GraftExtensions. */
  def registerTopK(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("top_k_pairs"),
      new ExpressionInfo(classOf[TopKPairs].getName, "top_k_pairs"),
      topKBuilder)

  /** Registers `dot_d` directly in `spark`'s FunctionRegistry so `expr(...)`
    * and SQL text resolve it in sessions built WITHOUT
    * `spark.sql.extensions=GraftExtensions` — e.g. the driver's own session.
    * Needed wherever dot_d must appear INSIDE a lambda (higher-order
    * function) — the Column-level [[graft.functions.dot_d]] can't reach
    * lambda variables, only expr() text can. Idempotent (re-registering
    * replaces with the same builder). */
  def registerDotD(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("dot_d"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_d"),
      dotDBuilder)
}
