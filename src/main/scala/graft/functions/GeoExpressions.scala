package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, typedLit}
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType}

/** Native point-in-polygon: the even-odd ray cast of [[Geo.contains]] /
  * [[Geo.containsMulti]] as a codegen'd Catalyst expression (the custom
  * `Expression` SURVEY §2.9/P3 planned beyond the first-ship UDF). The
  * ring set rides the plan as flat primitive arrays (xs, ys, per-ring
  * start offsets) — plan-time constants referenced from the generated
  * code, no per-row closure, no boxing, and the filter stays inside
  * WholeStageCodegen instead of breaking the stage at a ScalaUDF.
  * Arithmetic is expression-for-expression identical to the UDF and to
  * the DuckDB oracle's inlined edge table, so all three agree
  * bit-for-bit.
  */
case class GeoContains(left: Expression, right: Expression,
                       xs: Array[Double], ys: Array[Double], starts: Array[Int])
    extends BinaryExpression {
  // left = lon (x), right = lat (y)

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == DoubleType && right.dataType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"st_contains requires double (lon, lat) inputs, got ${left.dataType}, ${right.dataType}")

  override def nullSafeEval(lon: Any, lat: Any): Any =
    GeoContains.inside(xs, ys, starts,
      lon.asInstanceOf[Double], lat.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val xsRef = ctx.addReferenceObj("geoXs", xs, "double[]")
    val ysRef = ctx.addReferenceObj("geoYs", ys, "double[]")
    val stRef = ctx.addReferenceObj("geoStarts", starts, "int[]")
    defineCodeGen(ctx, ev, (lon, lat) =>
      s"graft.functions.GeoContains.inside($xsRef, $ysRef, $stRef, $lon, $lat)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): GeoContains =
    copy(left = newLeft, right = newRight)
}

object GeoContains {

  /** The kernel, also called from generated code (static forwarder).
    * Crossing parity over every ring — line-for-line the arithmetic of
    * [[Geo.contains]], including the short-circuit order, so results are
    * bit-identical.
    */
  def inside(xs: Array[Double], ys: Array[Double], starts: Array[Int],
             lon: Double, lat: Double): Boolean = {
    var in = false
    var r = 0
    while (r < starts.length - 1) {
      val s = starts(r); val e = starts(r + 1)
      var i = s
      var j = e - 1
      while (i < e) {
        val xi = xs(i); val yi = ys(i); val xj = xs(j); val yj = ys(j)
        if ((yi > lat) != (yj > lat) &&
            lon < (xj - xi) * (lat - yi) / (yj - yi) + xi) in = !in
        j = i; i += 1
      }
      r += 1
    }
    in
  }

  /** Flatten a ring set to the expression's primitive form. */
  def flatten(rings: Seq[Geo.Ring]): (Array[Double], Array[Double], Array[Int]) = {
    val xs = rings.flatMap(_.map(_._1)).toArray
    val ys = rings.flatMap(_.map(_._2)).toArray
    val starts = rings.scanLeft(0)(_ + _.length).toArray
    (xs, ys, starts)
  }

  /** Column API: `st_contains` over a broadcast-as-literal ring set —
    * drop-in for [[Geo.containsMultiUdf]] (and, with one ring, for
    * [[Geo.containsUdf]]) with whole-stage codegen.
    */
  def apply(rings: Seq[Geo.Ring])(lon: Column, lat: Column): Column = {
    val (xs, ys, starts) = flatten(rings)
    call_function("st_contains", lon, lat, typedLit(xs), typedLit(ys), typedLit(starts))
  }
}

/** Optimizer rule: polygon containment implies bounding-box membership, so
  * every `Filter(... st_contains(lon, lat, rings) ...)` gains the cheap
  * conjunct `lon ∈ [xmin, xmax] AND lat ∈ [ymin, ymax]`. The added
  * comparisons are ordinary range predicates over the same child
  * expressions, so Catalyst's existing rules push them into the parquet
  * scan (`PushedFilters`) — at 100 TB the row groups outside the polygon's
  * bbox never leave disk, and the exact ray cast only sees candidates.
  * Semantically a no-op: bbox is a superset of containment (a point
  * strictly outside every vertex's extent can cross no edge).
  *
  * The rule also orders the condition so that every conjunct holding an
  * `st_contains` comes after every conjunct that holds none, keeping the
  * relative order otherwise: `FilterExec` short-circuits conjuncts in
  * order, so the ray cast only sees rows that passed the bbox and every
  * other cheap test (a month slice over a clipped grid no longer ray-casts
  * every landed month). Deterministic conditions only, since reordering
  * changes how often a non-deterministic conjunct is evaluated.
  * Idempotent: a conjunct is only added when not already present and the
  * condition is only rebuilt when that or the order changes, so the
  * optimizer's fixpoint loop terminates.
  */
object GeoBboxPushdown
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {

  import org.apache.spark.sql.catalyst.expressions.{And, GreaterThanOrEqual, LessThanOrEqual, Literal}
  import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val additions = conjuncts.flatMap {
        case gc: GeoContains if gc.xs.nonEmpty && gc.left.deterministic &&
            gc.right.deterministic =>
          val preds = Seq(
            GreaterThanOrEqual(gc.left, Literal(gc.xs.min)),
            LessThanOrEqual(gc.left, Literal(gc.xs.max)),
            GreaterThanOrEqual(gc.right, Literal(gc.ys.min)),
            LessThanOrEqual(gc.right, Literal(gc.ys.max)))
          preds.filterNot(p => conjuncts.exists(_.semanticEquals(p)))
        case _ => Nil
      }
      val all = conjuncts ++ additions
      val (geo, cheap) =
        if (cond.deterministic) all.partition(_.exists(_.isInstanceOf[GeoContains]))
        else (Nil, all)
      val ordered = cheap ++ geo
      if (additions.isEmpty && ordered.corresponds(conjuncts)(_ eq _)) f
      else Filter(ordered.reduce(And), child)
  }
}
