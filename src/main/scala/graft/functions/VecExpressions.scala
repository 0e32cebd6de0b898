package graft.functions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst dot product over two numeric array columns, with
  * whole-stage codegen (`doGenCode`) — the hot kernel of every similarity
  * operator ([[graft.operators.Similarity]]).
  *
  * Why not `aggregate(zip_with(...))`: Catalyst higher-order functions
  * evaluate their lambda interpreted, one function call per element per row.
  * On an all-pairs similarity join that is ~dims × pairs interpreted calls;
  * this expression compiles to a tight fused loop inside the generated code
  * instead. The reference's analog is the C kernels it shells out to
  * (cdo/wgrib, /root/reference/src/file-conversions.js:233-257) — here the
  * "native kernel" is generated Java inside Tungsten.
  *
  * Semantics (bit-identical to the HOF formulation it replaces, so DuckDB
  * oracles are unaffected):
  *  - elements are widened to double, accumulated left-to-right;
  *  - arrays of different lengths, or any null element in the traversed
  *    range, yield NULL (exactly what zip_with padding + aggregate over
  *    null products produced);
  *  - null input array yields NULL (standard null-safe binary expression).
  */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def elemOf(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOf(left).isDefined && elemOf(right).isDefined) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot requires array<float|double> inputs, got ${left.dataType} and ${right.dataType}")

  @inline private def get(a: ArrayData, t: DataType, i: Int): Double = t match {
    case FloatType => a.getFloat(i).toDouble
    case _ => a.getDouble(i)
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    val (ta, tb) = (elemOf(left).get, elemOf(right).get)
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += get(a, ta, i) * get(b, tb, i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def getter(t: DataType, arr: String, i: String): String = t match {
      case FloatType => s"(double) $arr.getFloat($i)"
      case _ => s"$arr.getDouble($i)"
    }
    val (ta, tb) = (elemOf(left).get, elemOf(right).get)
    // freshName per instance: two vec_dot calls in one codegen'd projection
    // would otherwise both declare `n`/`s`/`i` and Janino rejects the
    // redefinition, dropping the whole stage to interpreted mode
    val n = ctx.freshName("vdN")
    val s = ctx.freshName("vdS")
    val i = ctx.freshName("vdI")
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += ${getter(ta, a, i)} * ${getter(tb, b, i)};
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $s; }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

object VecDot {
  /** Column-API entry point: `VecDot(a, b)` — a drop-in for
    * `aggregate(zip_with(a, b, _ * _), 0.0, _ + _)` with codegen. Resolves
    * through the `vec_dot` function registered by [[GraftExtensions]].
    */
  def apply(a: Column, b: Column): Column = call_function("vec_dot", a, b)
}

/** Native polynomial rolling hash over a string's Unicode code points:
  * `acc = (acc * mult + codePoint) mod 1_000_000_007`, left-to-right,
  * starting from 0. The modulus keeps every intermediate < 2⁶³ in both
  * engines, making the function *portable*: DuckDB computes the identical
  * value with `list_reduce` over `ascii(substring(s, i, 1))`, so hash-based
  * operators (minhash signatures, simhash, fingerprints) become fully
  * oracle-checkable instead of rows-only.
  *
  * Codegen iterates code points (surrogate pairs count once), matching
  * DuckDB's per-character semantics on all planes.
  */
case class PolyHash(child: Expression, mult: Long) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"poly_hash requires a string input, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    PolyHash.hash(input.asInstanceOf[UTF8String].toString, mult)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PolyHash.hash($c.toString(), ${mult}L)")

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}

object PolyHash {
  val P: Long = 1000000007L

  /** The portable kernel — also called from generated code. */
  def hash(s: String, mult: Long): Long = {
    var acc = 0L
    var i = 0
    val n = s.length
    while (i < n) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      acc = (acc * mult + cp) % P
    }
    acc
  }

  def apply(c: Column, mult: Long = 31L): Column = call_function("poly_hash", c, lit(mult))

  /** The DuckDB mirror of this expression, for oracle SQL builders. */
  def duckdbSql(expr: String, mult: Long = 31L): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(range(1, length($expr)+1),
       |    i -> CAST(ascii(substring($expr, i, 1)) AS BIGINT))),
       |  (acc, x) -> (acc*$mult + x) % ${P})""".stripMargin
}

/** SparkSessionExtensions hook registering graft's native expressions —
  * installed by [[graft.Session]] via `.withExtensions`, the supported
  * public path for custom Catalyst expressions (also usable by external
  * applications through `spark.sql.extensions`).
  */
object GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (children: Seq[Expression]) => VecDot(children.head, children(1))))
    ext.injectFunction((
      FunctionIdentifier("poly_hash"),
      new ExpressionInfo(classOf[PolyHash].getName, "poly_hash"),
      (children: Seq[Expression]) => {
        // mult is baked into the generated code as a constant — a column
        // reference here would silently hash with a garbage multiplier, so
        // reject non-foldable arguments at analysis time (ADVICE r2).
        if (children.length > 1 && !children(1).foldable)
          throw new org.apache.spark.sql.AnalysisException(
            errorClass = "DATATYPE_MISMATCH.NON_FOLDABLE_INPUT",
            messageParameters = Map(
              "sqlExpr" -> "poly_hash(expr, mult)",
              "inputName" -> "`mult`", "inputType" -> "\"BIGINT\"",
              "inputExpr" -> children(1).sql))
        PolyHash(
          children.head,
          children(1).eval(null).asInstanceOf[Number].longValue())
      }))
    ext.injectFunction((
      FunctionIdentifier("st_contains"),
      new ExpressionInfo(classOf[GeoContains].getName, "st_contains"),
      (children: Seq[Expression]) => {
        // ring geometry arrives as three foldable array literals and is
        // baked into the expression as primitive arrays (plan constants)
        if (!children.drop(2).forall(_.foldable))
          throw new org.apache.spark.sql.AnalysisException(
            errorClass = "DATATYPE_MISMATCH.NON_FOLDABLE_INPUT",
            messageParameters = Map(
              "sqlExpr" -> "st_contains(lon, lat, xs, ys, starts)",
              "inputName" -> "`xs`/`ys`/`starts`", "inputType" -> "\"ARRAY\"",
              "inputExpr" -> children.drop(2).map(_.sql).mkString(", ")))
        val xs = children(2).eval(null).asInstanceOf[ArrayData].toDoubleArray()
        val ys = children(3).eval(null).asInstanceOf[ArrayData].toDoubleArray()
        val starts = children(4).eval(null).asInstanceOf[ArrayData].toIntArray()
        GeoContains(children.head, children(1), xs, ys, starts)
      }))
    ext.injectFunction((
      FunctionIdentifier("damerau_levenshtein"),
      new ExpressionInfo(classOf[DamerauLevenshtein].getName, "damerau_levenshtein"),
      (children: Seq[Expression]) => DamerauLevenshtein(children.head, children(1))))
    ext.injectFunction((
      FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
      (children: Seq[Expression]) => JaroWinkler(children.head, children(1))))
    ext.injectFunction((
      FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (children: Seq[Expression]) => NfcNormalize(children.head)))
    // containment ⇒ bbox: inject the pushable range prefilter (P2∘P3),
    // and run the ray cast after the cheap conjuncts
    ext.injectOptimizerRule(_ => GeoBboxPushdown)
    // `time` predicates prune the grid store's year/month partitions
    ext.injectOptimizerRule(_ => MonthPartitionPruning)
  }
}

/** Zero-arg class form for config-based installation in external
  * applications: `--conf spark.sql.extensions=graft.functions.GraftSqlExtensions`.
  */
class GraftSqlExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = GraftExtensions(ext)
}
