package graft.functions

import org.apache.spark.sql.catalyst.expressions.{And, Attribute, BinaryComparison, Cast, EqualTo, Expression, ExpressionSet, Literal, Month, PredicateHelper, Year}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DataType, DateType, IntegerType, StructType, TimestampNTZType}

/** Optimizer rule: `time` predicates prune the grid store's `year`/`month`
  * partitions. The store written by [[graft.operators.Raster.withMonthKeys]]
  * keeps `year = year(time)` and `month = month(time)` with `time` a
  * timestamp_ntz, but Catalyst only prunes on predicates over the partition
  * columns themselves, so a month slice (`time = t`) or a climatology scan
  * (`year(time) between a and b`, `month(time) = m`) would read every
  * partition of its variable. For a `Filter` directly over a file relation
  * whose partition schema has integer `year` and `month` and whose data
  * schema has a timestamp_ntz `time`, each conjunct
  *   - `time = t` adds `year = year(t) AND month = month(t)`;
  *   - `year(time) <cmp> c` adds `year <cmp> c`;
  *   - `month(time) <cmp> c` adds `month <cmp> c`,
  * which `FileSourceStrategy` turns into `PartitionFilters`. The partition
  * columns need not survive the query's projection: the filter sits on the
  * relation, whose output still has them. Every original conjunct stays, so
  * the rule only narrows what is read, never what is kept; conjuncts already
  * present are not added again, so the optimizer's fixpoint terminates.
  * Only NTZ: `year()` of a session-zoned timestamp depends on the zone.
  */
object MonthPartitionPruning extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, rel: LogicalRelation) =>
      keys(rel).fold(f: LogicalPlan) { case (time, year, month) =>
        val conjuncts = splitConjunctivePredicates(cond)
        val missing = ExpressionSet(conjuncts.flatMap(derive(time, year, month))) -- conjuncts
        if (missing.isEmpty) f else Filter((conjuncts ++ missing).reduce(And), rel)
      }
  }

  /** `(time, year, month)` of a relation with the store's layout. */
  private def keys(rel: LogicalRelation): Option[(Attribute, Attribute, Attribute)] =
    rel.relation match {
      case fs: HadoopFsRelation =>
        def column(schema: StructType, name: String, dt: DataType) =
          schema.find(f => conf.resolver(f.name, name) && f.dataType == dt)
            .flatMap(f => rel.output.find(a => conf.resolver(a.name, f.name)))
        for {
          time <- column(fs.dataSchema, "time", TimestampNTZType)
          year <- column(fs.partitionSchema, "year", IntegerType)
          month <- column(fs.partitionSchema, "month", IntegerType)
        } yield (time, year, month)
      case _ => None
    }

  private def derive(time: Attribute, year: Attribute, month: Attribute)
                    (e: Expression): Seq[Expression] = {
    // `year(time)` analyzes to `year(cast(time as date))`
    def partitionOf(x: Expression): Option[Attribute] = x match {
      case Year(c: Cast) if c.dataType == DateType && c.child.semanticEquals(time) => Some(year)
      case Month(c: Cast) if c.dataType == DateType && c.child.semanticEquals(time) => Some(month)
      case _ => None
    }
    def monthOf(micros: Long): Seq[Expression] = {
      val t = DateTimeUtils.microsToLocalDateTime(micros)
      Seq(EqualTo(year, Literal(t.getYear)), EqualTo(month, Literal(t.getMonthValue)))
    }
    e match {
      case EqualTo(t, Literal(micros: Long, TimestampNTZType)) if t.semanticEquals(time) =>
        monthOf(micros)
      case EqualTo(Literal(micros: Long, TimestampNTZType), t) if t.semanticEquals(time) =>
        monthOf(micros)
      case b: BinaryComparison =>
        (b.left, b.right) match {
          case (x, l: Literal) if l.dataType == IntegerType =>
            partitionOf(x).map(p => b.withNewChildren(Seq(p, l))).toSeq
          case (l: Literal, x) if l.dataType == IntegerType =>
            partitionOf(x).map(p => b.withNewChildren(Seq(l, p))).toSeq
          case _ => Nil
        }
      case _ => Nil
    }
  }
}
