package graft.agg

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Complete, Count, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.GENERATE
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}

/**
 * Feeds a token array straight to the keyed sketch aggregates instead
 * of exploding it into one row per token:
 *
 * {{{
 *   Aggregate(g, [bloom_agg(cast(e as string)), hll_agg(e), count(1)])
 *     <- [Project(attributes)] <- Generate(explode(arr), outer = false, [e]) <- child
 * becomes
 *   Aggregate(g, [bloom_agg(arr), hll_agg(arr), coalesce(sum(cast(size(arr) as bigint)), 0)])
 *     <- Filter(size(arr) > 0) <- child
 * }}}
 *
 * [[KeyedSketchAgg]] walks the array in explode order, skips null
 * elements as it skips null keys, and keys integers by the digits the
 * cast would write, so every sketch is byte-identical. The filter keeps
 * a group whose arrays are all null or empty absent, as explode does.
 *
 * The plan is left alone unless `arr` is a column (a computed array,
 * `explode(split(text, ' '))`, would be evaluated once by the filter and
 * again by every aggregate), every aggregate is a keyed sketch of the
 * element (or of its cast to string) or a `count` of a literal, none is
 * DISTINCT or FILTERed, and the element appears nowhere else: anything
 * more sees one row per token. Streaming aggregates are left alone too:
 * the rewrite changes the aggregation's state schema, so a checkpoint
 * written without the rule would not match one written with it. The
 * rewritten plan has no Generate, so the rule is idempotent.
 */
object SketchOverExplode extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsPattern(GENERATE)) {
      case agg: Aggregate if !agg.isStreaming => fuse(agg).getOrElse(agg)
    }

  private def fuse(agg: Aggregate): Option[LogicalPlan] = {
    val gen = agg.child match {
      case g: Generate => g
      case Project(list, g: Generate) if list.forall(_.isInstanceOf[Attribute]) => g
      case _ => return None
    }
    val arr = gen.generator match {
      case Explode(a: Attribute) if !gen.outer && (a.dataType match {
        case ArrayType(et, _) => KeyedSketchAgg.isKeyElement(et)
        case _ => false
      }) => a
      case _ => return None
    }
    val elem = gen.generatorOutput.head
    def size = Size(arr, legacySizeOfNull = false)
    def isElem(e: Expression): Boolean = e match {
      case a: Attribute => a.exprId == elem.exprId && a.dataType.isInstanceOf[StringType]
      case Cast(a: Attribute, _: StringType, _, _) => a.exprId == elem.exprId
      case _ => false
    }

    var fusable = true
    var sketches = 0
    val aggs = agg.aggregateExpressions.map(_.transformUp {
      case ae @ AggregateExpression(f, Complete, false, None, _) => f match {
        case k: KeyedSketchAgg[_] if isElem(k.child) =>
          sketches += 1
          ae.copy(aggregateFunction = k.withNewChildren(Seq(arr)).asInstanceOf[AggregateFunction])
        case Count(Seq(l: Literal)) if l.value != null =>
          Coalesce(Seq(
            AggregateExpression(Sum(Cast(size, LongType)), Complete, isDistinct = false),
            Literal(0L)))
        case _ => fusable = false; ae
      }
      case ae: AggregateExpression => fusable = false; ae
    }.asInstanceOf[NamedExpression])
    val elemStillUsed = (agg.groupingExpressions ++ aggs).exists(_.references.contains(elem))
    if (!fusable || sketches == 0 || elemStillUsed) None
    else Some(agg.copy(aggregateExpressions = aggs,
      child = Filter(GreaterThan(size, Literal(0)), gen.child)))
  }
}
