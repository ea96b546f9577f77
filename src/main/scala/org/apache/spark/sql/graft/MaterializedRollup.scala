package org.apache.spark.sql.graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Cast, Coalesce, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}

/**
 * Materialized-rollup query rewrite — the classic OLAP materialized-view
 * optimization (Gupta & Mumick, "Maintenance of Materialized Views", IEEE
 * Data Eng. Bull. 1995; the summary-table rewrite every warehouse ships) as
 * a Catalyst [[Rule]] on the `spark.experimental.extraOptimizations` hook
 * (the optimizer-rule rung of the extension ladder, next to
 * [[AsOfJoinNode]]'s strategy rung).
 *
 * [[MaterializedRollup.create]] writes a rollup parquet: fact grouped by
 * `dims` with COUNT plus SUM/MIN/MAX partials per measure. The rewrite then
 * intercepts any optimized `Aggregate` over the REGISTERED FACT SCAN whose
 * grouping is a subset of `dims` and whose aggregates are re-derivable from
 * the partials, and re-roots it onto the rollup table:
 *
 *   count(*)/count(lit)  ->  coalesce(sum(__cnt), 0)   (never-null like count)
 *   sum(m)               ->  sum(__sum_m)
 *   min(m) / max(m)      ->  min(__min_m) / max(__max_m)
 *
 * each cast back to the original aggregate's data type (sum-of-sum widens
 * decimal precision) and re-aliased UNDER THE ORIGINAL exprIds, so every
 * parent operator's references survive untouched. A `Filter` between the
 * aggregate and the scan is rewritten too when it references only dims
 * (dimension predicates partition-align with the rollup); anything else —
 * measure filters, distinct aggregates, agg filters, expressions the
 * partials can't answer — leaves the plan alone. Correctness therefore
 * never depends on the rule firing; firing only swaps the scan.
 *
 * Scale shape: this is the 100 TB answer to repeated dashboard-style
 * aggregates — the fact table is read once at rollup-build time and every
 * matching query afterwards scans |group-domain| rows instead of the fact.
 * DECIMAL sums keep the rewrite bit-exact (IEEE double sums would differ by
 * re-association; the gate query rides the house decimal discipline).
 * Rollup maintenance composes with [[graft.operators.Ingest.mergeAggState]]
 * (incremental agg maintenance, q257) — partials are mergeable by
 * construction.
 */
object MaterializedRollup {

  /** Registered rollup: fact path -> (rollup path, dims, measures as
    * (name, shape-normalized expression) — see [[shape]]). */
  final case class RollupSpec(
      factPath: String,
      rollupPath: String,
      dims: Seq[String],
      measures: Seq[(String, Expression)])

  // fact path (URI path, scheme-stripped) -> spec; JVM-global like the
  // Bench/Verify single-session lifecycle assumes
  private val registry = new ConcurrentHashMap[String, RollupSpec]()

  private def canonical(p: String): String = new Path(p).toUri.getPath

  /** Structural form of a measure expression with exprIds erased, so the
    * registered measure and the query's inline copy (freshly analyzed from
    * the same source, hence different ids) compare equal by case-class
    * equality. A measure is matched iff the aggregated expression has the
    * SAME shape — `sum(cast(l_quantity as decimal(12,2)))` matches exactly
    * that, never a differently-typed cast. */
  private[graft] def shape(e: Expression): Expression = e.transform {
    case ar: AttributeReference =>
      AttributeReference(ar.name, ar.dataType, ar.nullable)(
        exprId = org.apache.spark.sql.catalyst.expressions.ExprId(0),
        qualifier = Nil)
  }

  /**
   * Build + write the rollup parquet and register it for rewrite.
   * `measures` are (name, expression) pairs — the expression is what user
   * queries aggregate, e.g. `"qty" -> col("l_quantity").cast("decimal(12,2)")`
   * (the house decimal discipline keeps sum rewrites bit-exact; raw double
   * sums re-associate and may drift an ulp).
   */
  def create(
      spark: SparkSession,
      factPath: String,
      rollupPath: String,
      dims: Seq[String],
      measures: Seq[(String, org.apache.spark.sql.Column)]): RollupSpec = {
    require(dims.nonEmpty, "rollup needs at least one dimension")
    val names = measures.map(_._1)
    require(names.distinct.size == names.size, s"duplicate measure names in $names")
    val fact = _root_.graft.io.ParquetIO.read(spark, factPath)
    val aggs = Seq(count(lit(1)).as("__cnt")) ++ measures.flatMap { case (n, c) =>
      Seq(sum(c).as(s"__sum_$n"), min(c).as(s"__min_$n"), max(c).as(s"__max_$n"))
    }
    fact.groupBy(dims.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .write.mode("overwrite").parquet(rollupPath)
    // resolve each measure against the fact to capture its shape
    val resolved = fact.select(measures.map { case (n, c) => c.as(n) }: _*)
      .queryExecution.analyzed.expressions.collect {
        case Alias(childExpr, n) => n -> shape(childExpr)
        case ar: AttributeReference => ar.name -> shape(ar)
      }
    val spec = RollupSpec(canonical(factPath), rollupPath, dims, resolved)
    registry.put(spec.factPath, spec)
    enable(spark)
    spec
  }

  /** Drop a registration (spec cleanup in tests). */
  def unregister(factPath: String): Unit = { registry.remove(canonical(factPath)); () }

  /** Install the rewrite rule once on this session's optimizer hook. */
  def enable(spark: SparkSession): Unit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    if (!cs.experimental.extraOptimizations.exists(_.isInstanceOf[RollupRewrite]))
      cs.experimental.extraOptimizations =
        cs.experimental.extraOptimizations :+ RollupRewrite(cs)
  }

  private[graft] def specFor(rootPaths: Seq[String]): Option[RollupSpec] =
    rootPaths match {
      case Seq(only) => Option(registry.get(canonical(only)))
      case _ => None
    }
}

/** The rewrite rule; see [[MaterializedRollup]]. */
case class RollupRewrite(session: classic.SparkSession) extends Rule[LogicalPlan] {
  import MaterializedRollup.RollupSpec

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(groupExprs, resultExprs, child, _) =>
      rewrite(agg, groupExprs, resultExprs, child).getOrElse(agg)
  }

  /** The fact scan under the aggregate, looking through Filters and
    * pruning Projects; yields (spec, collected filter conditions). The
    * caller validates the filters against the SPEC's dims — a filter on a
    * non-grouped dimension (q288's linestatus predicate) is still
    * rollup-answerable. */
  private def scanOf(plan: LogicalPlan): Option[(RollupSpec, Seq[Expression])] =
    plan match {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          MaterializedRollup.specFor(fs.location.rootPaths.map(_.toString))
            .map(s => (s, Nil))
        case _ => None
      }
      case Project(projList, inner) if projList.forall(_.isInstanceOf[AttributeReference]) =>
        scanOf(inner)
      case Filter(cond, inner) =>
        scanOf(inner).map { case (s, fs) => (s, cond +: fs) }
      case _ => None
    }

  private def rewrite(
      agg: Aggregate,
      groupExprs: Seq[Expression],
      resultExprs: Seq[NamedExpression],
      child: LogicalPlan): Option[LogicalPlan] = {
    // grouping must be bare dim columns
    val groupAttrs = groupExprs.map {
      case ar: AttributeReference => ar
      case _ => return None
    }
    val dimNames = groupAttrs.map(_.name).toSet
    val (spec, filters) = scanOf(child) match {
      case Some(hit) => hit
      case None => return None
    }
    if (!groupAttrs.forall(a => spec.dims.contains(a.name))) return None
    // every filter must be answerable on the rollup: dim references only
    // (a measure predicate needs fact rows and blocks the rewrite), and
    // deterministic — a rand() predicate samples fact ROWS; re-evaluating
    // it over rollup GROUPS would change the distribution entirely
    if (!filters.forall(f => f.deterministic &&
      f.references.forall(a => spec.dims.contains(a.name)))) return None
    val dimFilter: Option[Expression] = filters.reduceOption(
      org.apache.spark.sql.catalyst.expressions.And(_, _))

    // fresh analyzed scan of the rollup table (fresh exprIds per rewrite)
    val rollupPlan = _root_.graft.io.ParquetIO.read(session, spec.rollupPath)
      .queryExecution.analyzed
    val byName = rollupPlan.output.map(a => a.name -> a).toMap

    def partial(prefix: String, e: Expression): Option[AttributeReference] = {
      val s = MaterializedRollup.shape(e)
      spec.measures.collectFirst { case (n, ms) if ms == s => n }
        .flatMap(n => byName.get(s"__${prefix}_$n")).collect {
          case ar: AttributeReference => ar
        }
    }

    def mergedAgg(fnArg: Expression): Option[Expression] = fnArg match {
      case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
        val merged: Option[Expression] = ae.aggregateFunction match {
          // non-null literal only: count(NULL) must return 0 per group,
          // not the group row count — leave it to the base-table plan
          case Count(Seq(Literal(v, _))) if v != null =>
            // count over groups is >= 1 and count over empty input is 0:
            // coalesce keeps the rewrite's nullability identical to Count's
            Some(Coalesce(Seq(
              AggregateExpression(Sum(byName("__cnt")), Complete, isDistinct = false),
              Literal(0L))))
          case Sum(e, _) =>
            partial("sum", e).map(p =>
              AggregateExpression(Sum(p), Complete, isDistinct = false))
          case Min(e) =>
            partial("min", e).map(p =>
              AggregateExpression(Min(p), Complete, isDistinct = false))
          case Max(e) =>
            partial("max", e).map(p =>
              AggregateExpression(Max(p), Complete, isDistinct = false))
          case _ => None
        }
        merged.map(m => if (m.dataType == ae.dataType) m else Cast(m, ae.dataType))
      case _ => None
    }

    val newResult: Seq[NamedExpression] = resultExprs.map {
      case ar: AttributeReference if dimNames.contains(ar.name) =>
        Alias(byName(ar.name), ar.name)(exprId = ar.exprId)
      case al @ Alias(inner, name) =>
        val rewritten: Option[Expression] = inner match {
          case c @ Cast(fnArg, t, _, _) => mergedAgg(fnArg).map(e => Cast(e, t, c.timeZoneId))
          case other => mergedAgg(other)
        }
        rewritten match {
          case Some(e) => Alias(e, name)(exprId = al.exprId)
          case None => return None
        }
      case _ => return None
    }

    val newGrouping = groupAttrs.map(a => byName(a.name))
    val filtered = dimFilter match {
      case Some(cond) =>
        Filter(cond.transform { case ar: AttributeReference => byName(ar.name) }, rollupPlan)
      case None => rollupPlan
    }
    Some(Aggregate(newGrouping, newResult, filtered))
  }
}
