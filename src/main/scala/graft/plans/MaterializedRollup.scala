package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}
import org.apache.spark.sql.types.DoubleType

/** Materialized rollup views with automatic query rewrite — the classic
  * OLAP accelerator: a pre-aggregated table answers any aggregate that
  * groups by a SUBSET of its keys, because sum/count/min/max re-merge
  * loss-free over the finer grain. At 100 TB the fact table is scanned
  * once at build time; every routed query afterwards reads kilobytes.
  *
  * Spark-first mechanics: the rollup itself is an ordinary partial-agg
  * parquet table; the routing is a Catalyst `Rule[LogicalPlan]` appended
  * to `experimental.extraOptimizations` that pattern-matches
  * `Aggregate [subset keys] (Filter?) (Project?) Scan(source)` and
  * substitutes a scan of the rollup with re-merged aggregate functions:
  *
  *   count(1)  → sum(cnt)            sum(x) → sum(sum_x)
  *   min(x)    → min(min_x)          max(x) → max(max_x)
  *   avg(x)    → sum(sum_x) / cast(sum(cnt) as double)
  *
  * Output attribute ids of the original Aggregate are preserved on the
  * rewritten aliases, so parents of the node never notice the swap.
  * Filters are routed only when they reference group keys alone (a
  * measure predicate needs the raw rows). Anything the rule can't
  * prove — distinct aggregates, filtered aggregates, unsupported
  * functions, non-key filters — falls through untouched and runs
  * against the source, so enabling a view is always semantics-safe.
  */
object MaterializedRollup {

  /** A registered rollup: `sourcePath` fact table pre-aggregated by
    * `groupCols` with per-measure sum/min/max (+ always a `cnt`). */
  final case class View(sourcePath: String, groupCols: Seq[String], measureCols: Seq[String], path: String)

  /** Build (or rebuild) the rollup table — one shuffle over the fact
    * table at the view's grain. */
  def build(spark: SparkSession, v: View): Unit = {
    val src  = spark.read.parquet(v.sourcePath)
    val aggs = count(lit(1)).as("cnt") +:
      v.measureCols.flatMap(m =>
        Seq(sum(col(m)).as(s"sum_$m"), min(col(m)).as(s"min_$m"), max(col(m)).as(s"max_$m")))
    src.groupBy(v.groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .write.mode("overwrite").parquet(v.path)
  }

  /** Route matching aggregates over `v.sourcePath` to the rollup. */
  final class RewriteRule(spark: SparkSession, val view: View) extends Rule[LogicalPlan] {

    private def v: View = view

    private def pathOf(s: String): String = new Path(s).toUri.getPath

    private def isSource(plan: LogicalPlan): Boolean = plan match {
      case lr: LogicalRelation =>
        lr.relation match {
          case fs: HadoopFsRelation =>
            fs.location.rootPaths.exists(p => pathOf(p.toString) == pathOf(v.sourcePath))
          case _ => false
        }
      case _ => false
    }

    /** Unwrap `(Filter?) (Project[attrs]?) Scan(source)`. */
    private def unwrap(plan: LogicalPlan): Option[Option[Expression]] = plan match {
      case p if isSource(p) => Some(None)
      case Project(pl, inner) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        unwrap(inner)
      case Filter(cond, inner) =>
        unwrap(inner).flatMap {
          case None => Some(Some(cond))
          case _    => None // one filter level is all the pattern promises
        }
      case _ => None
    }

    private def keyOnly(e: Expression): Boolean =
      e.references.forall(a => v.groupCols.contains(a.name))

    private def supported(fn: AggregateFunction): Boolean = fn match {
      case Count(Seq(_: Literal))    => true
      case Sum(a: AttributeReference, _)     => v.measureCols.contains(a.name)
      case Min(a: AttributeReference)        => v.measureCols.contains(a.name)
      case Max(a: AttributeReference)        => v.measureCols.contains(a.name)
      case Average(a: AttributeReference, _) => v.measureCols.contains(a.name)
      case _ => false
    }

    private def rewritable(agg: Aggregate): Boolean =
      agg.groupingExpressions.forall {
        case a: AttributeReference => v.groupCols.contains(a.name)
        case _                     => false
      } &&
        agg.aggregateExpressions.forall {
          case a: AttributeReference => v.groupCols.contains(a.name)
          case Alias(a: AttributeReference, _) => v.groupCols.contains(a.name)
          case Alias(ae: AggregateExpression, _) =>
            !ae.isDistinct && ae.filter.isEmpty && supported(ae.aggregateFunction)
          case _ => false
        }

    override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
      case agg: Aggregate if rewritable(agg) =>
        unwrap(agg.child) match {
          case Some(filterOpt) if filterOpt.forall(keyOnly) =>
            rewrite(agg, filterOpt)
          case _ => agg
        }
    }

    private def rewrite(agg: Aggregate, filterOpt: Option[Expression]): LogicalPlan = {
      // fresh attribute ids per rewrite so two routed aggregates in one
      // query never share a relation's ids
      val mv = spark.read.parquet(v.path).queryExecution.analyzed match {
        case lr: LogicalRelation => lr.newInstance()
        case other               => other
      }
      val mvAttr: Map[String, Attribute] = mv.output.map(a => a.name -> a).toMap
      def remerged(fn: AggregateFunction): Expression = fn match {
        case Count(_)                  => Sum(mvAttr("cnt")).toAggregateExpression()
        case Sum(a: AttributeReference, _) => Sum(mvAttr(s"sum_${a.name}")).toAggregateExpression()
        case Min(a: AttributeReference)    => Min(mvAttr(s"min_${a.name}")).toAggregateExpression()
        case Max(a: AttributeReference)    => Max(mvAttr(s"max_${a.name}")).toAggregateExpression()
        case Average(a: AttributeReference, _) =>
          Divide(
            Cast(Sum(mvAttr(s"sum_${a.name}")).toAggregateExpression(), DoubleType),
            Cast(Sum(mvAttr("cnt")).toAggregateExpression(), DoubleType))
        case other => throw new IllegalStateException(s"unreachable: $other")
      }
      val newChild = filterOpt
        .map(cond => Filter(cond.transform { case a: AttributeReference => mvAttr(a.name) }, mv))
        .getOrElse(mv)
      val newGrouping = agg.groupingExpressions.map {
        case a: AttributeReference => mvAttr(a.name)
      }
      val newAggExprs: Seq[NamedExpression] = agg.aggregateExpressions.map {
        case a: AttributeReference           => Alias(mvAttr(a.name), a.name)(a.exprId)
        case al @ Alias(a: AttributeReference, n) => Alias(mvAttr(a.name), n)(al.exprId)
        case al @ Alias(ae: AggregateExpression, n) =>
          Alias(remerged(ae.aggregateFunction), n)(al.exprId)
        case other => throw new IllegalStateException(s"unreachable: $other")
      }
      Aggregate(newGrouping, newAggExprs, newChild)
    }
  }

  /** Incremental view maintenance — sync the rollup from a ROW-LEVEL
    * delta feed (`op` = insert | delete rows in the source schema: the
    * table-maintenance/retention CDC feeds) instead of rebuilding from the
    * fact table. Call AFTER the delta has been applied to the source
    * (the normal order: maintenance rewrites the table, captures the
    * feed, then downstream views sync from the feed).
    *
    * cnt and sum re-merge under both inserts and deletes (signed
    * deltas); min/max re-merge under inserts only — a delete may have
    * removed the extremal row — so exactly the delete-touched groups
    * are recomputed from the source through a key semi-join (pruned,
    * partition-scoped in spirit), and every other group never touches
    * the fact table. Groups whose count reaches zero are dropped.
    * Null-safe key matching keeps a NULL group key correct (q110's
    * rule). Cost: one pass over the DELTA + one pruned pass over
    * delete-touched groups — at 100 TB the difference between syncing
    * a view in seconds and re-scanning the table. */
  def maintainIncremental(spark: SparkSession, v: View, delta: DataFrame): Unit = {
    import org.apache.spark.sql.functions._
    val sign = when(col("op") === "insert", lit(1L)).otherwise(lit(-1L))
    val dAggs = sum(sign).as("d_cnt") +:
      (max(when(col("op") === "delete", 1).otherwise(0)).as("has_delete") +:
        v.measureCols.flatMap(m => Seq(
          sum(sign.cast(DoubleType) * col(m)).as(s"d_sum_$m"),
          min(when(col("op") === "insert", col(m))).as(s"d_min_$m"),
          max(when(col("op") === "insert", col(m))).as(s"d_max_$m"))))
    val d  = delta.groupBy(v.groupCols.map(col): _*).agg(dAggs.head, dAggs.tail: _*)
    val mv = spark.read.parquet(v.path)

    val cond = v.groupCols.map(k => mv(k) <=> d(k)).reduce(_ && _)
    val joined = mv.join(d, cond, "full_outer")
    val keyCols = v.groupCols.map(k => coalesce(mv(k), d(k)).as(k))
    val newCnt  = coalesce(mv("cnt"), lit(0L)) + coalesce(d("d_cnt"), lit(0L))

    def mergedMin(m: String) = coalesce(least(mv(s"min_$m"), d(s"d_min_$m")), mv(s"min_$m"), d(s"d_min_$m"))
    def mergedMax(m: String) = coalesce(greatest(mv(s"max_$m"), d(s"d_max_$m")), mv(s"max_$m"), d(s"d_max_$m"))
    val mergedCols = keyCols ++ (newCnt.as("cnt") +: v.measureCols.flatMap(m => Seq(
      (coalesce(mv(s"sum_$m"), lit(0.0)) + coalesce(d(s"d_sum_$m"), lit(0.0))).as(s"sum_$m"),
      mergedMin(m).as(s"min_$m"),
      mergedMax(m).as(s"max_$m"))))

    val touchedByDelete = coalesce(d("has_delete"), lit(0)) === 1
    val safe = joined.filter(!touchedByDelete && newCnt > 0).select(mergedCols: _*)

    // delete-touched, still-live groups: min/max are unprovable from the
    // delta — recompute exactly these groups from the source
    val recompKeys = joined.filter(touchedByDelete && newCnt > 0)
      .select(v.groupCols.map(k => coalesce(mv(k), d(k)).as(k)): _*)
    val srcAggs = count(lit(1)).as("cnt") +: v.measureCols.flatMap(m =>
      Seq(sum(col(m)).as(s"sum_$m"), min(col(m)).as(s"min_$m"), max(col(m)).as(s"max_$m")))
    val src = spark.read.parquet(v.sourcePath)
    val semiCond = v.groupCols.map(k => src(k) <=> recompKeys(k)).reduce(_ && _)
    val recomputed = src
      .join(recompKeys, semiCond, "left_semi")
      .groupBy(v.groupCols.map(col): _*)
      .agg(srcAggs.head, srcAggs.tail: _*)

    val result = safe.unionByName(recomputed).localCheckpoint(eager = true)
    result.write.mode("overwrite").parquet(v.path)
  }

  /** Register the routing rule for `v` on the session (idempotent). */
  def enable(spark: SparkSession, v: View): Unit = {
    val em      = spark.experimental
    val already = em.extraOptimizations.exists {
      case r: RewriteRule => r.view == v
      case _              => false
    }
    if (!already) em.extraOptimizations = em.extraOptimizations :+ new RewriteRule(spark, v)
  }

  /** Drop every routing rule for `path` (or all rollup rules). */
  def disable(spark: SparkSession, path: Option[String] = None): Unit = {
    val em = spark.experimental
    em.extraOptimizations = em.extraOptimizations.filterNot {
      case r: RewriteRule => path.forall(_ == r.view.path)
      case _              => false
    }
  }
}
