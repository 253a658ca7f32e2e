package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, ExprId, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan, Union}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Column-level lineage from ANALYZED plans — which base-table columns
  * feed each output column of a query. The governance sibling of
  * [[MvAdvisor]]: same plan-metadata-only walk (nothing executes,
  * driver cost is bounded by plan size), answering the two questions
  * every pipeline owner asks — "if this source column changes, which
  * reports move?" and "where did this report column come from?".
  *
  * Mechanics: one bottom-up pass threading an `ExprId → {(table,
  * column)}` map. Scans seed each output attribute with its own
  * (table, name); every `Alias` above maps to the union of its
  * references' lineages (aggregates, arithmetic, CASE, window
  * functions all reduce to references), and so does each output of a
  * `Generate` (`explode`); pass-through attributes keep their child
  * entry; Union merges positionally. Filter/join
  * PREDICATE columns are deliberately excluded — this is value
  * lineage, the "which columns shaped the filter" question is a
  * different (coarser) report. */
object ColumnLineage {

  type Sources = Set[(String, String)]

  private def tableOf(lr: LogicalRelation): String = lr.relation match {
    case fs: HadoopFsRelation =>
      fs.location.rootPaths.headOption
        .map(_.getName.stripSuffix(".parquet")).getOrElse("<unknown>")
    case _ => "<unknown>"
  }

  /** Lineage map for every attribute the plan outputs. */
  def lineage(plan: LogicalPlan): Map[ExprId, Sources] = {
    val fromChildren: Map[ExprId, Sources] =
      plan.children.flatMap(lineage).toMap
    plan match {
      case lr: LogicalRelation =>
        val t = tableOf(lr)
        lr.output.map(a => a.exprId -> Set(t -> a.name)).toMap
      case u: Union =>
        // positional merge: output i derives from every child's column i.
        // The merged entries go LAST — Union reuses the first child's
        // exprIds, so child entries must not shadow the merge.
        fromChildren ++ u.output.zipWithIndex.map { case (out, i) =>
          out.exprId -> u.children.flatMap { c =>
            fromChildren.getOrElse(c.output(i).exprId, Set.empty)
          }.toSet
        }.toMap
      case g: Generate =>
        // a generator's outputs carry no Alias: each derives from its references
        val srcs = g.generator.references.toSeq.flatMap(r =>
          fromChildren.getOrElse(r.exprId, Set.empty)).toSet
        fromChildren ++ g.generatorOutput.map(_.exprId -> srcs)
      case _ =>
        // generic node: computed columns via their references,
        // pass-through attributes via the child map
        val computed = plan.expressions.flatMap(_.collect {
          case a: Alias =>
            a.exprId -> a.references.toSeq.flatMap(r =>
              fromChildren.getOrElse(r.exprId, Set.empty)).toSet
        })
        fromChildren ++ computed
    }
  }

  /** Lineage of a DataFrame's visible output columns. */
  def of(df: DataFrame): Seq[(String, Sources)] = {
    val plan = df.queryExecution.analyzed
    val m = lineage(plan)
    plan.output.map(a => a.name -> m.getOrElse(a.exprId, Set.empty))
  }

  /** q227 driver entry: the lineage report for the same pinned workload
    * slice the MV advisor audits — one row per (query, output column)
    * with its sorted source-column list. */
  def report(spark: SparkSession, sfDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame]): DataFrame = {
    import spark.implicits._
    queries.view.filterKeys(MvAdvisor.WorkloadSlice.contains).toSeq
      .sortBy(_._1)
      .flatMap { case (name, fn) =>
        of(fn(spark, sfDir)).map { case (out, srcs) =>
          (name, out,
            srcs.toSeq.map { case (t, c) => s"$t.$c" }.sorted.mkString(","))
        }
      }
      .toDF("query", "out_column", "sources")
      .orderBy("query", "out_column")
  }
}
