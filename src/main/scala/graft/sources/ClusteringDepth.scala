package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.PortableRound.round

/** q393: file CLUSTERING-DEPTH report — "is the table clustered on
  * this key, and how much does a point lookup pay?". For a sort key:
  * per-file [min, max] ranges (one scan, min/max are
  * map-side-combinable), then a boundary SWEEP — at each file's open
  * boundary, the running open−close sum IS the number of file ranges
  * covering it (its stabbing depth). A perfectly clustered table has
  * depth 1 everywhere (a point lookup reads one file); a shuffled
  * table has depth ≈ #files (every lookup reads everything).
  *
  * Scale shape: the sweep window is over 2·#files METADATA rows —
  * file-count-sized, never data-sized; the only data-sized work is the
  * min/max scan. */
object ClusteringDepth {

  def report(spark: SparkSession, dir: String, column: String): DataFrame = {
    val df = spark.read.parquet(dir)
    // NTZ timestamps can't cast straight to double; hop through
    // TimestampType (the session is pinned UTC — value-preserving)
    val key = df.schema(column).dataType match {
      case org.apache.spark.sql.types.TimestampNTZType |
           org.apache.spark.sql.types.TimestampType =>
        col(column).cast("timestamp").cast("double")
      case _ => col(column).cast("double")
    }
    val files = df
      .groupBy(input_file_name().as("f"))
      .agg(
        min(key).as("lo"),
        max(key).as("hi"),
        count(lit(1)).as("n_rows"))
    val opens = files.select(col("f"), col("lo").as("x"), lit(1L).as("d"), lit(1).as("tp"))
    val closes = files.select(col("f"), col("hi").as("x"), lit(-1L).as("d"), lit(2).as("tp"))
    // opens sort before closes at equal x: touching ranges count as
    // overlapping (a lookup at the shared boundary reads both files)
    val sweep = opens.unionByName(closes)
      .withColumn("depth", sum("d").over(
        Window.orderBy(col("x"), col("tp"), col("f"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val depths = sweep.filter(col("tp") === 1).select(col("f"), col("depth"))
    // expected stabbing depth of a UNIFORM random point = Σ range
    // lengths / global span (the honest point-lookup cost: identical
    // full-span files score #files; disjoint ranges score ~1) — the
    // open-boundary depth alone undercounts coincident ranges
    val totals = files.agg(
      sum("n_rows").as("n_rows"),
      sum(col("hi") - col("lo")).as("len_sum"),
      (max("hi") - min("lo")).as("span"))
    depths
      .agg(
        count(lit(1)).as("n_files"),
        round(avg("depth"), 4).as("avg_open_depth"),
        max("depth").as("max_depth"),
        round(sum(when(col("depth") === 1, 1L).otherwise(0L))
          / count(lit(1)).cast("double"), 4).as("share_depth1"))
      .crossJoin(broadcast(totals)) // 1-row scalar
      .withColumn("expected_stab",
        when(col("span") > 0.0, round(col("len_sum") / col("span"), 4)))
      .select(
        col("n_files"), col("n_rows"),
        col("avg_open_depth"), col("max_depth"), col("share_depth1"),
        col("expected_stab"),
        // expected fraction of files a random point lookup must read
        round(when(col("span") > 0.0,
          col("len_sum") / col("span") / col("n_files")), 4).as("point_scan_share"))
  }

  /** q396: SORT-KEY ADVISOR — measure, don't guess, which candidate
    * column the table is (or should be) clustered on: one [[report]]
    * per candidate (bounded list — one min/max scan each), ranked by
    * the point-scan share ascending. The top row is the column whose
    * current layout already prunes best; a flat column ranking near
    * 1.0 everywhere says no candidate's layout lets file min/max
    * statistics skip files for a point lookup. */
  def sortAdvisor(spark: SparkSession, dir: String, columns: Seq[String]): DataFrame =
    columns
      .map(c => report(spark, dir, c).withColumn("column", lit(c)))
      .reduce(_ unionByName _)
      .select(col("column"), col("n_files"), col("avg_open_depth"),
        col("max_depth"), col("expected_stab"), col("point_scan_share"))
      // a degenerate single-value candidate (span = 0) has a NULL share —
      // it carries no clustering signal, so it must rank LAST, not win
      // the advisory under Spark's nulls-first asc default
      .orderBy(asc_nulls_last("point_scan_share"), asc("column"))
}
