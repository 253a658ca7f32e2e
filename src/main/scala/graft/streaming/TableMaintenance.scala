package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import HiveBatchSink.{hours, withDirKeys, withHourKeys}

/** Row-level maintenance of the sealed table — delete and upsert as
  * partition-scoped rewrites.
  *
  * Parquet has no in-place mutation, so the unit of change is the (dt,
  * hr) partition: find the partitions that contain matching rows, rewrite
  * ONLY those with dynamic partition overwrite, leave every other
  * partition's files untouched. At 100 TB the cost is proportional to the
  * data in the affected hours, not the table: a GDPR erasure hitting one
  * user's three active days rewrites ~72 partitions out of tens of
  * thousands. The discovery scan benefits from partition pruning when the
  * predicate constrains dt/hr, and composes with the zone-map side table
  * ([[graft.sources.ZoneMap]]) to skip partitions by value ranges before
  * any data is read.
  *
  * Only columnar seal formats: a `text`-sealed table holds serialized
  * lines, and row-level predicates belong on the parsed form.
  */
object TableMaintenance {

  final case class MaintenanceStats(
      affected: Seq[(String, String)],
      rowsRemoved: Long,
      rowsWritten: Long)

  /** Delete rows matching `predicate` (SQL DELETE semantics: a NULL
    * predicate keeps the row). Partitions left empty are removed
    * entirely; rewritten partitions keep their done marker.
    *
    * With `changeLog`, the removed rows are captured as a CDC feed
    * BEFORE the rewrite (op='delete', partitioned by change batch) —
    * downstream mirrors replay the feed instead of re-diffing the
    * table. Costs one extra scan of the affected slices only. */
  def deleteWhere(
      spark: SparkSession,
      sink: HiveBatchSink,
      predicate: Column,
      changeLog: Option[(String, Long)] = None): MaintenanceStats = {
    val table = readForRewrite(spark, sink)
    // discovery: matched + total rows per partition in one pruned scan —
    // output is O(affected partitions); total tells apart "rewrite" from
    // "the whole hour is gone" (dynamic overwrite can't express empty)
    val counts = table
      .groupBy("dt", "hr")
      .agg(
        count(when(coalesce(predicate, lit(false)), lit(1))).as("matched"),
        count(lit(1)).as("total"))
      .filter(col("matched") > 0)
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    if (counts.isEmpty) return MaintenanceStats(Seq.empty, 0L, 0L)
    val affected = counts.keySet.toSeq.sorted
    // NB: Map.collect returning a tuple would rebuild a Map keyed by dt
    // and silently collapse hours of the same day — filter + keySet
    val emptied: Set[(String, String)] = counts.filter { case (_, (m, tot)) => m == tot }.keySet
    // CDC capture must happen BEFORE the rewrite destroys the rows
    changeLog.foreach { case (path, changeId) =>
      recordChanges(path, changeId,
        sink.readHours(sink.tablePath, affected).filter(coalesce(predicate, lit(false))), "delete")
    }
    // build the survivor slice only when some partition keeps rows — a
    // zero-path read throws at construction
    val kept =
      if (affected.forall(emptied)) { removeAndRefresh(spark, sink, emptied); 0L }
      else {
        val survivors = sink.readHours(sink.tablePath, affected.filterNot(emptied))
          .filter(!coalesce(predicate, lit(false)))
        rewrite(spark, sink, survivors, affected, emptied)
      }
    MaintenanceStats(affected, counts.values.map(_._1).sum, kept)
  }

  /** Upsert `updates` (full-width rows) by `keyCols`: existing rows with
    * a matching key in the same time partition are replaced, the rest
    * inserted. Only partitions named by the updates' timestamps are
    * rewritten; keys are matched WITHIN a row's (dt, hr) partition — an
    * update that moves a row across hours inserts into the new hour and
    * must be paired with a [[deleteWhere]] of the old one. */
  def upsert(
      spark: SparkSession,
      sink: HiveBatchSink,
      updates: DataFrame,
      keyCols: Seq[String],
      changeLog: Option[(String, Long)] = None): MaintenanceStats = {
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    val keyed = withHourKeys(updates.filter(col("ts").isNotNull))
    val affected = keyed.select("dt", "hr").distinct()
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    if (affected.isEmpty) return MaintenanceStats(Seq.empty, 0L, 0L)
    val existingAffected = affected.intersect(
      hours(sink.fs, sink.tablePath, affected.map(_._1).distinct))
    val current =
      if (existingAffected.isEmpty) None
      else Some(sink.readHours(sink.tablePath, existingAffected))
    val replaced = current.fold(0L)(
      _.join(broadcast(keyed.select(keyCols.map(col): _*).distinct()), keyCols, "left_semi").count())
    // CDC: replaced old-versions as deletes, every update row as insert,
    // captured before the rewrite
    changeLog.foreach { case (path, changeId) =>
      current.foreach(c =>
        recordChanges(path, changeId,
          c.join(broadcast(keyed.select(keyCols.map(col): _*).distinct()), keyCols, "left_semi"),
          "delete"))
      recordChanges(path, changeId, keyed, "insert")
    }
    // survivors (anti-join on key) + every update row = the new content
    val merged = current.fold(keyed)(c =>
      c.join(broadcast(keyed.select(keyCols.map(col): _*).distinct()), keyCols, "left_anti")
        .unionByName(keyed))
    val written = rewrite(spark, sink, merged, affected)
    MaintenanceStats(affected, replaced, written)
  }

  /** Append one op-slice of the CDC feed: rows widened with `op`,
    * partitioned by (change_id, op) — a re-run of the same changeId
    * dynamically overwrites its own feed slice (idempotent like every
    * other write in the sink). */
  private[streaming] def recordChanges(path: String, changeId: Long, rows: DataFrame, op: String): Unit =
    rows
      .withColumn("change_id", lit(changeId))
      .withColumn("op", lit(op))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .partitionBy("change_id", "op")
      .parquet(path)

  /** The sealed table with zero-padded STRING dt/hr keys. */
  private def readForRewrite(spark: SparkSession, sink: HiveBatchSink): DataFrame = {
    require(sink.sealFormat != "text", "row-level maintenance needs a columnar seal format")
    withDirKeys(sink.readTable())
  }

  /** Dynamic-overwrite `content` into the affected partitions, remove
    * `emptied` dirs (dynamic overwrite only touches partitions present
    * in the new content, so a fully-emptied hour keeps its stale files
    * unless removed explicitly — same rule as Backfill's retracted-hour
    * prune), restore the done markers on the rest. Returns the written
    * row count (rides the write as observe()). */
  private def rewrite(
      spark: SparkSession,
      sink: HiveBatchSink,
      content: DataFrame,
      affected: Seq[(String, String)],
      emptied: Set[(String, String)] = Set.empty): Long = {
    val obs = org.apache.spark.sql.Observation()
    content
      .observe(obs, count(lit(1)).as("written"))
      .repartition(col("dt"), col("hr"))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .partitionBy("dt", "hr")
      .format(sink.sealFormat)
      .save(sink.tablePath)
    val written = obs.get("written").asInstanceOf[Long]
    sink.markSealed(affected.filterNot(emptied))
    removeAndRefresh(spark, sink, emptied)
    written
  }

  private def removeAndRefresh(spark: SparkSession, sink: HiveBatchSink, emptied: Set[(String, String)]): Unit = {
    sink.dropHours(sink.tablePath, emptied.toSeq)
    spark.catalog.refreshByPath(sink.tablePath)
  }
}
