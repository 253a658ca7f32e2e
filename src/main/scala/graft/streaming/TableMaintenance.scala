package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
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
  * predicate constrains dt/hr.
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
    val hit = coalesce(predicate, lit(false))
    def hoursOf(parts: Seq[Seq[String]]) = parts.map { case Seq(dt, hr) => (dt, hr) }
    deletePartitions(sink.fs, sink.tablePath, readForRewrite(spark, sink), Seq("dt", "hr"), hit) { m =>
      // CDC capture must happen BEFORE the rewrite destroys the rows
      changeLog.foreach { case (path, changeId) =>
        recordChanges(path, changeId,
          sink.readHours(sink.tablePath, hoursOf(m.kept ++ m.emptied)).filter(hit), "delete")
      }
      // build the survivor slice only when some partition keeps rows — a
      // zero-path read throws at construction
      if (m.kept.isEmpty) 0L
      else rewrite(sink, sink.readHours(sink.tablePath, hoursOf(m.kept)).filter(!hit), hoursOf(m.kept))
    } match {
      case None => MaintenanceStats(Seq.empty, 0L, 0L)
      case Some((m, written)) =>
        spark.catalog.refreshByPath(sink.tablePath)
        MaintenanceStats(hoursOf(m.kept ++ m.emptied).sorted, m.rows, written)
    }
  }

  /** What a partition-scoped delete matched: the row count, and the
    * partitions (as `partCols` values) that keep rows and that it empties. */
  private[streaming] final case class Matched(rows: Long, kept: Seq[Seq[String]], emptied: Seq[Seq[String]])

  /** The discovery and clean-up of a partition-scoped delete on `df`, a
    * read of the directory `root` laid out by `partCols`; shared by
    * [[deleteWhere]] and [[Erasure]]'s staging and quarantine sweeps.
    * One aggregate finds each partition holding a row where `hit` is
    * true, with its matched and total counts — output is O(affected
    * partitions), and the total tells "rewrite" from "the whole
    * partition is gone". `rewrite` then writes the survivors of the
    * `kept` partitions. Dynamic overwrite cannot express an empty
    * partition, so the emptied ones' directories are deleted after it,
    * together with any parent they leave empty (a seal would otherwise
    * find an empty hour and publish it). None, with nothing changed,
    * when no row matches. */
  private[streaming] def deletePartitions[A](
      fs: FileSystem,
      root: String,
      df: DataFrame,
      partCols: Seq[String],
      hit: Column)(rewrite: Matched => A): Option[(Matched, A)] = {
    import scala.math.Ordering.Implicits.seqOrdering
    val counts = df
      .groupBy(partCols.map(col): _*)
      .agg(count(when(hit, lit(1))).as("matched"), count(lit(1)).as("total"))
      .filter(col("matched") > 0)
      .collect()
      .map(r => partCols.map(c => String.valueOf(r.getAs[Any](c)))
        -> (r.getAs[Long]("matched"), r.getAs[Long]("total")))
    if (counts.isEmpty) return None
    val (emptied, kept) = counts.partition { case (_, (m, t)) => m == t }
    val matched = Matched(counts.map(_._2._1).sum, kept.map(_._1).toSeq.sorted, emptied.map(_._1).toSeq.sorted)
    val out = rewrite(matched)
    matched.emptied.foreach { values =>
      val dir = new Path(root, partCols.zip(values).map { case (c, v) => s"$c=$v" }.mkString("/"))
      fs.delete(dir, true)
      Iterator.iterate(dir.getParent)(_.getParent).take(partCols.size - 1)
        .takeWhile(fs.listStatus(_).isEmpty).foreach(fs.delete(_, false))
    }
    Some((matched, out))
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
    val written = rewrite(sink, merged, affected)
    spark.catalog.refreshByPath(sink.tablePath)
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

  /** Write `content` over the `affected` partitions
    * ([[HiveBatchSink.overwriteHours]]) and restore their done markers,
    * which the overwrite clears. Returns the written row count (rides
    * the write as observe()). */
  private def rewrite(sink: HiveBatchSink, content: DataFrame, affected: Seq[(String, String)]): Long = {
    val obs = org.apache.spark.sql.Observation()
    sink.overwriteHours(content.observe(obs, count(lit(1)).as("written")))
    sink.markSealed(affected)
    obs.get("written").asInstanceOf[Long]
  }
}
