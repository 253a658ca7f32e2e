package graft.streaming

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Snapshot-isolated partition rewrites — compaction under CONCURRENT
  * readers.
  *
  * The in-place seal path ([[Compaction]]) dynamic-overwrites a partition
  * dir, deleting the old files at commit — correct for the stage→seal
  * handoff (nothing reads staging), but a reader that listed a *served*
  * partition moments before a rewrite fails mid-scan with
  * FileNotFoundException. Table formats (Iceberg, Delta) solve this with
  * immutable versioned file sets behind an atomically-swapped pointer;
  * this is the same idea at per-partition granularity with no table-format
  * dependency:
  *
  * {{{
  *   <partDir>/snap-000001/part-*.parquet   immutable snapshot file sets
  *   <partDir>/snap-000002/part-*.parquet
  *   <partDir>/_CURRENT                     one line: "snap-000002"
  * }}}
  *
  * A rewriter lays the NEW snapshot dir beside the live one (readers
  * never list the parent, so the extra dir is invisible), then swaps the
  * pointer with an atomic rename — readers resolve `_CURRENT` once at
  * plan time and from then on scan files that are immutable for the
  * snapshot's whole lifetime. Nothing is ever deleted by a rewrite:
  * superseded snapshots are reclaimed only by an explicit [[vacuum]],
  * whose call cadence IS the retention window for in-flight scans. A
  * crash between snapshot write and pointer swap leaves an orphan dir
  * that vacuum also reclaims — the pointer either moved or it didn't,
  * so readers are consistent through any failure.
  *
  * At 100 TB: the pointer file is one atomic rename per partition
  * rewrite, snapshots parallelize per-partition, and the rewrite itself
  * is the same one-shuffle job as [[Compaction]]. Writers (ingest,
  * compaction, vacuum) are serialized per-partition by a `_WRITER_LOCK`
  * file (atomic create-if-absent — no external lock service), so
  * concurrent maintenance jobs fail fast instead of corrupting a
  * snapshot dir or silently regressing the pointer; a crashed holder's
  * lock is broken after a TTL sized far above any single rewrite.
  */
object SnapshotStore {

  private val Current = "_CURRENT"
  private val Prefix  = "snap-"
  private val Lock    = "_WRITER_LOCK"

  /** A crashed holder's lock is considered stale and broken after this.
    * MUST exceed the longest write+swap a writer can take — breaking a
    * LIVE writer's lock reintroduces the same-name collision the lock
    * exists to prevent. 15 min covers any single-partition rewrite by
    * orders of magnitude (they are one-shuffle partition-sized jobs). */
  private[graft] val LockTtlMs: Long = 15 * 60 * 1000L

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Acquire the partition's WRITER lock — mutual exclusion for the
    * list-name → write → pointer-swap critical section. Without it, two
    * concurrent rewriters can (a) pick the same `snap-N` name and
    * interleave files in one dir (a corrupt snapshot) or (b) race the
    * `_CURRENT` swap so a just-committed ingest's pointer is overwritten
    * by a compaction of PRE-ingest data — silent row loss.
    *
    * Primitive: `FileSystem.create(path, overwrite = false)` — atomic
    * create-if-absent on HDFS and object stores with conditional-put
    * (documented caveat: RawLocalFileSystem's check-then-create is not
    * truly atomic; the spec exercises the protocol, HDFS supplies the
    * atomicity). Contention fails FAST with IllegalStateException — the
    * caller owns retry cadence; a maintenance job backing off and
    * retrying is correct, a writer silently queuing for minutes is not.
    * Crash recovery: a lock older than [[LockTtlMs]] is broken and
    * re-acquired (the one documented failure mode: a writer stalled
    * longer than the TTL mid-write can lose its lock and a second
    * writer may then race it — size the TTL so that cannot happen). */
  /** Atomic create-if-absent. Hadoop's local FileSystem implements
    * create(overwrite=false) as check-then-create (not atomic), so for
    * file:// the O_EXCL `File.createNewFile` is used instead — both
    * paths give a true either-I-created-it-or-I-didn't primitive. */
  private def tryCreateAtomic(f: org.apache.hadoop.fs.FileSystem, p: Path): Boolean = {
    val body = s"${java.util.UUID.randomUUID()} ${System.currentTimeMillis()}".getBytes("UTF-8")
    if (f.getScheme == "file") {
      val jf = new java.io.File(p.toUri.getPath)
      Option(jf.getParentFile).foreach(_.mkdirs())
      try {
        if (!jf.createNewFile()) false
        else {
          val out = new java.io.FileOutputStream(jf)
          try out.write(body) finally out.close()
          true
        }
      } catch { case _: java.io.IOException => false }
    } else
      try {
        val out = f.create(p, false)
        try out.write(body) finally out.close()
        true
      } catch { case _: java.io.IOException => false }
  }

  /** First token of a lock file's body — the holder's UUID, written at
    * creation. None if the file vanished or is unreadable. */
  private def readLockId(f: org.apache.hadoop.fs.FileSystem, p: Path): Option[String] =
    try {
      val in = f.open(p)
      val txt =
        try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
        finally in.close()
      txt.split("\\s+").headOption.filter(_.nonEmpty)
    } catch { case _: java.io.IOException => None }

  /** Break a stale lock whose observed holder UUID is `observedId`.
    *
    * An unconditional delete here reintroduces the race the lock
    * prevents: two writers both observe the stale lock, A deletes +
    * re-creates (entering the critical section), then B's delete
    * removes A's FRESH lock — two concurrent holders. Instead:
    *
    *   1. rename the lock to a tombstone named BY THE OBSERVED UUID —
    *      deterministic, so every breaker of the same stale instance
    *      targets the same destination and rename is the atomic
    *      arbiter (losers see source-missing and fall through to the
    *      normal contention path);
    *   2. read the tombstone back: if its UUID is NOT the observed one,
    *      the rename yanked a FRESH lock that replaced the stale one
    *      between this breaker's stat and rename — restore it and
    *      report contention instead of acquiring.
    *
    * The post-rename verify is race-free (once renamed, no other
    * process touches the tombstone: its name embeds a UUID only this
    * observation targeted and step 1 already decided the winner).
    * Residual window: if the restore in step 2 itself collides with a
    * third writer creating a new lock, the yanked holder's section is
    * compromised — that needs three writers interleaving within the
    * stat→rename gap of a TTL expiry, versus the two-writer
    * delete-based race this replaces; the failure is logged loudly. */
  private[graft] def breakStaleLock(
      f: org.apache.hadoop.fs.FileSystem,
      p: Path,
      partDir: String,
      observedId: Option[String],
      observedMtime: Long): Unit = {
    // a lock left by a pre-UUID writer (or truncated by its crash) has
    // no readable id: key its tombstone by the observed mtime instead —
    // still deterministic across breakers of the same instance
    val tomb = new Path(partDir, s"$Lock.broken-${observedId.getOrElse("t" + observedMtime)}")
    val won =
      try f.rename(p, tomb)
      catch { case _: java.io.IOException => false }
    if (!won) return // another breaker won, or the holder released: retry
    readLockId(f, tomb) match {
      case id if id == observedId =>
        f.delete(tomb, false) // broke the right lock; caller retries create
      case other =>
        // a FRESH lock always carries its creator's UUID, so any
        // mismatch (including observed-None vs fresh-Some) lands here
        val restored =
          try f.rename(tomb, p)
          catch { case _: java.io.IOException => false }
        if (!restored) {
          f.delete(tomb, false)
          System.err.println(
            s"SnapshotStore: could not restore fresh lock $p (holder ${other.getOrElse("?")}) " +
              "after a mistaken stale-break rename — that writer's critical section is unprotected")
        }
        throw new IllegalStateException(
          s"concurrent writer holds $p (a fresh lock replaced the stale one mid-break) — retry later")
    }
  }

  private def acquireLock(f: org.apache.hadoop.fs.FileSystem, partDir: String): Path = {
    val p = new Path(partDir, Lock)
    var attempts = 0
    while (attempts < 3) {
      if (tryCreateAtomic(f, p)) return p
      val st =
        try Some(f.getFileStatus(p))
        catch { case _: java.io.FileNotFoundException => None }
      st match {
        case Some(s) if System.currentTimeMillis() - s.getModificationTime > LockTtlMs =>
          // stale (crashed holder): break via uuid-verified atomic
          // rename — see breakStaleLock for why not a plain delete
          breakStaleLock(f, p, partDir, readLockId(f, p), s.getModificationTime)
        case Some(_) =>
          throw new IllegalStateException(
            s"concurrent writer holds $p — retry after it releases (or after ${LockTtlMs / 60000} min TTL)")
        case None => () // released between create and stat — retry
      }
      attempts += 1
    }
    throw new IllegalStateException(s"could not acquire $p after $attempts attempts")
  }

  private def withLock[T](f: org.apache.hadoop.fs.FileSystem, partDir: String)(body: => T): T = {
    val lock = acquireLock(f, partDir)
    try body
    finally f.delete(lock, false)
  }

  /** The live snapshot name, if the partition has been initialized. */
  def current(spark: SparkSession, partDir: String): Option[String] = {
    val f   = fs(spark, partDir)
    val ptr = new Path(partDir, Current)
    if (!f.exists(ptr)) None
    else {
      val in = f.open(ptr)
      try Some(new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim)
      finally in.close()
    }
  }

  /** Absolute path of the live snapshot dir (plan-time resolution). */
  def resolve(spark: SparkSession, partDir: String): Option[String] =
    current(spark, partDir).map(s => s"$partDir/$s")

  /** Read the partition through the pointer: the returned frame scans an
    * immutable file set, unaffected by any later rewrite until vacuum. */
  def read(spark: SparkSession, partDir: String): DataFrame =
    resolve(spark, partDir) match {
      case Some(dir) => spark.read.parquet(dir)
      case None      => throw new IllegalStateException(s"no _CURRENT snapshot under $partDir")
    }

  /** Atomic pointer swap: write `_CURRENT.tmp`, rename over `_CURRENT`
    * (FileContext rename with OVERWRITE — atomic on HDFS and POSIX). */
  private def swapPointer(spark: SparkSession, partDir: String, snapName: String): Unit = {
    val f   = fs(spark, partDir)
    val tmp = new Path(partDir, s"$Current.tmp")
    val out = f.create(tmp, true)
    try out.write(snapName.getBytes("UTF-8"))
    finally out.close()
    val fc = FileContext.getFileContext(
      new Path(partDir).toUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(tmp, new Path(partDir, Current), Options.Rename.OVERWRITE)
  }

  /** The critical section: pick the next name, write, swap. Caller MUST
    * hold the partition's writer lock. */
  private def writeSnapshotLocked(
      spark: SparkSession,
      f: org.apache.hadoop.fs.FileSystem,
      partDir: String,
      df: DataFrame,
      targetFiles: Int): String = {
    val base = new Path(partDir)
    val nums =
      if (!f.exists(base)) Array.empty[Int]
      else
        f.listStatus(base)
          .map(_.getPath.getName)
          .collect { case n if n.startsWith(Prefix) => n.stripPrefix(Prefix).toInt }
    val name = f"$Prefix${(if (nums.isEmpty) 0 else nums.max) + 1}%06d"
    df.repartition(targetFiles).write.mode("error").parquet(s"$partDir/$name")
    swapPointer(spark, partDir, name)
    name
  }

  /** Write `df` as the partition's next snapshot and swap the pointer.
    * Returns the new snapshot name. The write lands fully before the
    * swap, so a failure anywhere leaves the previous snapshot live.
    * Serialized against other writers by the partition lock (see
    * [[acquireLock]]); a second concurrent writer fails fast instead of
    * corrupting a snapshot dir or regressing the pointer. */
  def writeSnapshot(spark: SparkSession, partDir: String, df: DataFrame, targetFiles: Int = 1): String = {
    val f = fs(spark, partDir)
    withLock(f, partDir)(writeSnapshotLocked(spark, f, partDir, df, targetFiles))
  }

  /** Rewrite the live snapshot as `targetFiles` files and swap. Concurrent readers of the old snapshot are untouched. The
    * LIVE pointer is resolved INSIDE the writer lock — so the
    * read-compact-swap is atomic w.r.t. other writers and can never
    * publish a rewrite of pre-ingest data over a just-landed ingest. */
  def compact(spark: SparkSession, partDir: String, targetFiles: Int = 1): String = {
    val f = fs(spark, partDir)
    withLock(f, partDir)(
      writeSnapshotLocked(spark, f, partDir, read(spark, partDir), targetFiles))
  }

  /** Bulk compaction: rewrite MANY partitions' live snapshots in ONE
    * Spark job (the O(1)-jobs discipline of `Compaction.sealPartitions`
    * — at cluster scale, per-partition job launches are the bottleneck,
    * not the data). The union of the live snapshots shuffles once on
    * (dt, hr) into a temp partitioned layout; the driver then promotes
    * each written dir to the partition's next `snap-` name with a
    * metadata-only rename and swaps its pointer. Isolation is identical
    * to [[compact]]: a failure before a partition's swap leaves its old
    * snapshot live (orphans reclaimed by vacuum), and concurrent readers
    * of pre-swap snapshots are untouched throughout. */
  def compactPartitions(
      spark: SparkSession,
      tableRoot: String,
      parts: Seq[(String, String)],
      targetFiles: Int = 1): Seq[String] = {
    if (parts.isEmpty) return Seq.empty
    import org.apache.spark.sql.functions.{col, lit}
    val f = fs(spark, tableRoot)
    // every partition's writer lock is taken BEFORE resolving any input
    // pointer (in sorted order, so two bulk compactions over overlapping
    // part sets can't deadlock) and held through promotion — the whole
    // multi-partition read-compact-swap is atomic w.r.t. other writers
    val lockDirs = parts.map { case (dt, hr) => s"$tableRoot/dt=$dt/hr=$hr" }.sorted
    val held = scala.collection.mutable.ArrayBuffer.empty[Path]
    try {
      lockDirs.foreach(d => held += acquireLock(f, d))
      val union = parts
        .map { case (dt, hr) =>
          read(spark, s"$tableRoot/dt=$dt/hr=$hr")
            .withColumn("dt", lit(dt))
            .withColumn("hr", lit(hr))
        }
        .reduce(_.unionByName(_))
      val tmpRoot = s"$tableRoot/_compact_tmp_${java.util.UUID.randomUUID().toString.take(8)}"
      // hash layout gives one file per (dt, hr) dir; targetFiles > 1 adds a
      // stable row-hash salt so each dir splits across that many tasks
      val keys =
        if (targetFiles <= 1) Seq(col("dt"), col("hr"))
        else
          Seq(col("dt"), col("hr"),
            org.apache.spark.sql.functions.pmod(
              org.apache.spark.sql.functions.xxhash64(union.columns.map(col): _*),
              lit(targetFiles)))
      union
        .repartition(keys: _*)
        .write
        .partitionBy("dt", "hr")
        .parquet(tmpRoot)
      val promoted = parts.map { case (dt, hr) =>
        val partDir = s"$tableRoot/dt=$dt/hr=$hr"
        val nums = f.listStatus(new Path(partDir))
          .map(_.getPath.getName)
          .collect { case n if n.startsWith(Prefix) => n.stripPrefix(Prefix).toInt }
        val name = f"$Prefix${(if (nums.isEmpty) 0 else nums.max) + 1}%06d"
        f.rename(new Path(s"$tmpRoot/dt=$dt/hr=$hr"), new Path(s"$partDir/$name"))
        swapPointer(spark, partDir, name)
        name
      }
      f.delete(new Path(tmpRoot), true)
      promoted
    } finally held.foreach(p => f.delete(p, false))
  }

  /** All snapshot names under the partition, oldest first — the
    * partition's retained history. */
  def snapshots(spark: SparkSession, partDir: String): Seq[String] = {
    val f    = fs(spark, partDir)
    val base = new Path(partDir)
    if (!f.exists(base)) Seq.empty
    else f.listStatus(base).map(_.getPath.getName).filter(_.startsWith(Prefix)).sorted.toSeq
  }

  /** Time travel: read a specific retained snapshot (audit a pre-rewrite
    * state, diff two versions, reproduce a historical run). Valid until
    * vacuum reclaims it. */
  def readAt(spark: SparkSession, partDir: String, snapName: String): DataFrame = {
    val f = fs(spark, partDir)
    require(
      f.exists(new Path(s"$partDir/$snapName")),
      s"snapshot $snapName not retained under $partDir (vacuumed?)")
    spark.read.parquet(s"$partDir/$snapName")
  }

  /** Snapshot diff — the row-level change feed between two retained
    * versions (what Iceberg/Delta call an incremental read, without the
    * table format): rows only in `toSnap` surface as op=`insert`, rows
    * only in `fromSnap` as op=`delete`; an in-place update appears as
    * its delete+insert pair. Multiset semantics (`exceptAll`) so
    * duplicate-row cardinality changes are reported exactly. Cost: one
    * anti-semi pass each way over the two snapshots — data-proportional
    * to the SNAPSHOTS, which are partition-sized, never table-sized. */
  def diff(spark: SparkSession, partDir: String, fromSnap: String, toSnap: String): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val from = readAt(spark, partDir, fromSnap)
    val to   = readAt(spark, partDir, toSnap)
    to.exceptAll(from).withColumn("op", lit("insert"))
      .unionByName(from.exceptAll(to).withColumn("op", lit("delete")))
  }

  /** Reclaim every snapshot dir except the live one (superseded AND
    * orphaned-by-crash alike). Call on the cadence that bounds your
    * longest in-flight scan. Returns the number of dirs removed.
    * Takes the writer lock: without it, vacuum could delete a concurrent
    * writer's fully-written snapshot dir in the instant before its
    * pointer swap. */
  def vacuum(spark: SparkSession, partDir: String): Int = {
    val f = fs(spark, partDir)
    withLock(f, partDir) {
      val live = current(spark, partDir)
        .getOrElse(throw new IllegalStateException(s"no _CURRENT snapshot under $partDir"))
      val stale = f.listStatus(new Path(partDir))
        .map(_.getPath)
        .filter(p => p.getName.startsWith(Prefix) && p.getName != live)
      stale.foreach(p => f.delete(p, true))
      stale.length
    }
  }
}
