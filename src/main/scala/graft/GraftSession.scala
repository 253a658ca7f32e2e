package graft

import org.apache.spark.sql.SparkSession

/** Tuned SparkSession factory.
  *
  * Mirrors the runtime posture the reference sink assumes (a long-running
  * ingest process with bounded parallelism) but Spark-first: AQE on, skew
  * join handling on, shuffle partitions sized to the local core count.
  * On a real cluster only `spark.sql.shuffle.partitions` (or the AQE
  * advisory size) needs retuning — operators never hard-code parallelism.
  */
object GraftSession {
  def local(cores: Int = 4, appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      // ObjectHashAggregate (collect_set/collect_list paths) falls back to
      // sort-based aggregation after this many distinct keys per task; the
      // default 128 makes every real basket/neighbor aggregate pay a sort.
      // The trade-off: these aggregate buffers are not tracked by the
      // memory manager, so the key count is the only proxy for their
      // size, and the sort fallback is what spills. Up to 64k buffers per
      // task stay in memory unchecked — fine for small arrays, an OOM
      // risk for large ones.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.extensions", classOf[graft.plans.GraftExtensions].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // getOrCreate may return a pre-existing session that was built
    // without the extensions config — make registration unconditional
    graft.plans.VectorFunctionRegistry.register(spark)
    spark
  }
}
