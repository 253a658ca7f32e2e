package graft

import graft.streaming.HiveBatchSink
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.Files

/** The reference's whole job is loading HIVE — so prove the sealed table
  * round-trips through an actual Hive metastore (embedded derby), not
  * just the in-memory catalog: register, read back by name, and keep
  * partition pruning. This suite owns its own Hive-enabled session
  * (catalogImplementation is fixed at session build time); it stops the
  * shared session first and stops its own after, so neighbouring suites
  * just rebuild theirs via getOrCreate. */
class HiveMetastoreSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var hive: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    val wh    = Files.createTempDirectory("graft-hive-wh").toString
    val derby = Files.createTempDirectory("graft-hive-ms").toString
    System.setProperty("derby.stream.error.file", s"$derby/derby.log")
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    hive = SparkSession.builder()
      .master("local[4]")
      .appName("graft-hive-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", wh)
      .config("javax.jdo.option.ConnectionURL", s"jdbc:derby:;databaseName=$derby/metastore_db;create=true")
      .enableHiveSupport()
      .getOrCreate()
    hive.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = {
    if (hive != null) hive.stop()
  }

  test("sealed table registers in a real Hive metastore and reads back by name") {
    assert(hive.conf.get("spark.sql.catalogImplementation") == "hive")
    val root   = Files.createTempDirectory("graft-hive-sink").toString
    val events = graft.sources.Tables(hive, sfDir).events
    val sink   = new HiveBatchSink(hive, root)
    sink.writeBatch(events, batchId = 0)
    val sealedParts = sink.sealClosed(events.agg(max("ts")).first().getTimestamp(0))
    assert(sealedParts.nonEmpty)

    sink.registerTable("hms_events")
    assert(hive.catalog.tableExists("hms_events"))
    // the table and its partitions live in the METASTORE, not the session
    val provider = hive.sql("DESCRIBE FORMATTED hms_events").collect()
      .map(r => r.getString(0) -> String.valueOf(r.getString(1))).toMap
    assert(provider.get("Partition Provider").exists(_.contains("Catalog")),
      s"partitions not tracked by the metastore: $provider")
    val hmsParts = hive.sql("SHOW PARTITIONS hms_events").collect().map(_.getString(0)).toSeq
    assert(hmsParts.size == sealedParts.size, s"${hmsParts.size} HMS partitions vs ${sealedParts.size} sealed")

    // read back by name: row-for-row what the sealed path holds
    assert(hive.table("hms_events").count() == sink.readTable().count())

    // dt filters still prune the scan through the metastore table
    val (dt, _) = sealedParts.head
    val pruned  = hive.table("hms_events").filter(col("dt") === dt)
    val plan    = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("dt"),
      s"partition pruning lost through HMS:\n$plan")
    val expected = sink.readTable().filter(col("dt") === dt).count()
    assert(pruned.count() == expected)
  }

  test("re-registering after sealing more partitions is idempotent") {
    assert(hive.catalog.tableExists("hms_events"))
    val before = hive.sql("SHOW PARTITIONS hms_events").count()
    hive.sql("MSCK REPAIR TABLE hms_events")
    assert(hive.sql("SHOW PARTITIONS hms_events").count() == before)
  }
}
