package graft.perfbench

import java.time.{LocalDate, LocalDateTime}
import java.util.SplittableRandom
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded TPC-H-shaped tables plus the oracle's `events`,
  * written as parquet under one directory in the layout
  * `graft.sources.Tables` reads (`<dir>/<name>.parquet`). Column names
  * and types follow the repository's test fixtures, so the registry
  * queries and their DuckDB oracles run unchanged. Timestamps are
  * written as TIMESTAMP_NTZ, the fixtures' physical type.
  *
  * Rows are made inside Spark tasks, each from its own random stream
  * keyed by (seed, table, key), so the tables do not depend on how the
  * key range is split and never sit on the driver's heap. */
object TableGen {
  final case class Scale(customers: Int, suppliers: Int, parts: Int, orders: Int)
  /** The row counts of the repository's sf0.1 fixtures (lineitem comes
    * out near 600k, four lines per order on average). */
  val Sf01: Scale = Scale(customers = 15000, suppliers = 1000, parts = 20000, orders = 150000)

  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val PartWords = Array("red", "blue", "hot", "cold", "large", "small", "steel", "ring", "bolt", "nut", "gear", "pipe")
  private val PartTypes = Array("ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL", "MEDIUM")
  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val OrderStatus = Array("O", "F", "P")
  private val ReturnFlags = Array("A", "N", "R")
  private val LineStatus = Array("O", "F")
  private val Slices = 4

  private def money(rnd: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + rnd.nextDouble() * (hi - lo)) * 100.0) / 100.0

  private def day(rnd: SplittableRandom): LocalDateTime =
    LocalDate.of(1992, 1, 1).plusDays(rnd.nextLong(3650)).atStartOfDay()

  private def rng(seed: Long, table: Int, key: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9e3779b97f4a7c15L + table * 0x7ab1e5L + key)

  private def f(n: String, t: DataType) = StructField(n, t)

  private def save(spark: SparkSession, dir: String, name: String, schema: StructType,
      rows: org.apache.spark.rdd.RDD[Row]): Unit =
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(s"$dir/$name.parquet")

  private def small(spark: SparkSession, dir: String, name: String, schema: StructType, rows: Seq[Row]): Unit =
    spark.createDataFrame(rows.asJava, schema).coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

  /** One order and its line items, both from the order's own stream. */
  private def order(seed: Long, s: Scale, i: Long): (Row, Seq[Row]) = {
    val rnd = rng(seed, 5, i)
    val od = day(rnd)
    val o = Row(i, rnd.nextLong(s.customers), OrderStatus(rnd.nextInt(3)), money(rnd, 1000, 400000),
      od, Priorities(rnd.nextInt(Priorities.length)))
    val lines = (1 to 1 + rnd.nextInt(7)).map { ln =>
      Row(i, rnd.nextLong(s.parts), rnd.nextLong(s.suppliers), ln, (1 + rnd.nextInt(50)).toDouble,
        money(rnd, 900, 100000), rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
        ReturnFlags(rnd.nextInt(3)), LineStatus(rnd.nextInt(2)), od.plusDays(1 + rnd.nextInt(120)))
    }
    (o, lines)
  }

  def write(spark: SparkSession, dir: String, seed: Long, s: Scale, events: Seq[Gen.Event]): Unit = {
    val sc = spark.sparkContext
    def keys(n: Int) = sc.range(0L, n.toLong, 1L, Slices)
    small(spark, dir, "region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Regions.indices.map(i => Row(i, Regions(i))))
    small(spark, dir, "nation",
      StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType), f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    save(spark, dir, "customer",
      StructType(Seq(f("c_custkey", LongType), f("c_name", StringType), f("c_nationkey", IntegerType),
        f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      keys(s.customers).map { i =>
        val rnd = rng(seed, 1, i)
        Row(i, f"Customer#$i%09d", rnd.nextInt(25), money(rnd, -999.99, 9999.99), Segments(rnd.nextInt(Segments.length)))
      })
    save(spark, dir, "supplier",
      StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType), f("s_nationkey", IntegerType),
        f("s_acctbal", DoubleType))),
      keys(s.suppliers).map { i =>
        val rnd = rng(seed, 2, i)
        Row(i, f"Supplier#$i%09d", rnd.nextInt(25), money(rnd, -999.99, 9999.99))
      })
    save(spark, dir, "part",
      StructType(Seq(f("p_partkey", LongType), f("p_name", StringType), f("p_brand", StringType),
        f("p_type", StringType), f("p_size", IntegerType), f("p_retailprice", DoubleType))),
      keys(s.parts).map { i =>
        val rnd = rng(seed, 3, i)
        Row(i, s"${PartWords(rnd.nextInt(PartWords.length))} ${PartWords(rnd.nextInt(PartWords.length))}",
          s"Brand#${1 + rnd.nextInt(25)}", PartTypes(rnd.nextInt(PartTypes.length)), 1 + rnd.nextInt(50),
          900.0 + (i % 1000) / 10.0)
      })
    save(spark, dir, "orders",
      StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType), f("o_orderstatus", StringType),
        f("o_totalprice", DoubleType), f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
      keys(s.orders).map(i => order(seed, s, i)._1))
    save(spark, dir, "lineitem",
      StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType), f("l_suppkey", LongType),
        f("l_linenumber", IntegerType), f("l_quantity", DoubleType), f("l_extendedprice", DoubleType),
        f("l_discount", DoubleType), f("l_tax", DoubleType), f("l_returnflag", StringType),
        f("l_linestatus", StringType), f("l_shipdate", TimestampNTZType))),
      keys(s.orders).flatMap(i => order(seed, s, i)._2))
    writeEvents(spark, dir, events)
  }

  /** The clean, unique events the sink should seal — the oracle's `events`. */
  def writeEvents(spark: SparkSession, dir: String, events: Seq[Gen.Event]): Unit =
    small(spark, dir, "events",
      StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType), f("user_id", LongType),
        f("event_type", StringType), f("value", DoubleType), f("props", StringType))),
      events.map { e =>
        Row(e.id, LocalDateTime.ofEpochSecond(Math.floorDiv(e.tsUs, 1000000L),
          (Math.floorMod(e.tsUs, 1000000L) * 1000).toInt, java.time.ZoneOffset.UTC),
          e.user, e.etype, e.value, e.props)
      })
}
