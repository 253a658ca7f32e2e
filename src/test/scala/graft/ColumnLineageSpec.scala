package graft

import graft.plans.ColumnLineage
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** q227: column-level lineage over analyzed plans — value lineage only
  * (predicates deliberately excluded), aliases and generators reduce to
  * their references, unions merge positionally. */
class ColumnLineageSpec extends SparkSpec {

  private lazy val t = Tables(spark, sfDir)

  test("q227: a computed aggregate traces to every contributing column") {
    val df = t.lineitem.groupBy("l_returnflag")
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))
        .as("charge"))
    val m = ColumnLineage.of(df).toMap
    assert(m("charge") === Set(
      "lineitem" -> "l_extendedprice", "lineitem" -> "l_discount", "lineitem" -> "l_tax"))
    assert(m("l_returnflag") === Set("lineitem" -> "l_returnflag"))
  }

  test("q227: lineage crosses a join to the right base table") {
    val (orders, customer) = (t.orders, t.customer)
    val df = orders
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .groupBy("c_nationkey")
      .agg(sum("o_totalprice").as("rev"))
    val m = ColumnLineage.of(df).toMap
    assert(m("rev") === Set("orders" -> "o_totalprice"))
    assert(m("c_nationkey") === Set("customer" -> "c_nationkey"))
  }

  test("q227: union merges lineage positionally across branches") {
    val a = t.orders.select(col("o_totalprice").as("v"))
    val b = t.lineitem.select(col("l_extendedprice").as("v"))
    val m = ColumnLineage.of(a.unionByName(b)).toMap
    assert(m("v") === Set("orders" -> "o_totalprice", "lineitem" -> "l_extendedprice"))
  }

  test("q227: a generator's output traces to the generator's references") {
    val df = t.events
      .select(explode(sequence(to_date(col("ts")), date_add(to_date(col("ts")), 6))).as("wday"))
      .select(date_format(col("wday"), "yyyy-MM-dd").as("day"))
    assert(ColumnLineage.of(df).toMap.apply("day") === Set("events" -> "ts"))
  }

  test("q227: count(*) columns honestly report no value sources") {
    val df = t.orders.groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
    val m = ColumnLineage.of(df).toMap
    assert(m("n") === Set.empty)
  }

  test("q227: the registered report covers the workload slice") {
    val rep = SparkEntry.queries("q227_column_lineage")(spark, sfDir).collect()
    assert(rep.nonEmpty)
    val queries = rep.map(_.getString(0)).toSet
    assert(queries.contains("q01_pricing_summary"))
    // the flagship column's lineage survives end-to-end
    val charge = rep.find(r =>
      r.getString(0) == "q01_pricing_summary" && r.getString(1) == "sum_charge").get
    assert(charge.getString(2) ===
      "lineitem.l_discount,lineitem.l_extendedprice,lineitem.l_tax")
  }
}
