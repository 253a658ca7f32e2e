package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared basket-pair expansion for the co-occurrence family (r11
  * optimization round).
  *
  * Every co-purchase consumer (q92/q98/q104/q106/q192/q245/q249/q250/
  * q282/q288/q310/q323/q326/q343/q349) needs "canonical (a < b) item
  * pairs per basket, counted across baskets". The build-round shape was
  *
  *   items.distinct ⋈ items.distinct ON basket-key → groupBy(pa, pb)
  *
  * which plans FOUR exchanges (the distinct, both self-join sides, the
  * pair count). The same rows come out of ONE basket aggregation plus
  * map-side pair emission:
  *
  *   groupBy(basket) collect_set(item)            — one exchange
  *   explode(sorted-array pair transform)         — map-side, Θ(basket²)
  *   groupBy(pa, pb) count                        — one partial-agg exchange
  *
  * The Θ(Σ basket²) expansion cost is IDENTICAL (it is the same pairs),
  * but it now happens in a codegen'd projection instead of a shuffled
  * join, and two full exchanges of the item incidence disappear. Basket
  * skew is governed exactly as before: the expansion is bounded by the
  * largest single basket, and callers whose basket key is unbounded
  * (q349's customer baskets) cap it with [[Skew.capPerKey]] BEFORE the
  * aggregation, which also pre-shuffles the incidence by the basket key
  * so the groupBy plans no new exchange. */
object Baskets {

  /** (key, ps) — each basket's DISTINCT items as a sorted array.
    * Baskets with fewer than `minItems` items are dropped (a 1-item
    * basket emits no pairs; keep minItems = 1 when per-item supports or
    * basket counts must include them). */
  // NOTE (r12): pinning the emission stage's width with an explicit
  // basket-keyed repartition after the aggregate (the fix that won for
  // q349's customer-grain self-join, where it REPLACES the join's own
  // exchange) was built and MEASURED SLOWER across this family
  // (same-window sequential runs: q106 2.38→3.56 s, q192 1.93→2.83, q310
  // 2.63→3.36, q343 2.70→3.41; only the iterate-heavy q98 moved the
  // other way) — here the repartition is a pure EXTRA exchange, and at
  // sf0.1 the emission cpu it parallelizes is smaller than the
  // shuffle+scheduling it adds. At real scale the basket-agg output is
  // large enough that AQE widths the emission stage correctly on its
  // own. Reverted; kept for q349 only.
  def basketArrays(
      items: DataFrame,
      key: String,
      item: String,
      minItems: Int = 2): DataFrame =
    items
      .groupBy(col(key).as("__bk"))
      .agg(sort_array(collect_set(col(item))).as("ps"))
      .filter(size(col("ps")) >= minItems)

  /** All canonical (pa < pb) pairs of one sorted basket array, as a
    * column expression: for each element x at index i, pair it with
    * every later element — sortedness makes position order value order,
    * so each unordered pair is emitted exactly once, canonically. */
  private def pairArray(ps: Column): Column =
    flatten(transform(ps, (x, i) =>
      transform(slice(ps, i + lit(2), size(ps) - i - 1), y =>
        struct(x.as("pa"), y.as("pb")))))

  /** Canonical co-occurrence pair counts: (pa, pb, c) with pa < pb and
    * c = number of baskets containing both. Bit-identical rows to the
    * distinct-self-join-count build. */
  def pairCounts(items: DataFrame, key: String, item: String): DataFrame =
    basketArrays(items, key, item)
      .select(explode(pairArray(col("ps"))).as("__e"))
      .select(col("__e.pa").as("pa"), col("__e.pb").as("pb"))
      .groupBy("pa", "pb")
      .agg(count(lit(1)).as("c"))

  /** DISTINCT edges in BOTH directions — (src, dst) with src ≠ dst,
    * deduplicated across baskets. Both directions are emitted MAP-SIDE
    * from each basket (a canonical-then-union shape would plan the
    * whole canonical aggregate twice, once per union branch), and the
    * single (src, dst) dedup aggregate partial-aggregates before its
    * exchange. */
  def distinctEdgesSym(items: DataFrame, key: String, item: String): DataFrame =
    basketArrays(items, key, item)
      .select(explode(flatten(transform(col("ps"), (x, i) =>
        concat(
          transform(slice(col("ps"), i + lit(2), size(col("ps")) - i - 1), y =>
            struct(x.as("src"), y.as("dst"))),
          transform(slice(col("ps"), i + lit(2), size(col("ps")) - i - 1), y =>
            struct(y.as("src"), x.as("dst"))))))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      .distinct()

  /** Line-multiplicity variant of [[pairCounts]] (q192's contract): the
    * former build joined RAW line rows, so a pair's count is
    * Σ_baskets m(pa)·m(pb) over line multiplicities, never a self-pair.
    * A sorted collect_LIST keeps the multiplicities; position pairs of
    * EQUAL values (the (u,u) products the strict `<` join never emits)
    * are filtered after emission. Bit-identical counts to the raw join. */
  def pairCountsByLine(items: DataFrame, key: String, item: String): DataFrame =
    items
      .groupBy(col(key).as("__bk"))
      .agg(sort_array(collect_list(col(item))).as("ps"))
      .filter(size(col("ps")) >= 2)
      .select(explode(pairArray(col("ps"))).as("__e"))
      .select(col("__e.pa").as("pa"), col("__e.pb").as("pb"))
      .filter(col("pa") =!= col("pb"))
      .groupBy("pa", "pb")
      .agg(count(lit(1)).as("c"))

  /** Canonical co-occurrence triple counts: (pa, pb, pc, c) with
    * pa < pb < pc — the q106 shape, from the same single basket
    * aggregation (Θ(basket³) map-side emission, still bounded by the
    * largest single basket). */
  def tripleCounts(items: DataFrame, key: String, item: String): DataFrame =
    basketArrays(items, key, item, minItems = 3)
      .select(explode(flatten(transform(col("ps"), (x, i) =>
        flatten(transform(
          slice(col("ps"), i + lit(2), size(col("ps")) - i - 1), (y, j) =>
          transform(
            slice(col("ps"), i + j + lit(3), size(col("ps")) - i - j - 2), z =>
            struct(x.as("pa"), y.as("pb"), z.as("pc")))))))).as("__e"))
      .select(col("__e.pa").as("pa"), col("__e.pb").as("pb"), col("__e.pc").as("pc"))
      .groupBy("pa", "pb", "pc")
      .agg(count(lit(1)).as("c"))
}
