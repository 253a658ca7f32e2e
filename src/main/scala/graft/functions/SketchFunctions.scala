package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.plans.TDigestQuantile

/** Column API over the [[graft.plans.TDigest]] aggregate (also exposed
  * in SQL as `tdigest_quantile` via the function registry/extensions). */
object SketchFunctions {
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toColumn, expression}

  /** Multi-quantile t-digest: returns array<double> in `ps` order. */
  def tdigestQuantile(c: Column, ps: Seq[Double], compression: Double = 100.0): Column =
    toColumn(
      TDigestQuantile(
        expression(c),
        Literal.create(ps, ArrayType(DoubleType, containsNull = false)),
        Literal(compression)).toAggregateExpression())

  /** Single-quantile t-digest: returns double. */
  def tdigestQuantile(c: Column, p: Double, compression: Double): Column =
    toColumn(
      TDigestQuantile(expression(c), Literal(p), Literal(compression)).toAggregateExpression())

  /** Aggregate to a storable binary sketch (the sketch-table pattern). */
  def tdigestSketch(c: Column, compression: Double = 100.0): Column =
    toColumn(
      graft.plans.TDigestSketch(expression(c), Literal(compression)).toAggregateExpression())

  /** Re-merge stored binary sketches into a quantile. */
  def tdigestMergeQuantile(sketches: Column, p: Double): Column =
    toColumn(
      graft.plans.TDigestMergeQuantile(expression(sketches), Literal(p)).toAggregateExpression())

  /** Aggregate a key column into a serialized Bloom filter, the build
    * side of [[graft.operators.BloomJoin]]'s runtime filter. */
  def bloomSketch(c: Column, expectedItems: Long, fpp: Double = 0.01): Column =
    toColumn(
      graft.plans.BloomSketch(expression(c), Literal(expectedItems), Literal(fpp))
        .toAggregateExpression())

  /** Codegen'd row-level probe of a [[bloomSketch]]-built filter — the
    * runtime-filter predicate for [[graft.operators.BloomJoin]]. */
  def bloomMightContain(filterBytes: Array[Byte], key: Column): Column =
    toColumn(graft.plans.BloomMightContain(filterBytes, expression(key)))

  /** Misra–Gries frequent-items summary → struct(n, items) (also in SQL
    * as `mg_topk` via the registry/extensions). */
  def mgTopK(c: Column, k: Int): Column =
    toColumn(graft.plans.MisraGriesTopK(expression(c), Literal(k)).toAggregateExpression())
}
