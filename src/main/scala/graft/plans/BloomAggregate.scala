package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** `bloom_sketch(col, expectedItems, fpp)` — aggregate a key column into
  * a serialized Bloom filter (binary): "can this key occur in the
  * aggregated rows?" with no false negatives and fpp false positives.
  * [[graft.operators.BloomJoin]] builds one over a join's selective side
  * and probes it with [[BloomMightContain]], so fact rows that cannot
  * match are dropped at the scan.
  *
  * Built on `org.apache.spark.util.sketch.BloomFilter` (the engine's own
  * sketch, same bit layout as its runtime join filters): partial filters
  * OR-merge associatively on the reduce side, so the build is one
  * aggregation pass however large the input. Size the filter from the
  * expected DISTINCT keys: ~1.2 KB per 1k keys at 1% fpp.
  */
case class BloomSketch(
    child: Expression,
    expectedExpression: Expression,
    fppExpression: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[BloomFilter] {

  private lazy val expectedItems: Long = expectedExpression.eval() match {
    case n: Number => n.longValue()
    case other     => throw new IllegalArgumentException(s"bad expectedItems: $other")
  }
  private lazy val fpp: Double = fppExpression.eval() match {
    case n: Number => n.doubleValue()
    case other     => throw new IllegalArgumentException(s"bad fpp: $other")
  }

  /** Insert matched once to the resolved input type: integral keys as
    * longs, which is how [[BloomMightContain]] probes them. */
  private lazy val put: (BloomFilter, Any) => Unit = child.dataType match {
    case LongType    => (bf, v) => bf.putLong(v.asInstanceOf[Long])
    case IntegerType => (bf, v) => bf.putLong(v.asInstanceOf[Int].toLong)
    case ShortType   => (bf, v) => bf.putLong(v.asInstanceOf[Short].toLong)
    case ByteType    => (bf, v) => bf.putLong(v.asInstanceOf[Byte].toLong)
    case StringType  => (bf, v) => bf.putBinary(v.asInstanceOf[UTF8String].getBytes)
    case BinaryType  => (bf, v) => bf.putBinary(v.asInstanceOf[Array[Byte]])
    case t           => throw new IllegalStateException(s"unsupported type $t")
  }

  override def prettyName: String = "bloom_sketch"
  override def children: Seq[Expression] = Seq(child, expectedExpression, fppExpression)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | IntegerType | ShortType | ByteType | StringType | BinaryType =>
      if (!expectedExpression.foldable || !fppExpression.foldable)
        TypeCheckResult.TypeCheckFailure("expectedItems and fpp must be literals")
      else TypeCheckResult.TypeCheckSuccess
    case t =>
      TypeCheckResult.TypeCheckFailure(s"$prettyName needs an integral/string/binary key column, got $t")
  }
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): BloomFilter = BloomFilter.create(expectedItems, fpp)

  override def update(buffer: BloomFilter, input: InternalRow): BloomFilter = {
    val v = child.eval(input)
    if (v != null) put(buffer, v)
    buffer
  }

  override def merge(buffer: BloomFilter, other: BloomFilter): BloomFilter = {
    buffer.mergeInPlace(other)
    buffer
  }

  override def eval(buffer: BloomFilter): Any = serialize(buffer)

  override def serialize(buffer: BloomFilter): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    buffer.writeTo(bos)
    bos.toByteArray
  }
  override def deserialize(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(bytes))

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): BloomSketch =
    copy(child = newChildren(0), expectedExpression = newChildren(1), fppExpression = newChildren(2))
}

/** Row-level probe of a [[BloomSketch]]-built filter.
  *
  * `bloom_might_contain(filterBytes, key)` tests an integral key against
  * a filter built over the SELECTIVE side of a join and broadcast into
  * this expression as a reference object, so the probe compiles into the
  * scan's whole-stage codegen: fact rows that cannot match are dropped
  * at the scan, before the join's exchange ever sees them. No false
  * negatives (the following exact join keeps correctness; the filter
  * only sheds shuffle volume), fpp false positives ride through to the
  * join. The filter deserializes once per executor — not per row, not
  * per batch. */
case class BloomMightContain(filterBytes: Array[Byte], child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.Predicate {

  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.catalyst.expressions.codegen.Block.BlockHelper

  override def prettyName: String = "bloom_might_contain"
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | IntegerType | ShortType | ByteType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName needs an integral key, got $t")
  }

  @transient private lazy val bf: BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(filterBytes))

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    v != null && bf.mightContainLong(v.asInstanceOf[Number].longValue())
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bfRef = ctx.addReferenceObj("bloomFilter", bf, classOf[BloomFilter].getName)
    val c = child.genCode(ctx)
    ev.copy(
      code = c.code +
        code"""boolean ${ev.value} = !${c.isNull} && $bfRef.mightContainLong((long) ${c.value});""",
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)
}
