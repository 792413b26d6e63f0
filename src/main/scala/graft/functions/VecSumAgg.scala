package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native elementwise-sum aggregate over quantized vectors — the
  * TypedImperativeAggregate twin of the [[VecSum]] udaf with identical
  * output (FunctionsSpec pins the law): one Array[Long] buffer per
  * (group, partition), map-side partial aggregation, empty buffer (no
  * non-null input seen) finishes to NULL.
  *
  * Why it replaces the udaf at the centroid call site (r15): a
  * `ScalaAggregator` expression embeds freshly-resolved ExpressionEncoder
  * instances, so two plan-identical centroid builds NEVER compare
  * `sameResult` — CacheManager cached each k-means invocation's rounds as
  * SEPARATE corpus-sized entries (a per-invocation cache leak in a
  * resident session) and CacheRegistry's same-plan dedupe could not
  * refresh, re-registering duplicates (the session's cache entries grew
  * by one per identical k-means run). A plain case-class
  * aggregate canonicalizes like any built-in, so re-built plans dedupe
  * again. It also skips the udaf's per-group Seq[Long] encoder round-trip.
  */
case class VecSumAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects an array<bigint> child (a quantized vector), " +
        s"got ${other.simpleString}")
  }

  override def prettyName: String = "vec_sum_agg"

  // empty array = "no non-null input yet" (the udaf's zero), finishes NULL
  override def createAggregationBuffer(): Array[Long] = Array.emptyLongArray

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v == null) return buffer
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (buffer.length == 0) {
      val out = new Array[Long](n)
      var i = 0
      while (i < n) { out(i) = elem(a, i); i += 1 }
      return out
    }
    require(n == buffer.length,
      s"vector length mismatch: $n vs ${buffer.length}")
    var i = 0
    while (i < n) { buffer(i) += elem(a, i); i += 1 }
    buffer
  }

  // a NULL element inside a vector is corrupt input for an exact sum —
  // fail loudly (the udaf twin NPEs on the same input; silently reading
  // the unsafe slot as 0 would corrupt the centroid instead)
  private def elem(a: ArrayData, i: Int): Long = {
    if (a.isNullAt(i)) throw new IllegalArgumentException(
      s"$prettyName: NULL element at position $i of a quantized vector")
    a.getLong(i)
  }

  override def merge(buffer: Array[Long], other: Array[Long]): Array[Long] = {
    if (buffer.length == 0) return other
    if (other.length == 0) return buffer
    require(other.length == buffer.length,
      s"vector length mismatch: ${other.length} vs ${buffer.length}")
    var i = 0
    while (i < buffer.length) { buffer(i) += other(i); i += 1 }
    buffer
  }

  override def eval(buffer: Array[Long]): Any =
    if (buffer.length == 0) null else new GenericArrayData(buffer)

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buffer.length * 8)
    bb.asLongBuffer().put(buffer)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VecSumAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VecSumAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): VecSumAgg =
    copy(child = newChild)

  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
}

object VecSumAgg {
  /** Column function: exact elementwise sum of an ArrayType(LongType)
    * column, NULL for all-null groups — [[VecSum.vecSum]]'s contract. */
  def vecSum(c: Column): Column = ColumnBridge.column(
    VecSumAgg(ColumnBridge.expression(c)).toAggregateExpression())
}
