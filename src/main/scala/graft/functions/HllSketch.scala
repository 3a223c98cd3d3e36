package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/**
 * HyperLogLog register aggregate as a native
 * [[TypedImperativeAggregate]] [EXT] — the mergeable-sketch UDAF shape:
 * per-group state is the raw 256-byte register array, `update` folds one
 * 60-bit hash into its register with two shifts and a max, `merge` is
 * the element-wise register max (exactly the algebra that makes HLL
 * shardable), and partial buffers ship through the shuffle as the bare
 * 256 bytes. Versus the declarative register build in
 * [[graft.operators.Sketches.hllDistinct]] (explode → groupBy(bucket) →
 * max → re-aggregate), the whole sketch is ONE aggregate with no
 * intermediate (group, bucket) rows — the state never leaves a
 * primitive byte array until eval.
 *
 * `eval` returns the registers as `array<int>`; the harmonic-sum /
 * bias-correction arithmetic stays OUTSIDE in ordinary (oracle-
 * mirrorable) expressions, so the native and declarative paths are
 * differentially comparable register-for-register. Bit-compatibility
 * with the declarative build: bucket = h mod 256, w = h >>> 8,
 * rho = 53 − bitlength(w) (= nlz(w) − 11 for a 60-bit hash), identical
 * to the `bin()`-length formulation.
 *
 * Reference analogy: like [[HolisticReduce]], this is the reference's
 * "reduce over grouped values" (common/src/lib.rs:7) specialized to a
 * bounded-state streaming summary — the aggregate a 100 TB pipeline
 * uses where collecting values is impossible.
 */
case class HllSketchAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] with ImplicitCastInputTypes {

  private val M = 256

  // pin the input to LongType so a non-long column fails (or casts) at
  // ANALYSIS, not with a runtime ClassCastException inside update()
  override def inputTypes: Seq[GraftShims.AbstractType] = Seq(LongType)
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_hll_sketch"

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](M)

  override def update(b: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      // md5Long yields 60-bit non-negative hashes; mask defensively so an
      // arbitrary (possibly negative) long can't index b(bucket) < 0
      val h = v.asInstanceOf[Long] & ((1L << 60) - 1)
      val bucket = (h % M).toInt
      val w = h >>> 8
      val rho =
        if (w == 0L) 53 else java.lang.Long.numberOfLeadingZeros(w) - 11
      if (rho > b(bucket)) b(bucket) = rho.toByte
    }
    b
  }

  override def merge(b: Array[Byte], o: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < M) { if (o(i) > b(i)) b(i) = o(i); i += 1 }
    b
  }

  override def eval(b: Array[Byte]): Any =
    new GenericArrayData(b.map(_.toInt))

  override def serialize(b: Array[Byte]): Array[Byte] = b
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes.clone()

  override def withNewMutableAggBufferOffset(o: Int): HllSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(child = c.head)
}

object HllSketch {
  /** Column-level HLL register aggregate over a [[graft.operators.Tables.md5Long]]
    * hash column: returns the 256 registers as `array<int>`. */
  def hllSketch(hash: Column): Column =
    GraftShims.column(
      HllSketchAgg(GraftShims.expression(hash)).toAggregateExpression())
}
