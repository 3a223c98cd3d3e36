package graft.functions

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Mutable per-group state for [[HolisticReduce]]: the group key (every row
  * in a group carries the same key — first seen wins), copied out of the
  * input row, plus the collected values in arrival order, kept as their
  * UTF-8 bytes: `bytes(0 until size)` holds `count` records of a 4-byte
  * big-endian length followed by that many bytes. Nothing is decoded to a
  * `String` until [[HolisticReduce.eval]]. */
final class HolisticReduceBuffer {
  var key: UTF8String = _
  var bytes: Array[Byte] = HolisticReduceBuffer.NoBytes
  var size: Int = 0
  var count: Int = 0

  /** Appends one value, copying its bytes (the row it came from is reused). */
  def add(v: UTF8String): Unit = {
    val n = v.numBytes
    reserve(4 + n)
    HolisticReduceBuffer.putInt(bytes, size, n)
    v.writeToMemory(bytes, Platform.BYTE_ARRAY_OFFSET + size + 4)
    size += 4 + n
    count += 1
  }

  /** Appends every value of `o` after this buffer's own. */
  def addAll(o: HolisticReduceBuffer): Unit = {
    reserve(o.size)
    System.arraycopy(o.bytes, 0, bytes, size, o.size)
    size += o.size
    count += o.count
  }

  /** The values in arrival order, each a `UTF8String` over this buffer's
    * bytes (no copy: valid until the buffer next grows). */
  def values: Array[UTF8String] = {
    val out = new Array[UTF8String](count)
    var pos = 0
    var i = 0
    while (i < count) {
      val n = HolisticReduceBuffer.getInt(bytes, pos)
      out(i) = UTF8String.fromBytes(bytes, pos + 4, n)
      pos += 4 + n
      i += 1
    }
    out
  }

  private def reserve(extra: Int): Unit = {
    val need = size.toLong + extra
    if (need > bytes.length) {
      require(need <= HolisticReduceBuffer.MaxSize,
        s"graft_mr_reduce: one group's values exceed ${HolisticReduceBuffer.MaxSize} bytes")
      val grown = math.max(need, math.max(HolisticReduceBuffer.InitialCapacity.toLong,
        math.min(bytes.length * 2L, HolisticReduceBuffer.MaxSize.toLong)))
      bytes = java.util.Arrays.copyOf(bytes, grown.toInt)
    }
  }
}

object HolisticReduceBuffer {
  /** Bytes allocated on a buffer's first value; doubled from there. */
  val InitialCapacity = 32
  private val MaxSize = Int.MaxValue - 8
  private val NoBytes = new Array[Byte](0)

  private[functions] def putInt(a: Array[Byte], at: Int, v: Int): Unit = {
    a(at) = (v >>> 24).toByte; a(at + 1) = (v >>> 16).toByte
    a(at + 2) = (v >>> 8).toByte; a(at + 3) = v.toByte
  }

  private[functions] def getInt(a: Array[Byte], at: Int): Int =
    (a(at) << 24) | ((a(at + 1) & 0xff) << 16) | ((a(at + 2) & 0xff) << 8) | (a(at + 3) & 0xff)
}

/**
 * The reference's holistic reduce (`common/src/lib.rs:7`: `fn reduce(&self,
 * k: String, vs: Vec<String>) -> String`, applied over the value list the
 * engine sorted — `worker.rs:174,181`) as a native Catalyst
 * [[TypedImperativeAggregate]].
 *
 * Versus the declarative `sort_array(collect_list(v))` + scalar-UDF
 * formulation it replaces in the engine hot path:
 *  - values accumulate as raw UTF-8 bytes in one growable array — no
 *    per-value `String`, no per-group UnsafeArrayData materialization, no
 *    array-column copy through the ScalaUDF converter boundary;
 *  - the buffer is its own serialized form: `serialize` is a small header
 *    (key, value count) plus one copy of the value bytes, `deserialize`
 *    the reverse, and `merge` appends bytes. That is what partial
 *    aggregation costs wherever it runs: across a shuffle when a plain
 *    `GROUP BY` plans partial and final aggregates on either side of it,
 *    or inside one task when the object-aggregate falls back to sorting
 *    (more groups than `spark.sql.objectHashAggregate.sortBased
 *    .fallbackThreshold`) or the partial and final aggregates run back to
 *    back, as in [[graft.mr.MrJob.run]];
 *  - the §1.4 value-sort happens once per group at eval time, on the
 *    final merged buffer, instead of as a separate expression pass, and
 *    values are decoded to `String`s only there, each distinct value once.
 *
 * Semantics are identical by construction: eval sorts the values by their
 * UTF-8 bytes — the order of Rust's `String` (the reference sorts
 * `Vec<(String, String)>`) and of Spark's `sort_array` on strings — and
 * hands `(key, sortedValues)` to the same app reduce fn. Per-group memory
 * remains O(values-per-key) — the reference's own behavior
 * (`worker.rs:150-176`).
 */
case class HolisticReduce(
    keyChild: Expression,
    valueChild: Expression,
    reducer: (String, Seq[String]) => String,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[HolisticReduceBuffer] with ImplicitCastInputTypes {

  override def children: Seq[Expression] = Seq(keyChild, valueChild)
  // SQL callers may pass non-string key/value columns: the analyzer casts
  // them (the declared element type, AbstractDataType, is private to Spark)
  override def inputTypes = Seq(StringType, StringType)
  override def nullable: Boolean = true
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_mr_reduce"

  override def createAggregationBuffer(): HolisticReduceBuffer =
    new HolisticReduceBuffer

  override def update(b: HolisticReduceBuffer, input: InternalRow): HolisticReduceBuffer = {
    if (b.key == null) {
      val k = keyChild.eval(input)
      if (k != null) b.key = k.asInstanceOf[UTF8String].copy()
    }
    val v = valueChild.eval(input)
    if (v != null) b.add(v.asInstanceOf[UTF8String])
    b
  }

  override def merge(b: HolisticReduceBuffer, o: HolisticReduceBuffer): HolisticReduceBuffer = {
    if (b.key == null) b.key = o.key
    b.addAll(o)
    b
  }

  override def eval(b: HolisticReduceBuffer): Any = {
    val vs = b.values
    java.util.Arrays.sort(vs, (x: UTF8String, y: UTF8String) => x.binaryCompare(y))
    // equal values are adjacent now, so each distinct value is decoded once
    val strings = new Array[String](vs.length)
    var i = 0
    while (i < vs.length) {
      strings(i) =
        if (i > 0 && vs(i).binaryEquals(vs(i - 1))) strings(i - 1) else vs(i).toString
      i += 1
    }
    val key = if (b.key == null) "" else b.key.toString
    UTF8String.fromString(reducer(key, ArraySeq.unsafeWrapArray(strings)))
  }

  // [keyLen, -1 when no key][key bytes][count][the buffer's value bytes]
  override def serialize(b: HolisticReduceBuffer): Array[Byte] = {
    val keyLen = if (b.key == null) -1 else b.key.numBytes
    val head = 8 + math.max(keyLen, 0)
    val out = new Array[Byte](head + b.size)
    HolisticReduceBuffer.putInt(out, 0, keyLen)
    if (b.key != null) b.key.writeToMemory(out, Platform.BYTE_ARRAY_OFFSET + 4)
    HolisticReduceBuffer.putInt(out, head - 4, b.count)
    System.arraycopy(b.bytes, 0, out, head, b.size)
    out
  }

  override def deserialize(in: Array[Byte]): HolisticReduceBuffer = {
    val b = new HolisticReduceBuffer
    val keyLen = HolisticReduceBuffer.getInt(in, 0)
    val head = 8 + math.max(keyLen, 0)
    if (keyLen >= 0) b.key = UTF8String.fromBytes(java.util.Arrays.copyOfRange(in, 4, head - 4))
    b.count = HolisticReduceBuffer.getInt(in, head - 4)
    b.bytes = java.util.Arrays.copyOfRange(in, head, in.length)
    b.size = b.bytes.length
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): HolisticReduce =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HolisticReduce =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(keyChild = newChildren(0), valueChild = newChildren(1))
}

object HolisticReduce {
  import org.apache.spark.sql.{Column, GraftShims}

  /** Column-level holistic reduce: `holisticReduce(app)(key, value)` inside
    * a `groupBy(key).agg(...)`. */
  def apply(reducer: (String, Seq[String]) => String)(key: Column, value: Column): Column =
    GraftShims.column(
      new HolisticReduce(GraftShims.expression(key), GraftShims.expression(value), reducer)
        .toAggregateExpression())
}
