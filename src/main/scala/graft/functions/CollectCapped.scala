package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Growable long buffer that STOPS RETAINING past `limit` entries (the
  * total seen count is the caller's separate `count(*)` column). */
final class CappedLongBuffer(val limit: Int) {
  // start tiny: in the df-capped inverted-index workloads most groups
  // hold 1-2 entries, and millions of live buffers make per-group slack
  // the dominant heap cost
  var arr: Array[Long] = new Array[Long](math.min(limit, 2))
  var n: Int = 0
  def add(v: Long): Unit = if (n < limit) {
    if (n == arr.length) arr = java.util.Arrays.copyOf(arr, math.min(limit, arr.length * 2))
    arr(n) = v
    n += 1
  }
}

/**
 * `collect_list` over a long column with a hard retention cap [EXT] —
 * the bounded-state posting-list builder for the df-capped inverted-index
 * family ([[graft.operators.Dedup.shinglePairCountsFromHashed]],
 * [[graft.operators.Sampling.splitNgramDecontam]]) and the capped MinHash
 * LSH buckets (`Dedup.bucketsOf`, cap [[graft.operators.Dedup.MaxBucketDocs]]).
 *
 * Those queries aggregate `(count(*) AS df, collect_list(doc_id))` per
 * token/shingle hash and then DISCARD rows with `df > cap` (boilerplate:
 * license headers, scraped templates). Plain `collect_list` builds the
 * full posting list BEFORE the filter sees it — for a shingle present in
 * a billion documents that is a billion-entry executor buffer, the exact
 * unbounded-state failure the df cap exists to prevent. This aggregate
 * stops RETAINING at `limit` entries (counting continues outside, via
 * the separate `count(*)`): rows that survive the `df ≤ cap` filter have
 * `df ≤ cap < limit = cap + 1`, so their lists are provably complete and
 * bit-identical to `collect_list`'s multiset (callers sort before use,
 * making partial-buffer merge order immaterial); rows past the cap carry
 * a truncated list but are discarded by the exact `df` count before
 * anything observes it. State per group is ≤ `limit` longs — mergeable
 * bounded state, the [[TopKByCount]]/[[HllSketchAgg]] algebra applied to
 * posting lists.
 *
 * Null inputs are skipped, matching `collect_list`.
 */
case class CollectLongsCapped(
    child: Expression,
    limit: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CappedLongBuffer] {

  require(limit > 0, "limit must be positive")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_collect_longs_capped"

  override def createAggregationBuffer(): CappedLongBuffer =
    new CappedLongBuffer(limit)

  override def update(b: CappedLongBuffer, input: InternalRow): CappedLongBuffer = {
    val v = child.eval(input)
    if (v != null) b.add(v.asInstanceOf[Long])
    b
  }

  override def merge(b: CappedLongBuffer, o: CappedLongBuffer): CappedLongBuffer = {
    var i = 0
    while (i < o.n && b.n < b.limit) { b.add(o.arr(i)); i += 1 }
    b
  }

  override def eval(b: CappedLongBuffer): Any =
    new GenericArrayData(java.util.Arrays.copyOf(b.arr, b.n))

  override def serialize(b: CappedLongBuffer): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(4 + 8 * b.n)
    out.putInt(b.n)
    var i = 0
    while (i < b.n) { out.putLong(b.arr(i)); i += 1 }
    out.array()
  }

  override def deserialize(bytes: Array[Byte]): CappedLongBuffer = {
    val in = java.nio.ByteBuffer.wrap(bytes)
    val b = createAggregationBuffer()
    val n = in.getInt()
    var i = 0
    while (i < n) { b.add(in.getLong()); i += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): CollectLongsCapped =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CollectLongsCapped =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}

object CollectLongsCapped {
  /** Column-level capped collect: the long values in encounter order,
    * retention stopping at `limit` entries. Because retention stops
    * exactly at `limit`, `size(result) = min(df, limit)` — so a caller
    * filtering `size(result) ≤ limit − 1` keeps precisely the groups
    * with `df ≤ limit − 1`, whose lists are provably complete, with no
    * separate `count(*)` column needed. */
  def collectLongsCapped(child: Column, limit: Int): Column =
    GraftShims.column(CollectLongsCapped(
      GraftShims.expression(child), limit).toAggregateExpression())
}
