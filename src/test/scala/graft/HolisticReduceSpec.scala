package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{HolisticReduce, HolisticReduceBuffer}
import graft.mr.MrJob

/** The [[HolisticReduce]] buffer format on its own, without a session:
  * update, serialize, deserialize, merge and eval called directly. */
class HolisticReduceSpec extends AnyFunSuite {

  /** The aggregate over rows `(key, value)`; eval returns the key and the
    * sorted values it handed the reducer, joined by U+0001. */
  private val agg = HolisticReduce(
    BoundReference(0, StringType, nullable = true),
    BoundReference(1, StringType, nullable = true),
    (k, vs) => (k +: vs).mkString("\u0001"))

  private def buffer(key: String, values: Seq[String]): HolisticReduceBuffer =
    values.foldLeft(agg.createAggregationBuffer()) { (b, v) =>
      agg.update(b, InternalRow(UTF8String.fromString(key), UTF8String.fromString(v)))
    }

  private def roundTrip(b: HolisticReduceBuffer): HolisticReduceBuffer =
    agg.deserialize(agg.serialize(b))

  /** (key, values) as the reducer saw them. */
  private def evaluated(b: HolisticReduceBuffer): (String, Seq[String]) = {
    val parts = agg.eval(b).toString.split("\u0001", -1).toSeq
    (parts.head, parts.tail)
  }

  private val multiByte = Seq("😀", "日本", "z", "é", "�", "a")

  test("round trip keeps key and values: multi-byte UTF-8, sorted by bytes at eval") {
    val b = roundTrip(buffer("kéy", multiByte))
    assert(b.count == multiByte.size)
    assert(evaluated(b) == ("kéy", multiByte.sorted(MrJob.Utf8Order)))
    assert(evaluated(b)._2 == Seq("a", "z", "é", "日本", "�", "😀"))
  }

  test("round trip of a null key: no key after deserialize, reduced as the empty key") {
    val b = buffer(null, Seq("x", "y"))
    assert(b.key == null)
    val back = roundTrip(b)
    assert(back.key == null && back.count == 2)
    assert(evaluated(back) == ("", Seq("x", "y")))
  }

  test("round trip of zero values and of an empty-string value") {
    val none = roundTrip(agg.createAggregationBuffer())
    assert(none.key == null && none.count == 0 && none.size == 0)
    assert(evaluated(none) == ("", Seq()))
    val nullsOnly = agg.update(agg.createAggregationBuffer(),
      InternalRow(UTF8String.fromString("k"), null))
    assert(evaluated(roundTrip(nullsOnly)) == ("k", Seq()))
    val empty = roundTrip(buffer("k", Seq("")))
    assert(empty.count == 1)
    assert(evaluated(empty) == ("k", Seq("")))
  }

  test("a buffer grown past its initial capacity round-trips whole") {
    val values = (0 until 300).map(i => "v" * (i % 7) + i)
    val b = buffer("k", values)
    assert(b.size > HolisticReduceBuffer.InitialCapacity)
    // the serialized form is a small header plus the value bytes as held
    assert(agg.serialize(b).length == 4 + 1 + 4 + b.size)
    val back = roundTrip(b)
    assert(back.count == values.size && back.size == b.size)
    assert(evaluated(back) == ("k", values.sorted(MrJob.Utf8Order)))
  }

  test("merge of two deserialized buffers: counts add, values sort together") {
    val left = (0 until 40).map(i => s"l$i") ++ multiByte
    val right = (0 until 25).map(i => s"r$i") ++ multiByte
    val merged = agg.merge(roundTrip(buffer("k", left)), roundTrip(buffer("k", right)))
    assert(merged.count == left.size + right.size)
    assert(merged.key.toString == "k")
    assert(evaluated(merged) == ("k", (left ++ right).sorted(MrJob.Utf8Order)))
    // a keyless buffer takes the other side's key
    val adopted = agg.merge(roundTrip(agg.createAggregationBuffer()), roundTrip(buffer("k2", right)))
    assert(evaluated(adopted) == ("k2", right.sorted(MrJob.Utf8Order)))
  }
}
