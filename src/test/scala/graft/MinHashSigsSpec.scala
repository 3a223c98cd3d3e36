package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.MinHashSigs

/** Pins [[MinHashSigs]] bit-identical to the 16-HOF form it replaced in
  * the row-local streaming signature path:
  * `array_min(transform(hs, x => (x*(2i+1) + (i+1)*7919) % m))` per hash.
  * Covers random md5-range values, empty arrays (all-null mins), null
  * elements (skipped, all-null when nothing survives), and null input. */
class MinHashSigsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val M = 2147483647L
  private val NumHashes = 16

  private def hofMins = (0 until NumHashes).map { i =>
    array_min(transform(col("hs"),
      x => (x * (2 * i + 1) + (i + 1) * 7919L) % M)).as(s"h$i")
  }

  test("MinHashSigs equals the array_min(transform(...)) family bit-for-bit") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val rows = Seq.fill(500)(
      Seq.fill(rnd.nextInt(40))(math.abs(rnd.nextLong()) % M)) ++
      Seq(Seq.empty[Long], Seq(0L), Seq(M - 1), Seq.fill(3)(M - 1))
    val df = rows.toDF("hs")
      .select(col("hs"), MinHashSigs.minHashSigs(col("hs"), NumHashes, M).as("mha"))
      .select(col("mha") +: hofMins: _*)
    val bad = df.filter(not((0 until NumHashes)
      .map(i => col("mha")(i) <=> col(s"h$i")).reduce(_ && _)))
    assert(bad.count() == 0)
  }

  test("string-array input equals transform(md5Long % m) into the mins family") {
    // pins the computeStrings branch — the one
    // Dedup.bandedSignaturesOf actually fuses (md5 → mod → mins) —
    // directly against the r16 HOF form it replaced, including empty
    // strings, empty arrays, unicode, and null elements (ADVICE r17)
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    val rows = Seq.fill(300)(Seq.fill(rnd.nextInt(12))(
      rnd.alphanumeric.take(rnd.nextInt(20)).mkString)) ++
      Seq(Seq.empty[String], Seq(""), Seq("", "a b c"), Seq("☃ unicode"))
    val withNulls = rows.toDF("ss").union(spark.sql(
      "SELECT array(CAST(NULL AS STRING), 'x') " +
      "UNION ALL SELECT array(CAST(NULL AS STRING))"))
    val df = withNulls
      .select(MinHashSigs.minHashSigs(col("ss"), NumHashes, M).as("mha"),
              transform(col("ss"),
                s => graft.operators.Tables.md5Long(s) % M).as("hs"))
      .select(col("mha") +: hofMins: _*)
    val bad = df.filter(not((0 until NumHashes)
      .map(i => col("mha")(i) <=> col(s"h$i")).reduce(_ && _)))
    assert(bad.count() == 0)
  }

  test("null elements are skipped like array_min; null input propagates") {
    val withNulls = spark.sql(
      "SELECT array(CAST(5 AS BIGINT), CAST(NULL AS BIGINT), CAST(9 AS BIGINT)) AS hs " +
      "UNION ALL SELECT array(CAST(NULL AS BIGINT)) " +
      "UNION ALL SELECT CAST(NULL AS ARRAY<BIGINT>)")
    val df = withNulls
      .select(col("hs"), MinHashSigs.minHashSigs(col("hs"), NumHashes, M).as("mha"))
      .select(col("mha") +: hofMins: _*)
    val bad = df.filter(not((0 until NumHashes)
      .map(i => col("mha")(i) <=> col(s"h$i")).reduce(_ && _)))
    assert(bad.count() == 0)
    // whole-array null input → null result, like any unary expression
    val n = spark.sql("SELECT CAST(NULL AS ARRAY<BIGINT>) AS hs")
      .select(MinHashSigs.minHashSigs(col("hs"), NumHashes, M).as("mha"))
    assert(n.head.isNullAt(0))
  }
}
