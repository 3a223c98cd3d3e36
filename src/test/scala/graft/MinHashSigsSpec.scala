package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.MinHashSigs

/** Pins [[MinHashSigs]] bit-identical to the HOF form it replaced in the
  * LSH signature path: `hs = transform(ss, s => md5Long(s) % m)`, then
  * `array_min(transform(hs, x => (x*(2i+1) + (i+1)*7919) % m))` per hash.
  * Covers random shingle arrays, empty arrays (all-null mins), null
  * elements (skipped, all-null when nothing survives), and null input. */
class MinHashSigsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val M = 2147483647L
  private val NumHashes = 16

  private def hofMins = (0 until NumHashes).map { i =>
    array_min(transform(col("hs"),
      x => (x * (2 * i + 1) + (i + 1) * 7919L) % M)).as(s"h$i")
  }

  /** `(mha, h0..h15)` over a shingle column `ss`: the native signature
    * beside the HOF family it must equal. */
  private def bothForms(ss: DataFrame): DataFrame =
    ss.select(MinHashSigs.minHashSigs(col("ss"), NumHashes, M).as("mha"),
              transform(col("ss"),
                s => graft.operators.Tables.md5Long(s) % M).as("hs"))
      .select(col("mha") +: hofMins: _*)

  private def mismatches(df: DataFrame): Long =
    df.filter(not((0 until NumHashes)
      .map(i => col("mha")(i) <=> col(s"h$i")).reduce(_ && _))).count()

  test("MinHashSigs equals the array_min(transform(...)) family bit-for-bit") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val rows = Seq.fill(500)(Seq.fill(rnd.nextInt(40))(
      Seq.fill(3)(rnd.alphanumeric.take(1 + rnd.nextInt(8)).mkString).mkString(" "))) ++
      Seq(Seq.empty[String])
    assert(mismatches(bothForms(rows.toDF("ss"))) == 0)
    // an empty shingle array yields all-null mins, like array_min([])
    val empty = bothForms(Seq(Seq.empty[String]).toDF("ss")).head.getSeq[Any](0)
    assert(empty.size == NumHashes && empty.forall(_ == null))
  }

  test("string-array input equals transform(md5Long % m) into the mins family") {
    // pins computeStrings — the kernel Dedup.signaturesOf fuses
    // (md5 → mod → mins) — against the HOF form it replaced, including
    // empty strings, empty arrays, unicode, and null elements
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    val rows = Seq.fill(300)(Seq.fill(rnd.nextInt(12))(
      rnd.alphanumeric.take(rnd.nextInt(20)).mkString)) ++
      Seq(Seq.empty[String], Seq(""), Seq("", "a b c"), Seq("☃ unicode"))
    val withNulls = rows.toDF("ss").union(spark.sql(
      "SELECT array(CAST(NULL AS STRING), 'x') " +
      "UNION ALL SELECT array(CAST(NULL AS STRING))"))
    assert(mismatches(bothForms(withNulls)) == 0)
  }

  test("null elements are skipped like array_min; null input propagates") {
    val withNulls = spark.sql(
      "SELECT array('a b c', CAST(NULL AS STRING), 'd e f') AS ss " +
      "UNION ALL SELECT array(CAST(NULL AS STRING)) " +
      "UNION ALL SELECT CAST(NULL AS ARRAY<STRING>)")
    assert(mismatches(bothForms(withNulls)) == 0)
    // nulls skipped: the signature of [a, null, b] is that of [a, b]
    val skipped = spark.sql(
      "SELECT array('a b c', CAST(NULL AS STRING), 'd e f') AS x, array('a b c', 'd e f') AS y")
      .select(MinHashSigs.minHashSigs(col("x"), NumHashes, M) ===
              MinHashSigs.minHashSigs(col("y"), NumHashes, M))
    assert(skipped.head.getBoolean(0))
    // an all-null element array yields all-null mins
    val allNull = spark.sql("SELECT array(CAST(NULL AS STRING)) AS ss")
      .select(MinHashSigs.minHashSigs(col("ss"), NumHashes, M)).head.getSeq[Any](0)
    assert(allNull.size == NumHashes && allNull.forall(_ == null))
    // whole-array null input → null result, like any unary expression
    val n = spark.sql("SELECT CAST(NULL AS ARRAY<STRING>) AS ss")
      .select(MinHashSigs.minHashSigs(col("ss"), NumHashes, M).as("mha"))
    assert(n.head.isNullAt(0))
  }
}
