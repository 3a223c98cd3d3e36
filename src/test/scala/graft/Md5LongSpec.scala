package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native [[graft.functions.Md5Long60]] must be bit-identical to the
  * composed `conv(substring(md5(x),1,15),16,10)` it replaced — that
  * composed form is what every DuckDB oracle still spells out, so a
  * single differing bit would break every dedup/sampling hash gate. */
class Md5LongSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def randomStrings(seed: Long, n: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { _ =>
      val len = rnd.nextInt(64)
      new String((0 until len).map { _ =>
        // bias toward ASCII but sweep the BMP (multi-byte UTF-8 paths)
        if (rnd.nextInt(4) > 0) (32 + rnd.nextInt(95)).toChar
        else (0x20 + rnd.nextInt(0xd700)).toChar
      }.toArray)
    }
  }

  test("native == composed on edge cases + 5000 seeded random strings (incl. null)") {
    import spark.implicits._
    val data = Seq("", "a", "hello world", "sep", "émojis 🙂 ütf",
      "0", "deadbeef", " leading and trailing  ", "line\nbreak\ttab") ++
      (0 until 2000).map(i => s"doc_$i token$i ${i * 2654435761L}") ++
      randomStrings(seed = 0xba5eba11L, n = 5000)
    val df = (data.map(Option(_)) :+ None).toDF("s")
    val bad = df.select(
        graft.operators.Tables.md5Long(col("s")).as("native"),
        graft.operators.Tables.md5LongComposed(col("s")).as("composed"))
      .filter(!(col("native") <=> col("composed")))
      .count()
    assert(bad == 0L)
  }

  test("column form == imperative twin (mapPartitions paths share the hash)") {
    import spark.implicits._
    val data = Seq("", "x", "the same bytes") ++ randomStrings(0x5eedL, 500)
    val fromCol = data.toDF("s")
      .select(graft.operators.Tables.md5Long(col("s")))
      .collect().map(_.getLong(0)).toSeq
    val fromScala = data.map(s =>
      graft.operators.Tables.md5LongOf(s.getBytes("UTF-8")))
    assert(fromCol == fromScala)
  }

  test("interpreted (non-codegen) eval matches codegen") {
    // nullSafeEval path, as the interpreted projection would run it
    val lit = org.apache.spark.sql.catalyst.expressions.Literal("abc")
    val e = graft.functions.Md5Long60(lit)
    val interpreted = e.eval(null).asInstanceOf[Long]
    import spark.implicits._
    val codegen = Seq("abc").toDF("s")
      .select(graft.operators.Tables.md5Long(col("s"))).head().getLong(0)
    assert(interpreted == codegen)
    // and the known value: first 15 hex chars of md5("abc")
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest("abc".getBytes("UTF-8")).map(b => f"$b%02x").mkString
    assert(interpreted == java.lang.Long.parseLong(hex.take(15), 16))
  }
}
