package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Native vector expressions: codegen correctness and bit-equality with
  * the HOF formulations they replaced. */
class VectorFunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("native expression is bit-identical to the HOF fold on random vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(200)((
      Array.fill(64)(rnd.nextDouble() * 2 - 1),
      Array.fill(64)(rnd.nextDouble() * 2 - 1)))
    val df = rows.toDF("a", "b")
    val both = df.select(
      VectorFunctions.dotProduct(col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
                lit(0.0), (acc, x) => acc + x).as("hof"))
    val mismatches = both.filter(col("native") =!= col("hof")).count()
    assert(mismatches == 0)
    // null propagation
    assert(spark.range(1).select(VectorFunctions.dotProduct(
        lit(null).cast("array<double>"), array(lit(1.0))).isNull)
      .head.getBoolean(0))
  }

  test("NearestCentroid matches the literal array_max formulation, ties included") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val dim = 16
    val k = 6
    val cents = Array.fill(k)(Array.fill(dim)(rnd.nextDouble() * 2 - 1))
    // duplicate one centroid under a LARGER id so the tie must resolve to
    // the smaller id by the argmax rule, not by array order
    cents(4) = cents(1).clone()
    val cns = cents.map(cv => math.sqrt(cv.foldLeft(0.0)((a, x) => a + x * x)))
    val ids = Array(3L, 7L, 11L, 20L, 25L, 31L)
    val rows = Seq.fill(500)(Array.fill(dim)(rnd.nextDouble() * 2 - 1))
    val df = rows.toDF("v")
      .withColumn("nrm", sqrt(VectorFunctions.dotProduct(col("v"), col("v"))))
    // the pre-r11 formulation: k literal arrays + array_max over
    // struct(ccos, -id) — greatest cosine, ties to the smallest id
    val scores = array(cents.zipWithIndex.map { case (cv, j) =>
      struct(
        (VectorFunctions.dotProduct(col("v"), array(cv.map(lit).toIndexedSeq: _*))
           / (col("nrm") * lit(cns(j)))).as("ccos"),
        lit(-ids(j)).as("negc"))
    }.toIndexedSeq: _*)
    val both = df.select(
      VectorFunctions.nearestCentroid(col("v"), col("nrm"), cents, cns, ids)
        .as("native"),
      (-array_max(scores).getField("negc")).as("literal"))
    assert(both.filter(col("native") =!= col("literal")).count() == 0)
    // a centroid-duplicate tie definitely occurs for the nearest=cents(1)
    // rows; spot-check one row resolves to id 7, never 25
    assert(both.filter(col("native") === 25L).count() == 0
      || both.filter(col("literal") === 25L).count() > 0)
    // null propagation
    val nulls = spark.sql("SELECT CAST(NULL AS ARRAY<DOUBLE>) AS v, 1.0d AS nrm")
      .select(VectorFunctions.nearestCentroid(col("v"), col("nrm"),
        cents, cns, ids).as("c"))
    assert(nulls.head.isNullAt(0))
  }

  test("PqAssign matches the per-subspace array_min HOF formulation, ties included") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val subDim = 8
    val m = 4
    val k = 6
    // per-subspace codebooks; duplicate a centroid in subspace 2 under a
    // LARGER code so the tie must resolve to the smaller code
    val books = Array.fill(m)(Array.fill(k)(Array.fill(subDim)(rnd.nextDouble() * 2 - 1)))
    books(2)(4) = books(2)(1).clone()
    val codes = Array.fill(m)(Array(3L, 7L, 11L, 20L, 25L, 31L))
    val rows = Seq.fill(400)(Array.fill(m * subDim)(rnd.nextDouble() * 2 - 1))
    val df = rows.toDF("v")
    // the pre-r12 formulation: per subspace, array_min over literal
    // struct(l2sq, code) — smallest distance, ties to the smallest code
    def l2sq(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
                lit(0.0), (acc, x) => acc + x)
    val hofCodes = array((0 until m).map { s =>
      val sub = slice(col("v"), s * subDim + 1, subDim)
      val scores = array(books(s).zipWithIndex.map { case (cv, j) =>
        struct(l2sq(sub, array(cv.map(lit).toIndexedSeq: _*)).as("d"),
               lit(codes(s)(j)).as("c"))
      }.toIndexedSeq: _*)
      array_min(scores).getField("c")
    }: _*)
    val both = df.select(
      VectorFunctions.pqAssign(col("v"), books, codes, subDim).as("native"),
      hofCodes.as("hof"))
    assert(both.filter(not(col("native") <=> col("hof"))).count() == 0)
    // the subspace-2 duplicate-centroid tie resolves to code 7, never 25
    val s2 = both.select(element_at(col("native"), 3).as("c2"))
    assert(s2.filter(col("c2") === 25L).count() == 0)
    assert(s2.filter(col("c2") === 7L).count() > 0)
    // null propagation
    val nulls = spark.sql("SELECT CAST(NULL AS ARRAY<DOUBLE>) AS v")
      .select(VectorFunctions.pqAssign(col("v"), books, codes, subDim).as("c"))
    assert(nulls.head.isNullAt(0))
  }
  test("DotProductLong is bit-identical to the integer HOF fold") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val rows = Seq.fill(200)((
      Array.fill(64)((rnd.nextInt(255) - 127).toLong),
      Array.fill(64)((rnd.nextInt(255) - 127).toLong)))
    val df = rows.toDF("a", "b")
    val both = df.select(
      VectorFunctions.dotProductLong(col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
                lit(0L), (acc, x) => acc + x).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
    // null propagation; empty arrays dot to 0
    val edges = spark.sql(
      "SELECT CAST(NULL AS ARRAY<BIGINT>) AS n, CAST(array() AS ARRAY<BIGINT>) AS e")
      .select(VectorFunctions.dotProductLong(col("n"), col("e")).as("np"),
              VectorFunctions.dotProductLong(col("e"), col("e")).as("z"))
      .head
    assert(edges.isNullAt(0) && edges.getLong(1) == 0L)
  }
}
