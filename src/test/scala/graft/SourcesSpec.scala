package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.functions._

/** Source-format breadth: the documents table survives CSV and JSON
  * round-trips value-exactly (with explicit schemas — headers/inference
  * are not part of the contract at scale). */
class SourcesSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private var dir: String = _

  override def beforeAll(): Unit =
    dir = java.nio.file.Files.createTempDirectory("graft_fmt").toString

  override def afterAll(): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm); f.delete()
    }
    rm(new java.io.File(dir))
  }

  private def docs = graft.operators.Tables.t(spark, TestSpark.Sf0001, "documents")

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(docs.columns.map(col): _*).collect().map(_.mkString("")).sorted.toSeq

  test("csv round-trip is value-exact") {
    val out = s"$dir/docs_csv"
    docs.write.mode("overwrite").option("header", "true").csv(out)
    val back = spark.read.schema(docs.schema).option("header", "true").csv(out)
    assert(canon(back) == canon(docs))
  }

  test("json round-trip is value-exact") {
    val out = s"$dir/docs_json"
    docs.write.mode("overwrite").json(out)
    val back = spark.read.schema(docs.schema).json(out)
    assert(canon(back) == canon(docs))
  }

  test("text kv sink round-trip preserves the documents word multiset") {
    // the MR engine's own sink/source pair on real data
    val result = graft.mr.MrJob.run(
      graft.mr.MrJob.tableInput(docs, "doc_id", "text"),
      graft.mr.MrApps.load("wc"))
    val out = s"$dir/wc_text"
    graft.mr.MrJob.writeText(result, out)
    val back = graft.mr.MrJob.readText(spark, out).collect().toSeq
    val direct = result.collect().map(kv => s"${kv.key} ${kv.value}").sorted.toSeq
    assert(back == direct)
  }

  test("schema evolution: mergeSchema unions generations, old files backfill added columns with null") {
    // the lakehouse reality at 100 TB: a table written over months gains
    // columns; readers must see the union schema without rewriting history
    val dir = java.nio.file.Files.createTempDirectory("graft_evo").toString
    try {
      import spark.implicits._
      Seq((1L, "a"), (2L, "b")).toDF("id", "name")
        .write.mode("append").parquet(dir)
      Seq((3L, "c", 30), (4L, "d", 40)).toDF("id", "name", "score")
        .write.mode("append").parquet(dir)
      val merged = spark.read.option("mergeSchema", "true").parquet(dir)
      assert(merged.schema.fieldNames.sorted.toSeq == Seq("id", "name", "score"))
      val rows = merged.collect()
        .map(r => (r.getLong(r.fieldIndex("id")),
                   if (r.isNullAt(r.fieldIndex("score"))) None
                   else Some(r.getInt(r.fieldIndex("score"))))).toMap
      assert(rows(1L).isEmpty && rows(2L).isEmpty) // old generation: null backfill
      assert(rows(3L).contains(30) && rows(4L).contains(40))
      // and WITHOUT mergeSchema the footer-sampled schema may drop the new
      // column — the default is not safe for evolved tables (why pipelines
      // pin mergeSchema or a catalog schema)
      val unmergedFields = spark.read.parquet(dir).schema.fieldNames.toSet
      assert(unmergedFields.contains("id")) // present either way; the point is the option above
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }
}
