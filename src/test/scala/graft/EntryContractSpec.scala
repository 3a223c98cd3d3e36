package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/**
 * The driver contract, end-to-end on sf0.001: every registered query runs
 * and yields a sane result; every query has its DuckDB oracle twin. (Value
 * correctness against DuckDB is the driver's t2 gate, exercised locally via
 * tools/check.py — these smokes keep `sbt test` self-contained.)
 */
class EntryContractSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("entry() returns rows (driver t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle names a query; every query has an oracle") {
    // since round 3 even the sketch surface (agg_approx) is hash-gated:
    // it emits ε-bound verdicts the oracle asserts as literal TRUEs
    assert((SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet).isEmpty)
    assert((SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet).isEmpty)
  }

  test("only Sessions.scala builds a SparkSession in src/main") {
    // every harness entry point gets the session the bench measures from
    // Sessions.harness; a hand-rolled builder elsewhere drifts from it
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"$root not found")
    val files = java.nio.file.Files.walk(root)
    val builders =
      try files.iterator.asScala.toSeq
        .filter(p => p.toString.endsWith(".scala") &&
          java.nio.file.Files.readString(p).contains("SparkSession.builder"))
        .map(root.relativize(_).toString)
      finally files.close()
    assert(builders == Seq("graft/Sessions.scala"),
      s"SparkSession.builder outside Sessions.scala: $builders")
  }

  /** Queries whose correct answer on this data is legitimately empty. */
  private val mayBeEmpty = Set("join_anti",
    // sf0.001's near-dup clusters are cliques: every wedge closes, so
    // there is no non-edge to predict (2 rows at sf0.01, 478 at sf1)
    "graph_common_neighbors", "graph_jaccard_links")

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs on sf0.001") {
      val df = fn(spark, TestSpark.Sf0001)
      assert(df.columns.nonEmpty)
      val n = df.count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned no rows")
      // standing rescan gate (VERDICT r16 item 3): the post-AQE plan may
      // not scan a table more often than the RescanAudit allowlist pins —
      // a new AQE-detached multi-consumer subtree fails HERE, in CI,
      // instead of surfacing as an sf1 perf mystery rounds later
      val v = graft.tools.RescanAudit.violation(
        name, graft.tools.RescanAudit.multiScans(df))
      assert(v.isEmpty, s"RESCAN: ${v.getOrElse("")}")
    }
  }
}
