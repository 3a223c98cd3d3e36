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

  test("the registry declares 214 queries under 214 distinct names") {
    // a name declared twice would fail SparkEntry's own require when the
    // table loads; this pins the surface size the maps are derived from
    val names = SparkEntry.table.map(_.name)
    assert(names.size == 214)
    assert(names.distinct.size == 214)
    assert(SparkEntry.queries.size == 214 && SparkEntry.oracleSql.size == 214)
  }

  /** The .scala files under `dir`, sorted by relative path. */
  private def scalaSources(dir: String): Seq[java.nio.file.Path] = {
    val root = java.nio.file.Paths.get(dir)
    assert(java.nio.file.Files.isDirectory(root), s"$root not found")
    val files = java.nio.file.Files.walk(root)
    try files.iterator.asScala.toSeq.filter(_.toString.endsWith(".scala"))
      .sortBy(root.relativize(_).toString)
    finally files.close()
  }

  /** Files under src/main/scala (relative paths, sorted) containing `text`. */
  private def mainSourcesWith(text: String): Seq[String] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    scalaSources("src/main/scala")
      .filter(p => java.nio.file.Files.readString(p).contains(text))
      .map(root.relativize(_).toString)
  }

  test("every spec named in src/main has a file under src/test") {
    // a comment citing a renamed or folded spec sends its reader nowhere;
    // WindowSpec is Spark's window type, not a spec
    val named = scalaSources("src/main/scala")
      .flatMap(p => "\\b[A-Z]\\w*Spec\\b".r.findAllIn(java.nio.file.Files.readString(p)))
      .toSet - "WindowSpec"
    val specs = scalaSources("src/test/scala")
      .map(_.getFileName.toString.stripSuffix(".scala")).toSet
    assert(named.nonEmpty && (named -- specs).isEmpty,
      s"specs named in src/main with no file under src/test: ${(named -- specs).toSeq.sorted}")
  }

  test("only Sessions.scala builds a SparkSession in src/main") {
    // every harness entry point gets the session the bench measures from
    // Sessions.harness; a hand-rolled builder elsewhere drifts from it
    val builders = mainSourcesWith("SparkSession.builder")
    assert(builders == Seq("graft/Sessions.scala"),
      s"SparkSession.builder outside Sessions.scala: $builders")
  }

  test("only Prof.scala installs listeners in src/main; no tool sleeps") {
    // Prof attributes events by job tag and drains the listener bus
    // exactly; a second hand-rolled listener would race the bus again
    for (call <- Seq("addSparkListener", "streams.addListener"))
      assert(mainSourcesWith(call) == Seq("graft/tools/Prof.scala"),
        s"$call outside Prof.scala: ${mainSourcesWith(call)}")
    val sleepers = mainSourcesWith("Thread.sleep").filter(_.startsWith("graft/tools/"))
    assert(sleepers.isEmpty, s"Thread.sleep under graft/tools: $sleepers")
  }

  test("Verify.jsonString round-trips control characters through a JSON parser") {
    // RescanAudit writes Spark error messages (multi-line) through the
    // same escaper Verify writes oracle_sql.json with
    val msg = "ERR q: [X] failed\nline 2\twith \"quotes\" \\ and \u0001"
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(Verify.jsonString(msg), classOf[String])
    assert(parsed == msg)
  }

  /** Queries whose correct answer on this data is legitimately empty. */
  private val mayBeEmpty = Set("join_anti",
    // sf0.001's near-dup clusters are cliques: every wedge closes, so
    // there is no non-edge to predict (2 rows at sf0.01, 478 at sf1)
    "graph_common_neighbors", "graph_jaccard_links")

  for (name <- SparkEntry.queries.keys.toSeq.sorted) {
    test(s"$name runs on sf0.001") {
      val run = graft.tools.Prof.run(spark, name, TestSpark.Sf0001)
      assert(run.schema.nonEmpty)
      if (!mayBeEmpty(name)) assert(run.rows > 0, s"$name returned no rows")
      // standing rescan gate (VERDICT r16 item 3): the post-AQE plan that
      // ran may not scan a table more often than the RescanAudit allowlist
      // pins — a new AQE-detached multi-consumer subtree fails HERE, in
      // CI, instead of surfacing as an sf1 perf mystery rounds later
      val v = graft.tools.RescanAudit.violation(
        name, graft.tools.RescanAudit.multiScans(run.plan))
      assert(v.isEmpty, s"RESCAN: ${v.getOrElse("")}")
    }
  }
}
