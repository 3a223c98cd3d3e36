package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (Spark startup is the
  * dominant cost; suites must not stop() it).
  *
  * It keeps its own builder rather than `Sessions.harness` on purpose:
  * `local[4, 2]` for task retry, a temp warehouse, and Spark's default
  * object-aggregate fallback threshold (128 groups), so the suite keeps
  * exercising the sort-based spill path of every TypedImperativeAggregate
  * that the harness's 1M-group threshold skips. */
object TestSpark {
  // local[4, 2]: 4 threads, maxFailures=2 — plain local[4] never retries a
  // failed task, which would make fault-tolerance specs (FaultToleranceSpec)
  // impossible; harmless elsewhere (green tasks never hit the retry path)
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4, 2]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config(graft.operators.Tables.NanosConf, "true") // events TIMESTAMP(NANOS)
    .config("spark.sql.warehouse.dir",
            java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .getOrCreate()

  /** Smallest driver testdata scale — the smoke fixture. */
  val Sf0001 = "/root/testdata/sf0.001"
}
