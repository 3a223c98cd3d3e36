package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.GraftShims
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.tools.Prof.run]] reports exactly what a run did: every stream
  * trigger, the same jobs and tasks an independent listener sees, and the
  * scans of the plan that actually ran. */
class ProfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import graft.tools.{Prof, RescanAudit}

  test("a stream gate reports all of its fed triggers") {
    // the gate stages the events in 3 micro-batches
    val run = Prof.run(spark, "stream_hourly_counts", TestSpark.Sf0001)
    assert(run.triggers.count(_.rows > 0) == 3, run.triggers)
    assert(run.triggers.forall(_.durationMs.contains("triggerExecution")))
  }

  test("job and task counts equal an independent listener's over the same run") {
    val sc = spark.sparkContext
    val jobs, tasks = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
    }
    GraftShims.drainListeners(spark)
    sc.addSparkListener(l)
    try {
      for (name <- Seq("stream_hourly_counts", "graph_bfs", "q21_waiting_orders")) {
        jobs.set(0)
        tasks.set(0)
        val run = Prof.run(spark, name, TestSpark.Sf0001)
        GraftShims.drainListeners(spark)
        assert(run.build.jobs + run.action.jobs == jobs.get, name)
        assert(run.build.tasks + run.action.tasks == tasks.get, name)
        assert(run.action.jobs > 0, name)
      }
    } finally sc.removeSparkListener(l)
  }

  test("hll_distinct's executed plan scans events once") {
    // the count that ran reuses one events scan for the sketch and the
    // exact branch; the not-yet-run initial plan showed two
    val run = Prof.run(spark, "hll_distinct", TestSpark.Sf0001)
    assert(RescanAudit.scans(run.plan).get("events").contains(1))
  }
}
