package graft.tools
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Optimization-round probe (r17): splits each query's wall time into
  * fn() construction (which for the iterative/collect-bearing operators
  * runs EAGER inner actions), analysis, physical planning, and the final
  * count() — and counts Spark jobs + tasks + task CPU during fn() vs
  * during count(). Separates "driver Catalyst cost" from "eager inner
  * actions" from "dataflow". Usage: BuildProf <reps> <query>... */
object BuildProf {
  def main(args: Array[String]): Unit = {
    val reps = args.head.toInt
    val spark = graft.Sessions.harness()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskMs = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (te.taskMetrics != null)
          taskMs.addAndGet(te.taskMetrics.executorRunTime)
      }
    })
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$dir/region.parquet").count()
    def snap(): (Int, Int, Long) = {
      // listener events are async; poll until the counters stabilize —
      // bounded (ADVICE r17) so a continuously firing background job
      // (a leaked stream, speculative tasks) can't spin this forever;
      // proceed with the last snapshot after ~6 s of non-quiescence
      var prev = (-1, -1, -1L)
      var cur = (jobs.get(), tasks.get(), taskMs.get())
      var spins = 0
      while (cur != prev && spins < 100) {
        Thread.sleep(60)
        prev = cur
        cur = (jobs.get(), tasks.get(), taskMs.get())
        spins += 1
      }
      if (spins >= 100)
        System.err.println("[buildprof] counters never quiesced; using last snapshot")
      cur
    }
    for (n <- args.tail) {
      val rows = (1 to reps).map { _ =>
        val (j0, k0, m0) = snap()
        val t0 = System.nanoTime()
        val df = graft.SparkEntry.queries(n)(spark, dir)
        val t1 = System.nanoTime()
        val (j1, k1, m1) = snap()
        // restart the clock after snap(): its listener poll takes >= 60 ms
        // and is not analysis
        val t1b = System.nanoTime()
        df.queryExecution.analyzed
        val t2 = System.nanoTime()
        df.queryExecution.executedPlan
        val t3 = System.nanoTime()
        df.count()
        val t4 = System.nanoTime()
        val (j2, k2, m2) = snap()
        graft.operators.Checkpoints.releaseAll(spark)
        (Seq((t1 - t0) / 1e9, (t2 - t1b) / 1e9, (t3 - t2) / 1e9, (t4 - t3) / 1e9),
         Seq(j1 - j0, k1 - k0, (m1 - m0).toInt, j2 - j1, k2 - k1, (m2 - m1).toInt))
      }
      def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
      def medi(xs: Seq[Int]) = xs.sorted.apply(xs.size / 2)
      val t = rows.map(_._1)
      val c = rows.map(_._2)
      println(f"BUILDPROF $n%-26s fn=${med(t.map(_(0)))}%6.3f analyze=${med(t.map(_(1)))}%6.3f plan=${med(t.map(_(2)))}%6.3f count=${med(t.map(_(3)))}%6.3f | fn_jobs=${medi(c.map(_(0)))}%3d fn_tasks=${medi(c.map(_(1)))}%5d fn_taskms=${medi(c.map(_(2)))}%7d | cnt_jobs=${medi(c.map(_(3)))}%3d cnt_tasks=${medi(c.map(_(4)))}%5d cnt_taskms=${medi(c.map(_(5)))}%7d")
    }
    spark.stop()
  }
}
