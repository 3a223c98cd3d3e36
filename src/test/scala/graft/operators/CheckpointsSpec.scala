package graft.operators

import java.nio.file.Files

import org.apache.spark.SparkException
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.GraftShims
import org.scalatest.funsuite.AnyFunSuite

/**
 * The cluster-durability contract of [[Checkpoints]] (VERDICT r5 #1):
 * with `spark.graft.checkpointDir` set, every iterative operator's
 * lineage cut is backed by re-readable checkpoint FILES, so losing every
 * executor-cached block (= losing an executor on a real cluster) leaves
 * the state recomputable. The default localCheckpoint mode demonstrably
 * does NOT survive that loss — which is exactly why the flag exists.
 *
 * Block loss is simulated the only way local mode allows: unpersisting
 * every persistent RDD with blocking=true. For a locally-checkpointed
 * dataset that is precisely the cluster failure (truncated lineage +
 * missing blocks = SparkException); for a reliably-checkpointed one it
 * is a no-op because the data lives in the checkpoint directory.
 */
class CheckpointsSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private def dropAllBlocks(): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))

  private def withReliable[A](body: String => A): A = {
    val dir = Files.createTempDirectory("graft_ckpt").toString
    spark.conf.set(Checkpoints.DirConf, dir)
    try body(dir)
    finally spark.conf.unset(Checkpoints.DirConf)
  }

  private def craftedPairs = {
    import spark.implicits._
    // two components: a 6-node path (diameter > 1 → multi-round loop)
    // and a triangle
    ((0L until 5L).map(i => (i, i + 1)) ++ Seq((10L, 11L), (11L, 12L), (10L, 12L)))
      .toDF("doc_a", "doc_b")
  }

  test("default mode: block loss kills a locally-checkpointed cut (the cluster hazard)") {
    val cut = Checkpoints.cut(spark.range(100).toDF("id"))
    assert(cut.count() === 100L)
    dropAllBlocks()
    // truncated lineage + missing blocks: the job CANNOT recompute —
    // this is what an executor loss does to localCheckpoint on a cluster
    val ex = intercept[SparkException](cut.count())
    assert(ex.getMessage.toLowerCase.contains("checkpoint"))
  }

  test("a lazy cut runs its shuffle stage at cut time and its result stage at the first action") {
    // localCheckpoint(eager = false) builds its RDD with executedPlan.execute(),
    // and an adaptive plan materializes every shuffle stage to do that
    import org.apache.spark.sql.functions.col
    val sc = spark.sparkContext
    val jobs, mapTasks, resultTasks = new java.util.concurrent.atomic.AtomicInteger
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        e.stageIds.foreach(stages.add)
      }
      // only tasks of jobs started here: the previous test's failed job
      // can still post its killed tasks' ends
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId)) {
          if (e.taskType == "ResultTask") resultTasks.incrementAndGet()
          else mapTasks.incrementAndGet()
        }
    }
    GraftShims.drainListeners(spark)
    sc.addSparkListener(l)
    try {
      val oneShuffle = spark.range(0, 1000, 1, 4).groupBy((col("id") % 10).as("k")).count()
      val cut = Checkpoints.cut(oneShuffle, eager = false)
      GraftShims.drainListeners(spark)
      assert(jobs.get == 1 && mapTasks.get == 4, "the shuffle-map job runs when the cut is taken")
      assert(resultTasks.get == 0, "no result stage runs before an action")
      assert(cut.count() == 10L)
      GraftShims.drainListeners(spark)
      assert(jobs.get > 1 && resultTasks.get > 0)
    } finally sc.removeSparkListener(l)
  }

  test("reliable mode: the same loss is survivable — data re-read from the checkpoint dir") {
    withReliable { dir =>
      val cut = Checkpoints.cut(spark.range(100).toDF("id"))
      assert(cut.count() === 100L)
      // checkpoint files actually landed under the configured directory
      val wrote = Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => p.getFileName.toString.startsWith("part-"))
        .count()
      assert(wrote > 0, s"no checkpoint part files under $dir")
      dropAllBlocks()
      assert(cut.count() === 100L)
    }
  }

  test("CC loop in reliable mode: same fixpoint, and its final state survives total block loss") {
    val expect = Dedup.componentsOf(craftedPairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    withReliable { _ =>
      val comps = Dedup.componentsOf(craftedPairs)
      val got = comps.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      assert(got === expect)
      // the returned plan reads the LAST round's checkpointed label
      // state: dropping every cached block mid-pipeline (an executor
      // death between the loop and its consumer) must not lose it
      dropAllBlocks()
      val again = comps.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      assert(again === expect)
    }
  }

  test("pagerank in reliable mode matches the default-mode ranks on sf0.001") {
    val expect = Graph.graphPagerank(spark, graft.TestSpark.Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val got = withReliable { _ =>
      Graph.graphPagerank(spark, graft.TestSpark.Sf0001).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    }
    assert(got === expect)
  }
}
