package graft.operators

import org.apache.spark.sql.DataFrame

/**
 * Lineage-cut policy for the iterative operators (the CC loop, PageRank,
 * the triangle pipeline, corpus_prep's stage boundary, the shared
 * shingle table).
 *
 * Two modes, chosen per session by [[DirConf]]:
 *
 *  - **unset (default, local/test runs)**: `localCheckpoint` — blocks live
 *    in executor storage. Fastest, but lineage is TRUNCATED: on a real
 *    cluster, losing one executor loses blocks that can no longer be
 *    recomputed, killing the job. Acceptable only single-node.
 *  - **set to a directory (cluster runs)**: reliable `checkpoint()`
 *    against that directory (HDFS/object store on a cluster). Blocks are
 *    re-readable by any executor after any loss — the 100 TB-safe mode.
 *    Costs one write+read of the cut table, which for these operators is
 *    the small derived state (edge lists, label vectors), not the corpus.
 *
 * The flag is read per cut so a test can flip it inside one session.
 */
object Checkpoints {

  /** Session conf key: set to a durable directory to switch every
    * iterative lineage cut from localCheckpoint to reliable checkpoint. */
  val DirConf = "spark.graft.checkpointDir"

  /** Cut lineage under the session policy.
    *
    * `eager = true` runs the whole plan now: its shuffle stages, then a
    * result job that stores the cut's blocks. `eager = false` defers only
    * that last part. The Dataset builds the cut's RDD through
    * `executedPlan.execute()`, and an adaptive plan runs every shuffle
    * (and broadcast) stage under the cut to do so, at cut time, before
    * any action. The final stage — the one that computes and stores the
    * blocks — runs inside the first job that reads the cut. So a lazy cut
    * saves the separate result job, not the work below its last
    * exchange; only a plan with no exchange under the cut is deferred
    * whole. CheckpointsSpec pins this on a one-shuffle plan. */
  def cut(df: DataFrame, eager: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption(DirConf).filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = spark.sparkContext
        // setCheckpointDir mints a fresh UUID subdir per call — set once
        // per (session, configured dir), not per cut. "Already set" means
        // the current checkpoint dir's PARENT equals the configured dir
        // (substring matching would treat /tmp/a as set after /tmp/ab).
        // Both sides are fully qualified (scheme + authority + absolute
        // path) before comparing: a bare-path compare would match an
        // existing file:/ckpt against a configured hdfs://nn/ckpt and
        // silently checkpoint to the wrong filesystem, and a RELATIVE
        // configured dir would never match its absolutized parent,
        // minting a fresh UUID subdir per cut
        def qualified(p: String): org.apache.hadoop.fs.Path = {
          val path = new org.apache.hadoop.fs.Path(p)
          path.getFileSystem(sc.hadoopConfiguration).makeQualified(path)
        }
        val already = sc.getCheckpointDir.exists { cur =>
          Option(qualified(cur).getParent).contains(qualified(dir))
        }
        if (!already) sc.setCheckpointDir(dir)
        df.checkpoint(eager)
      case None => df.localCheckpoint(eager)
    }
  }

  /** Drop every lineage-cut block (and drained stream memory-sink table)
    * still held by the session. Harness-level housekeeping for the
    * Bench/Verify protocol: a suite run executes the full query surface
    * hundreds of times in ONE JVM, and each run's localCheckpoint blocks
    * otherwise stay in executor storage for the session's lifetime —
    * hundreds of executions in, the accumulated blocks turn into GC/
    * eviction pressure that inflates every later query (the bench-order
    * "regressions" of untouched queries). Safe between query executions:
    * no operator relies on a cross-query cache (cuts are per-plan, and a
    * re-invoked query rebuilds its plan from scratch); stream STAGING
    * lives on disk and is deliberately kept. */
  def releaseAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    org.apache.spark.sql.GraftShims.tempViewNames(spark)
      .filter(_.startsWith("graft_stream_"))
      .foreach(spark.catalog.dropTempView)
  }
}
