package graft

import org.apache.spark.sql.SparkSession

/** The one place harness sessions are built: Bench, Verify and every tool
  * main run on the session [[harness]] returns, so what a tool reports is
  * what the bench measures. */
object Sessions {

  /** Core count of a harness session: `SPARK_GRAFT_CPUS`, else 4. */
  def harnessCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The harness session: `local[cpus]` with one shuffle partition per
    * core, UTC, no UI, a RAM-backed local dir, nanosecond event
    * timestamps, the bounded-buffer object-aggregate threshold and a
    * codegen cache large enough for the whole suite.
    *
    * The whole-stage-codegen class cache defaults to 100 entries; the
    * suite compiles far more fragments than that, so with interleaved
    * bench passes every query's codegen was evicted by the queries
    * between its reps and recompiled (+ re-JITed) each pass — measured
    * ~26 s across a 161-query suite (94.4 vs 68 s totals). A deployment
    * sizes this cache to its workload's plan count; 10k entries is a few
    * hundred MB ceiling. */
  def harness(cpus: String = harnessCpus): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC") // timestamp literals/windows
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", ramLocalDir("graft_local"))
      .config(graft.operators.Tables.NanosConf, "true") // events TIMESTAMP(NANOS)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
              ObjectAggFallbackGroups)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()

  /** `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` value for
    * the harness entry points. The Spark default (128 distinct groups per
    * task's in-memory map) predates bounded-buffer object aggregates: it
    * guards collect_list-style UNBOUNDED buffers against memory blowup,
    * but it forces every TypedImperativeAggregate over more than 128
    * groups (TopKByCount over 100k customers, HllSketchAgg over many
    * cells) into sort-based aggregation — a full sort of the input by
    * group key, exactly the vocabulary-sized work those aggregates exist
    * to avoid (measured: +35% on window_topk at sf1). This library's
    * object aggregates all carry BOUNDED buffers (K-entry heaps, fixed
    * HLL registers), so 1M buffered groups per task is a few hundred MB
    * ceiling. A deployment using unbounded collectors should size this
    * per its executor memory instead. */
  val ObjectAggFallbackGroups = "1000000"

  /** A fresh temp directory on a RAM-backed tmpfs (`/dev/shm`) when the
    * host has a writable one, else in the JVM temp dir. Harness scratch
    * that is cheap to lose lives here: shuffle files ([[ramLocalDir]]) and
    * the stream gates' staged batches and checkpoints. */
  def ramTempDir(prefix: String): java.io.File = {
    val shm = new java.io.File("/dev/shm")
    val base =
      if (shm.isDirectory && shm.canWrite)
        java.nio.file.Files.createTempDirectory(shm.toPath, prefix)
      else java.nio.file.Files.createTempDirectory(prefix)
    base.toFile
  }

  /** A RAM-backed `spark.local.dir` (shuffle files, spill, broadcast
    * scratch) from [[ramTempDir]]. Local-disk writeback stalls showed up
    * as random multi-second spikes in otherwise-stable bench reps
    * (shuffle-heavy queries only — the zero-shuffle ones never spiked);
    * shuffle bytes at bench scale are MBs, so RAM is safe. A real cluster
    * leaves this alone: executors get fast local disks sized for shuffle,
    * and losing a shuffle file there is recoverable, so this is harness
    * hygiene, not a deployment recommendation. Cleaned by Spark on
    * context stop + a JVM hook. */
  def ramLocalDir(prefix: String): String = {
    val f = ramTempDir(prefix)
    sys.addShutdownHook {
      def rm(x: java.io.File): Unit = {
        if (x.isDirectory) Option(x.listFiles).foreach(_.foreach(rm))
        x.delete()
      }
      rm(f)
    }
    f.getAbsolutePath
  }
}
