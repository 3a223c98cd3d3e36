package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfBenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfBenchSql, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.mr.{MrApps, MrJob}
import graft.operators.Checkpoints

/** The benchmark's JVM side. It drives one workload through the program's
  * public functions in a closed loop (one client, one operation at a
  * time), times each call, and with tracing on records Spark listener
  * events and the benchmark's own spans. It writes everything it measured
  * to `<out>/result.json`; `perfbench/run.py` turns that into metrics and
  * checks the outputs.
  *
  * Usage: PerfBench <workload> <dataDir> <outDir> <seconds> <trace 0|1>
  *        <cores> <op,op,...>
  */
object PerfBench {

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, outDir, secondsArg, traceArg, coresArg, opsArg) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val cores = coresArg.toInt
    val out = new File(outDir)
    out.mkdirs()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    // graft.Bench's session, setting for setting, so timings stay
    // comparable with its series.
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", graft.Sessions.ramLocalDir("graft_bench_local"))
      .config(graft.operators.Tables.NanosConf, "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
              graft.Sessions.ObjectAggFallbackGroups)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()

    val ops = opsArg.split(',').toIndexedSeq
    val w: Workload = workload match {
      case "mr_corpus" => new MrCorpus(spark, out, dataDir, ops)
      case _ => new QuerySet(spark, out, dataDir, ops)
    }
    val clock = new Clock
    val rec = new Recorder(spark)
    val samples = ArrayBuffer.empty[String]
    val failures = ArrayBuffer.empty[String]
    val prepared = ArrayBuffer.empty[String]

    // Set-up: a first, untimed execution of every operation. It pays the
    // cold costs (class loading, codegen, stream staging) and writes the
    // outputs that run.py checks.
    for (op <- ops) {
      val p0 = System.nanoTime()
      try w.prepare(op)
      catch { case e: Throwable =>
        failures += op
        System.err.println(s"[perfbench] $op failed in set-up: $e")
      }
      prepared += s"[${Json.str(op)},${(System.nanoTime() - p0) / 1e9}]"
      Checkpoints.releaseAll(spark)
    }
    def runPass(pass: Int, traced: Boolean): Unit = {
      // rotate the order each pass so no operation always follows the same one
      val off = pass * ops.size / 5 % ops.size
      for (op <- ops.drop(off) ++ ops.take(off)) {
        val r = new Run(sc, clock, op, pass, traced)
        val ok = try { w.run(op, r); true }
        catch { case e: Throwable =>
          System.err.println(s"[perfbench] $op failed: $e"); false
        }
        r.end(ok)
        // outside the operation's window: lineage-cut blocks are dropped
        // between operations, as graft.Bench does
        r.release(spark)
        w.afterRun(op, r)
        samples += r.json
      }
    }
    // One untimed warm pass, also part of set-up: after their first
    // execution the operations still speed up pass after pass while the JIT
    // compiles, and timed passes on the steepest part of that curve spread
    // widely between runs.
    runPass(-1, traced = false)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    // Timed passes, closed loop. With tracing on, every odd pass is traced,
    // so one run also yields the tracing overhead (run.py compares them
    // with the untraced passes after the first).
    val minPasses = if (trace) 4 else 3
    val t0 = System.nanoTime()
    var pass = 0
    var lastPass = 0.0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (pass < minPasses || elapsed + lastPass / 2 < seconds) {
      val traced = trace && pass % 2 == 1
      if (traced) rec.attach()
      val p0 = System.nanoTime()
      runPass(pass, traced)
      lastPass = (System.nanoTime() - p0) / 1e9
      if (traced) { PerfBenchBus.drain(sc); rec.detach() }
      pass += 1
    }
    val timedS = elapsed
    Checkpoints.releaseAll(spark)
    // Spark's ContextCleaner drops shuffle and broadcast state only after a
    // GC has cleared the objects that held it; collect again once it has run
    System.gc(); Thread.sleep(1000); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    w.writeOracles()
    val result =
      s"""{"workload":${Json.str(workload)},"cores":$cores,"setup_s":$setupS,""" +
        s""""timed_s":$timedS,"passes":$pass,"retained_heap_mb":$heapMb,""" +
        s""""prepare_s":[${prepared.mkString(",")}],""" +
        s""""prepare_failures":${failures.map(Json.str).mkString("[", ",", "]")},""" +
        s""""checks":${w.checks},""" +
        s""""samples":[${samples.mkString(",\n")}],""" +
        s""""events":[${rec.rows.asScala.mkString(",\n")}]}"""
    Files.writeString(Paths.get(outDir, "result.json"), result)
    spark.stop()
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Epoch milliseconds with nanoTime resolution, so the benchmark's spans
  * line up with the epoch-millisecond times in Spark's listener events. */
final class Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One timed execution of one operation: its phases become child spans,
  * and every Spark job it starts carries its job group (the phase) and
  * job tag (the execution). Streaming micro-batches replace the job group
  * on their own thread but inherit the tag. */
final class Run(sc: SparkContext, clock: Clock, val op: String, pass: Int,
                traced: Boolean) {
  val id: String = s"pb${Run.next()}"
  private val t0 = clock.ms()
  private var t1 = t0
  private var ok = false
  private val phases = ArrayBuffer.empty[String]
  private var release = ""
  // persisted RDDs left by earlier operations, not counted as this one's
  private val before: Set[Int] =
    if (traced) sc.getPersistentRDDs.keySet.toSet else Set.empty
  sc.addJobTag(id)

  def phase[T](name: String)(body: => T): T = {
    sc.setJobGroup(s"$id/$name", s"$op $name")
    val c0 = CodeGenerator.compileTime
    val p0 = clock.ms()
    try body
    finally {
      phases += s"""[${Json.str(name)},${p0},${clock.ms()},${CodeGenerator.compileTime - c0}]"""
      sc.clearJobGroup()
    }
  }

  def end(succeeded: Boolean): Unit = {
    t1 = clock.ms(); ok = succeeded
    sc.removeJobTag(id)
  }

  /** Drop lineage-cut blocks; in a traced pass, first record what they
    * held. */
  def release(spark: SparkSession): Unit = {
    val (blocks, bytes) =
      if (!traced) (0L, 0L)
      else sc.getRDDStorageInfo.filterNot(i => before(i.id))
        .foldLeft((0L, 0L)) { case ((b, s), i) =>
          (b + i.numCachedPartitions, s + i.memSize + i.diskSize)
        }
    val r0 = clock.ms()
    Checkpoints.releaseAll(spark)
    release = s""","release":[$r0,${clock.ms()},$blocks,$bytes]"""
  }

  def json: String =
    s"""{"id":"$id","op":${Json.str(op)},"pass":$pass,"traced":$traced,""" +
      s""""ok":$ok,"t0":$t0,"t1":$t1,"phases":[${phases.mkString(",")}]$release}"""
}

object Run {
  private val counter = new java.util.concurrent.atomic.AtomicLong()
  def next(): Long = counter.incrementAndGet()
}

/** Records listener events as JSON rows while attached: a SparkListener
  * (jobs, stages, tasks, SQL executions) and a StreamingQueryListener
  * (triggers). Registered only in traced passes. */
final class Recorder(spark: SparkSession) {
  val rows = new ConcurrentLinkedQueue[String]()
  private def prop(p: java.util.Properties, k: String): String =
    Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      rows.add(s"""{"k":"job","id":${e.jobId},"t0":${e.time},""" +
        s""""stages":[${e.stageIds.mkString(",")}],""" +
        s""""group":${Json.str(prop(e.properties, "spark.jobGroup.id"))},""" +
        s""""tags":${Json.str(prop(e.properties, "spark.job.tags"))}}""")

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      rows.add(s"""{"k":"jobend","id":${e.jobId},"t1":${e.time}}""")

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      // SortExec's "sort time" SQL metric (ms), summed over the stage's tasks
      val sortMs = s.accumulables.values.filter(_.name.contains("sort time"))
        .flatMap(_.value).collect { case v: Long => v }.sum
      rows.add(s"""{"k":"stage","id":${s.stageId},"attempt":${s.attemptNumber()},""" +
        s""""t0":${s.submissionTime.getOrElse(-1L)},"t1":${s.completionTime.getOrElse(-1L)},""" +
        s""""tasks":${s.numTasks},"failed":${s.failureReason.isDefined},"sort_ms":$sortMs}""")
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = e.taskMetrics
      if (m != null) {
        val sw = m.shuffleWriteMetrics
        val sr = m.shuffleReadMetrics
        rows.add(s"""{"k":"task","stage":${e.stageId},"t0":${i.launchTime},"t1":${i.finishTime},""" +
          s""""ok":${i.successful},"run_ms":${m.executorRunTime},"cpu_ns":${m.executorCpuTime},""" +
          s""""gc_ms":${m.jvmGCTime},"sw_bytes":${sw.bytesWritten},"sw_records":${sw.recordsWritten},""" +
          s""""sw_ns":${sw.writeTime},"sr_bytes":${sr.totalBytesRead},"sr_records":${sr.recordsRead},""" +
          s""""fetch_ms":${sr.fetchWaitTime},"spill":${m.memoryBytesSpilled + m.diskBytesSpilled},""" +
          s""""peak_mem":${m.peakExecutionMemory},"in_bytes":${m.inputMetrics.bytesRead},""" +
          s""""in_records":${m.inputMetrics.recordsRead},"out_bytes":${m.outputMetrics.bytesWritten},""" +
          s""""out_records":${m.outputMetrics.recordsWritten}}""")
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        rows.add(s"""{"k":"sql","id":${s.executionId},""" +
          s""""group":${Json.str(s.jobGroupId.getOrElse(""))},""" +
          s""""tags":${Json.str(s.jobTags.mkString(","))}}""")
      // the planning phases of the execution, from its QueryPlanningTracker
      case x: SparkListenerSQLExecutionEnd =>
        PerfBenchSql.queryExecution(x).foreach { qe =>
          val ph = qe.tracker.phases.map { case (k, v) =>
            s"""${Json.str(k)}:[${v.startTimeMs},${v.endTimeMs}]"""
          }.mkString("{", ",", "}")
          rows.add(s"""{"k":"qe","id":${x.executionId},"phases":$ph}""")
        }
      case _ =>
    }
  }

  private val streams = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      rows.add(s"""{"k":"query","run":"${e.runId}","tags":${Json.str(e.jobTags.mkString(","))}}""")

    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
      val st = p.stateOperators
      rows.add(s"""{"k":"trigger","run":"${p.runId}","batch":${p.batchId},""" +
        s""""ts":${Json.str(p.timestamp)},"rows":${p.numInputRows},"ms":$d,""" +
        s""""state_rows":${st.map(_.numRowsTotal).sum},""" +
        s""""state_mem":${st.map(_.memoryUsedBytes).sum},""" +
        s""""state_commit_ms":${st.map(_.commitTimeMs).sum}}""")
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(streams)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(jobs)
    spark.streams.removeListener(streams)
  }
}

trait Workload {
  /** First, untimed execution of `op`; leaves its output for the check. */
  def prepare(op: String): Unit
  /** One timed execution of `op`. */
  def run(op: String, r: Run): Unit
  def afterRun(op: String, r: Run): Unit = ()
  /** JSON object telling run.py what to check. */
  def checks: String
  def writeOracles(): Unit = ()
}

/** Named queries from `graft.SparkEntry.queries`, each timed as
  * `fn(spark, dir).count()`, the graft.Bench protocol. The stream gates
  * are such queries too: the call drains the stream into its sink. */
final class QuerySet(spark: SparkSession, out: File, dir: String,
                     names: Seq[String]) extends Workload {
  private val fns = graft.SparkEntry.queries
  names.foreach(n => require(fns.contains(n), s"unknown query $n"))

  def prepare(op: String): Unit =
    fns(op)(spark, dir).coalesce(1).write.mode("overwrite")
      .parquet(new File(out, s"check/$op").toString)

  def run(op: String, r: Run): Unit = {
    val df = r.phase("build")(fns(op)(spark, dir))
    r.phase("action")(df.count())
  }

  def checks: String =
    s"""{"kind":"oracle","dir":${Json.str(new File(out, "check").toString)}}"""

  override def writeOracles(): Unit = {
    val sql = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(out.toString, "check", "oracle_sql.json"),
      sql.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}"))
  }
}

/** The reference's apps on the faithful engine: whole-file scan, map,
  * hash shuffle, holistic reduce, global sort, committed text output. */
final class MrCorpus(spark: SparkSession, out: File, dir: String,
                     apps: Seq[String]) extends Workload {
  private val files = Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
    .filter(_.getName.endsWith(".txt")).map(_.getAbsolutePath).sorted.toSeq
  require(files.nonEmpty, s"no corpus files in $dir")
  private val latest = scala.collection.mutable.Map.empty[String, File]

  private def job(app: String, dst: File, r: Option[Run]): Unit = {
    def ph[T](n: String)(b: => T): T = r.fold(b)(_.phase(n)(b))
    // MrJob.run returns a lazy Dataset: "plan" only builds the job, and the
    // whole job (map, shuffle, reduce, sort, commit) runs inside "write"
    val result = ph("plan")(MrJob.run(MrJob.wholeFileInput(spark, files), MrApps.load(app)))
    ph("write")(MrJob.writeText(result, dst.toString))
  }

  def prepare(op: String): Unit = {
    val dst = new File(out, s"mr/$op-prepare")
    job(op, dst, None)
    latest(op) = dst
  }

  def run(op: String, r: Run): Unit = job(op, new File(out, s"mr/$op-${r.id}"), Some(r))

  /** Keep only the newest committed output of each app. */
  override def afterRun(op: String, r: Run): Unit = {
    latest.get(op).foreach(rm)
    latest(op) = new File(out, s"mr/$op-${r.id}")
  }

  private def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
    f.delete()
  }

  def checks: String =
    latest.map { case (k, v) => s"${Json.str(k)}:${Json.str(v.toString)}" }
      .mkString("""{"kind":"mr","outputs":{""", ",", "}}")
}
