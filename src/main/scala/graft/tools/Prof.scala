package graft.tools

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftShims, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.StructType

/** The query profiler: [[run]] runs a named `SparkEntry` query once, the
  * way Bench does, and reports what it did.
  *
  * Every job of a run carries a job tag, so its jobs, tasks and stream
  * triggers are counted by what caused them, not by when they arrived: a
  * stream's micro-batch thread inherits the tag of the thread that
  * started it, and a stream's progress events are matched to its start
  * event, which carries the tags. One listener-bus drain after the run
  * delivers every event the run posted, so the counts are exact.
  *
  * Usage: Prof <reps> <query>...  (data from `SPARK_GRAFT_SF_DIR`,
  * default sf0.1). Prints one `PROF <name>` line per query (median, min
  * and max wall time, phase medians, job/task counters and stream-phase
  * sums), then the last rep's executed plan with each operator's metrics
  * as `PROF.op` lines. */
object Prof {

  /** Jobs, tasks and summed task executor time of one phase. */
  final case class Counts(jobs: Int, tasks: Int, taskMs: Long)

  /** One stream micro-batch: its input rows and `durationMs` phases. */
  final case class Trigger(rows: Long, durationMs: Map[String, Long])

  /** One run. The build phase is the `SparkEntry` call (eager inner
    * actions and drained streams run there); the action phase analyzes,
    * plans and collects the count Bench times, and `plan` is that
    * count's executed (final adaptive) plan. */
  final case class Run(buildS: Double, analyzeS: Double, planS: Double,
                       actionS: Double, build: Counts, action: Counts,
                       triggers: Seq[Trigger], rows: Long, schema: StructType,
                       plan: SparkPlan) {
    def wallS: Double = buildS + analyzeS + planS + actionS
  }

  private final class Tally {
    val jobs = new AtomicInteger
    val tasks = new AtomicInteger
    val taskMs = new AtomicLong
    val triggers = new ConcurrentLinkedQueue[Trigger]
    def counts: Counts = Counts(jobs.get, tasks.get, taskMs.get)
  }

  /** The open tallies of one session by job tag, and the stages and
    * stream runs attributed to them. */
  private final class Listeners extends SparkListener {
    val open = new ConcurrentHashMap[String, Tally]
    private val byStage = new ConcurrentHashMap[Int, Tally]
    private val byStream = new ConcurrentHashMap[UUID, Tally]

    private def tallyOf(tags: Iterable[String]): Option[Tally] =
      tags.iterator.map(open.get).find(_ != null)

    def close(t: Tally): Unit = {
      open.values.removeIf(_ eq t)
      byStage.values.removeIf(_ eq t)
      byStream.values.removeIf(_ eq t)
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      tallyOf(tags.toSeq.flatMap(_.split(","))).foreach { t =>
        t.jobs.incrementAndGet()
        e.stageIds.foreach(byStage.put(_, t))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(byStage.get(e.stageId)).foreach { t =>
        t.tasks.incrementAndGet()
        if (e.taskMetrics != null) t.taskMs.addAndGet(e.taskMetrics.executorRunTime)
      }

    val streams: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        tallyOf(e.jobTags).foreach(byStream.put(e.runId, _))
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        Option(byStream.get(e.progress.runId)).foreach(_.triggers.add(Trigger(
          e.progress.numInputRows,
          e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)))
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
  }

  private val sessions = new java.util.WeakHashMap[SparkSession, Listeners]
  private val runIds = new AtomicLong

  /** The listeners of `spark`, installed on first use. */
  private def listeners(spark: SparkSession): Listeners = sessions.synchronized {
    sessions.computeIfAbsent(spark, (s: SparkSession) => {
      val l = new Listeners
      s.sparkContext.addSparkListener(l)
      s.streams.addListener(l.streams)
      l
    })
  }

  /** Run query `name` on the data in `dir` and report what it did. The
    * session's lineage-cut blocks are released afterwards, as Bench does
    * between queries. */
  def run(spark: SparkSession, name: String, dir: String): Run = {
    val ls = listeners(spark)
    val sc = spark.sparkContext
    val id = s"graft-prof-${runIds.incrementAndGet()}"
    val build, action = new Tally
    ls.open.put(s"$id-build", build)
    ls.open.put(s"$id-action", action)
    def tagged[A](phase: String)(body: => A): A = {
      sc.addJobTag(s"$id-$phase")
      try body finally sc.removeJobTag(s"$id-$phase")
    }
    try {
      val t0 = System.nanoTime()
      val df = tagged("build")(graft.SparkEntry.queries(name)(spark, dir))
      val t1 = System.nanoTime()
      val (c, t2, t3, rows) = tagged("action") {
        // the plan Dataset.count() runs: Bench's action
        val c = df.groupBy().count()
        c.queryExecution.analyzed
        val t2 = System.nanoTime()
        c.queryExecution.executedPlan
        val t3 = System.nanoTime()
        (c, t2, t3, c.collect().head.getLong(0))
      }
      val t4 = System.nanoTime()
      GraftShims.drainListeners(spark)
      Run((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, (t4 - t3) / 1e9,
        build.counts, action.counts,
        (build.triggers.asScala ++ action.triggers.asScala).toSeq,
        rows, df.schema, c.queryExecution.executedPlan)
    } finally {
      ls.close(build)
      ls.close(action)
      graft.operators.Checkpoints.releaseAll(spark)
    }
  }

  /** The executed plan as indented lines, each operator with its nonzero
    * time, row-count, size, spill and peak-memory metrics; reused and
    * adaptive-stage subtrees are walked too. */
  private def operatorTree(plan: SparkPlan): Seq[String] = {
    val out = Seq.newBuilder[String]
    def walk(p: SparkPlan, depth: Int): Unit = {
      val shown = p.metrics.toSeq
        .filter { case (k, v) => v.value > 0 &&
          (k.contains("time") || k.contains("Time") || k == "numOutputRows" ||
           k.contains("dataSize") || k.contains("spill") || k.contains("peak")) }
        .sortBy(_._1)
        .map { case (k, v) => s"$k=${v.value}" }
      out += "  " * depth + p.nodeName +
        (if (shown.isEmpty) "" else shown.mkString("  [", " ", "]"))
      val kids = p.children ++ (p match {
        case s: QueryStageExec => Seq(s.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case _ => Nil
      })
      kids.foreach(walk(_, depth + 1))
    }
    walk(plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }, 0)
    out.result()
  }

  private def median[A: Ordering](xs: Seq[A]): A = xs.sorted.apply(xs.size / 2)

  /** The `PROF` line of one query's runs. */
  private def summary(name: String, runs: Seq[Run]): String = {
    val walls = runs.map(_.wallS)
    def s(f: Run => Double) = f"${median(runs.map(f))}%6.3f"
    def n(f: Run => Long) = median(runs.map(f)).toString
    val streamSums = runs.flatMap(_.triggers.flatMap(_.durationMs.keys)).distinct.sorted
      .map(k => s"sum_${k}_ms=" + n(_.triggers.map(_.durationMs.getOrElse(k, 0L)).sum))
    val streams =
      if (runs.forall(_.triggers.isEmpty)) ""
      else (Seq("triggers=" + n(_.triggers.size.toLong),
                "fed=" + n(_.triggers.count(_.rows > 0).toLong)) ++ streamSums)
        .mkString(" | ", " ", "")
    f"PROF $name%-26s wall=${median(walls)}%7.3f min=${walls.min}%7.3f max=${walls.max}%7.3f" +
      s" | build=${s(_.buildS)} analyze=${s(_.analyzeS)} plan=${s(_.planS)} action=${s(_.actionS)}" +
      s" | build_jobs=${n(_.build.jobs.toLong)} build_tasks=${n(_.build.tasks.toLong)}" +
      s" build_taskms=${n(_.build.taskMs)}" +
      s" | action_jobs=${n(_.action.jobs.toLong)} action_tasks=${n(_.action.tasks.toLong)}" +
      s" action_taskms=${n(_.action.taskMs)}" + streams
  }

  def main(args: Array[String]): Unit = {
    val reps = args.head.toInt
    val spark = graft.Sessions.harness()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark.range(1000).selectExpr("sum(id)").collect() // JVM and executor warm-up
    for (name <- args.tail) {
      val runs = Seq.fill(reps)(run(spark, name, dir))
      println(summary(name, runs))
      operatorTree(runs.last.plan).foreach(l => println(s"PROF.op $name $l"))
    }
    spark.stop()
  }
}
