package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{AnalysisException, GraftShims}
import org.apache.spark.sql.functions.{col, input_file_name}
import org.scalatest.funsuite.AnyFunSuite
import graft.mr.{MrApp, MrApps, MrJob}

/** Calls of [[MrEngineSpec]]'s counting app's reduce. Local mode runs the
  * tasks in this JVM, so a static counter sees every call. */
object ReduceCalls {
  val n = new AtomicInteger
}

/**
 * Differential tests of the MR engine against the sequential oracle —
 * the same protocol as the reference's test suite (`test-mr.sh` diffs
 * distributed output against the `sequential` binary), plus the
 * engine-level laws SURVEY.md §5 derives from the fault-injection apps.
 */
class MrEngineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Deterministic pseudo-random document corpus. */
  private def corpus(seed: Long, nDocs: Int): Seq[(String, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Vector("spark", "map", "reduce", "shuffle", "sort", "key",
                       "value", "the", "a", "of", "Zebra", "apple")
    (0 until nDocs).map { i =>
      val words = Seq.fill(5 + rnd.nextInt(40))(vocab(rnd.nextInt(vocab.size)))
      (s"doc$i", words.mkString(" ") + (if (rnd.nextBoolean()) "." else "!?"))
    }
  }

  private def runSpark(app: MrApp, input: Seq[(String, String)],
                       nReduce: Int = MrJob.DefaultNumReduce): Seq[(String, String)] = {
    import spark.implicits._
    val ds = spark.createDataset(input.map { case (k, v) => MrJob.KV(k, v) })
    MrJob.run(ds, app, nReduce).collect().map(kv => (kv.key, kv.value)).toSeq
  }

  for (appName <- Seq("wc", "indexer", "sorted_concat")) {
    test(s"$appName matches the sequential oracle") {
      val app = MrApps.load(appName)
      val input = corpus(seed = 42, nDocs = 30)
      val expected = MrJob.runSequential(app, input).sorted
      assert(runSpark(app, input).sorted == expected)
      for (seed <- Seq(77, 99); n <- Seq(1, 3)) {
        val in = corpus(seed, nDocs = 25)
        assert(runSpark(app, in, n).sorted == MrJob.runSequential(app, in).sorted,
               s"seed=$seed nReduce=$n")
      }
    }
  }

  test("output is invariant under the reduce-partition count (nReduce 1/3/10)") {
    // SURVEY.md §1.5: correctness never depends on which partition a key
    // lands in — the reference tests normalize across partitions.
    val app = MrApps.load("wc")
    val input = corpus(seed = 7, nDocs = 20)
    val results = Seq(1, 3, 10).map(n => runSpark(app, input, n).sorted)
    assert(results.distinct.size == 1)
  }

  test("reduce receives the complete value list sorted lexicographically") {
    // SURVEY.md §1.4 — the load-bearing guarantee the indexer depends on.
    val probe = new MrApp {
      val name = "order_probe"
      def map(k: String, v: String): Seq[(String, String)] =
        v.split(" ").toSeq.map(w => (w.take(1), w))
      def reduce(k: String, vs: Seq[String]): String =
        if (vs == vs.sorted) s"sorted:${vs.size}" else s"UNSORTED:${vs.mkString(",")}"
    }
    val input = corpus(seed = 13, nDocs = 25)
    val out = runSpark(probe, input)
    assert(out.nonEmpty && out.forall(_._2.startsWith("sorted:")), out.take(3))
  }

  test("wc is additive: wc(a ++ b) == wc(a) merged with wc(b) [50 random cases]") {
    val app = MrApps.load("wc")
    def counts(in: Seq[(String, String)]): Map[String, Long] =
      MrJob.runSequential(app, in).map { case (k, v) => k -> v.toLong }.toMap
    for (seed <- 1 to 50) {
      val a = corpus(seed, nDocs = 4)
      val b = corpus(seed + 1000, nDocs = 3).map { case (k, v) => (s"b_$k", v) }
      val merged = (counts(a).keySet ++ counts(b).keySet).map { w =>
        w -> (counts(a).getOrElse(w, 0L) + counts(b).getOrElse(w, 0L))
      }.toMap
      assert(counts(a ++ b) == merged, s"seed=$seed")
    }
  }

  private def withTempDir[A](prefix: String)(body: File => A): A = {
    val tmp = Files.createTempDirectory(prefix).toFile
    def rm(f: File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm); f.delete()
    }
    try body(tmp) finally rm(tmp)
  }

  private def write(dir: File, name: String, text: String): String = {
    val f = new File(dir, name)
    Files.writeString(f.toPath, text)
    f.getPath
  }

  test("whole-file scan + text sink round-trips through the reference's merge normalization") {
    withTempDir("mr_e2e") { tmp =>
      val paths = Seq("f1.txt" -> "apple banana apple", "f2.txt" -> "banana Cherry",
                      "f3.txt" -> "apple").map { case (n, s) => write(tmp, n, s) }
      val result = MrJob.run(MrJob.wholeFileInput(spark, paths), MrApps.load("wc"))
      val outDir = new File(tmp, "out").getPath
      MrJob.writeText(result, outDir)
      // `sort mr-out* | grep .` ≙ readText (Makefile:33-34)
      val merged = MrJob.readText(spark, outDir).collect().toSeq
      assert(merged == Seq("Cherry 1", "apple 3", "banana 2"))
    }
  }

  /** The committed lines of a text-sink directory: its `part-*` files
    * read in file-name order, as the benchmark's global-order check
    * reads them, with no re-sort. */
  private def partLines(dir: String): Seq[String] =
    new File(dir).listFiles.filter(_.getName.startsWith("part-")).sortBy(_.getName)
      .toSeq.flatMap(f => Files.readAllLines(f.toPath).toArray(Array.empty[String]))
      .filter(_.nonEmpty)

  test("writeText commits the globally sorted merge: part files in name order are key-sorted") {
    import spark.implicits._
    val app = MrApps.load("indexer")
    withTempDir("mr_sink_order") { tmp =>
      for ((input, n) <- Seq((corpus(seed = 21, nDocs = 40), 1), (corpus(seed = 21, nDocs = 40), 3),
                             (Seq.empty[(String, String)], 3))) {
        val out = new File(tmp, s"out_${input.size}_$n").getPath
        val ds = spark.createDataset(input.map { case (k, v) => MrJob.KV(k, v) })
        MrJob.writeText(MrJob.run(ds, app, n), out)
        // the oracle's output is sorted by key, so equal lines are in order
        val expected = MrJob.runSequential(app, input).map { case (k, v) => s"$k $v" }
        assert(partLines(out) == expected, s"nReduce=$n")
      }
    }
  }

  test("a committed MR job runs each key's reduce exactly once (nReduce 1 and 3)") {
    // the sink's sort must read the reduce output, not recompute it: a
    // range sampler over the aggregate itself would reduce every key twice
    import spark.implicits._
    val counting = new MrApp {
      val name = "reduce_counter"
      def map(k: String, v: String): Seq[(String, String)] =
        v.split("[^A-Za-z]+").toSeq.filter(_.nonEmpty).map(w => (w, "1"))
      def reduce(k: String, vs: Seq[String]): String = {
        ReduceCalls.n.incrementAndGet()
        vs.size.toString
      }
    }
    val input = corpus(seed = 3, nDocs = 30)
    val keys = MrJob.runSequential(counting, input).size
    val ds = spark.createDataset(input.map { case (k, v) => MrJob.KV(k, v) })
    withTempDir("mr_reduce_once") { tmp =>
      for (n <- Seq(1, 3)) {
        ReduceCalls.n.set(0)
        MrJob.writeText(MrJob.run(ds, counting, n), new File(tmp, s"out$n").getPath)
        assert(ReduceCalls.n.get == keys, s"nReduce=$n")
      }
    }
  }

  /** Runs `body` with its jobs tagged: its result, and how many jobs it ran. */
  private def withJobs[A](tag: String)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    sc.addJobTag(tag)
    val result = try body finally sc.removeJobTag(tag)
    GraftShims.drainListeners(spark)
    (result, sc.statusTracker.getJobIdsForTag(tag).length)
  }

  /** What Spark's own whole-text reader makes of `paths`. */
  private def readWholeText(paths: Seq[String]) =
    spark.read.option("wholetext", "true").text(paths: _*)
      .select(input_file_name().as("key"), col("value"))

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted

  test("wholeFileInput lists 40 files on the driver and reads what spark.read.text reads") {
    withTempDir("mr_e1") { tmp =>
      val paths = (0 until 40).map(i => write(tmp, f"f$i%02d.txt", s"doc $i\nline two"))
      val (input, jobs) = withJobs("mr_e1_build")(MrJob.wholeFileInput(spark, paths))
      assert(jobs == 0)
      // control: over the 32-path threshold, Spark's reader lists with a job
      assert(withJobs("mr_e1_read")(readWholeText(paths))._2 > 0)
      val got = rows(input.toDF())
      assert(got.size == 40 && got == rows(readWholeText(paths)))
    }
  }

  test("wholeFileInput: directories, globs and empty files as spark.read.text; missing paths fail") {
    withTempDir("mr_e1_paths") { tmp =>
      val sub = new File(tmp, "sub")
      sub.mkdir()
      write(sub, "a.txt", "alpha")
      write(sub, "b.md", "beta")
      write(tmp, "c.txt", "gamma")
      val empty = write(tmp, "empty.txt", "")
      // an empty file is no record, in both readers
      for ((paths, values) <- Seq(Seq(sub.getPath) -> Set("alpha", "beta"),
                                  Seq(s"$tmp/*.txt") -> Set("gamma"),
                                  Seq(empty) -> Set.empty[String],
                                  Seq(sub.getPath, s"$tmp/c*", empty) -> Set("alpha", "beta", "gamma"))) {
        val got = rows(MrJob.wholeFileInput(spark, paths).toDF())
        assert(got == rows(readWholeText(paths)), paths)
        assert(got.map(_._2).toSet == values, paths)
      }
      for (missing <- Seq(s"$tmp/nope.txt", s"$tmp/nope*")) {
        val e = intercept[AnalysisException](MrJob.wholeFileInput(spark, Seq(empty, missing)))
        assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
        assert(e.getMessage == intercept[AnalysisException](readWholeText(Seq(missing))).getMessage)
      }
    }
  }

  /** Registers `graft_mr_reduce` into the live session: the same builder
    * GraftExtensions injects. */
  private def registerMrReduce(): Unit =
    org.apache.spark.sql.GraftShims.registerFunction(spark, "graft_mr_reduce",
      children => {
        val app = MrApps.load(children.head.eval().toString)
        graft.functions.HolisticReduce(children(1), children(2), app.reduce _)
      })

  /** Looks through adaptive query stages for the plan nodes `pf` matches. */
  private def planNodes[B](df: org.apache.spark.sql.Dataset[_])(
      pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, B]): Seq[B] =
    new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(df.queryExecution.executedPlan)(pf)

  test("HolisticReduce partial buffers survive serialize/merge across many input partitions") {
    // A plain GROUP BY over 16 input partitions plans a partial aggregate
    // in each map task and ships its serialized buffer through the shuffle
    // (MrJob.run never does: its key shuffle comes first, so partial and
    // final aggregates share a task). merge() then combines buffers from
    // different tasks, and §1.4's sort must still hold on the merged whole.
    import spark.implicits._
    val probe = new MrApp {
      val name = "merge_probe"
      def map(k: String, v: String): Seq[(String, String)] = Seq((v.take(1), v))
      def reduce(k: String, vs: Seq[String]): String =
        (if (vs == vs.sorted) "sorted:" else "UNSORTED:") + vs.mkString(",")
    }
    MrApps.register(probe)
    registerMrReduce()
    val values = (0 until 200).map(i => f"v$i%03d")
    scala.util.Random.shuffle(values).map(v => MrJob.KV("v", v)).toDS()
      .repartition(16).createOrReplaceTempView("merge_probe_in")
    val result = spark.sql(
      """SELECT key, graft_mr_reduce('merge_probe', key, value) AS value
        |FROM merge_probe_in GROUP BY key""".stripMargin).as[MrJob.KV]
    assert(result.collect().toSeq == Seq(MrJob.KV("v", "sorted:" + values.mkString(","))))
    // one partial buffer per input partition crossed the aggregate's shuffle
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val shipped = planNodes(result) {
      case e: ShuffleExchangeExec if e.child.isInstanceOf[ObjectHashAggregateExec] =>
        e.metrics("shuffleRecordsWritten").value
    }
    assert(shipped == Seq(16L))
  }

  test("sort-based object-aggregate fallback (serialized, spilled buffers) == oracle") {
    // Past 128 groups a task (Spark's default threshold, pinned here; the
    // bench harness raises it to 1,000,000) the object aggregate falls back
    // to sorting: it spills its buffers through serialize/deserialize and
    // merges them back in key order. A few hundred distinct words per
    // reduce partition pass it.
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    def word(i: Int): String =
      Iterator.iterate(i)(_ / 26).takeWhile(_ > 0).map(d => ('a' + d % 26).toChar).mkString + "x"
    val vocab = (1 to 900).map(word)
    val input = (0 until 40).map { d =>
      (s"doc$d", Seq.fill(200)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val app = MrApps.load("wc")
    val ds = spark.createDataset(input.map { case (k, v) => MrJob.KV(k, v) })
    val threshold = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val saved = spark.conf.getOption(threshold)
    spark.conf.set(threshold, "128")
    try {
      val result = MrJob.run(ds, app, nReduce = 2)
      val got = result.collect().map(kv => (kv.key, kv.value)).toSeq
      assert(got.size > 2 * 128)
      assert(got.sorted == MrJob.runSequential(app, input).sorted)
      import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
      val fellBack = planNodes(result) {
        case a: ObjectHashAggregateExec => a.metrics("numTasksFallBacked").value
      }.sum
      assert(fellBack > 0, "no task fell back to sort-based aggregation")
    } finally saved.fold(spark.conf.unset(threshold))(spark.conf.set(threshold, _))
  }

  test("value order is UTF-8 byte order on run and the sequential oracle") {
    // Rust sorts `String`s by bytes, and so does HolisticReduce; Scala's
    // default String order (UTF-16 code units) would put the surrogate pair
    // of U+1F600 before U+FFFD.
    import spark.implicits._
    val probe = new MrApp {
      val name = "utf8_order_probe"
      def map(k: String, v: String): Seq[(String, String)] = Seq(("k", v))
      def reduce(k: String, vs: Seq[String]): String = vs.mkString(",")
    }
    val byteOrder = Seq("z", "\u00e9", "\ufffd", "\ud83d\ude00")
    val input = scala.util.Random.shuffle(byteOrder).map(v => ("in", v))
    val ds = spark.createDataset(input.map { case (k, v) => MrJob.KV(k, v) })
    val expected = Seq(("k", byteOrder.mkString(",")))
    def pairs(r: org.apache.spark.sql.Dataset[MrJob.KV]) =
      r.collect().map(kv => (kv.key, kv.value)).toSeq
    assert(MrJob.runSequential(probe, input) == expected)
    assert(pairs(MrJob.run(ds, probe, 2)) == expected)
  }

  test("graft_mr_reduce is callable from SQL (extensions-equivalent registration)") {
    registerMrReduce()
    import spark.implicits._
    val input = corpus(seed = 5, nDocs = 10)
    spark.createDataset(input.map { case (k, v) => MrJob.KV(k, v) })
      .createOrReplaceTempView("mr_in")
    val viaSql = spark.sql(
      """SELECT key, graft_mr_reduce('wc', key, value) AS value
        |FROM (SELECT w AS key, '1' AS value
        |      FROM mr_in LATERAL VIEW explode(split(value, '[^A-Za-z]+')) t AS w
        |      WHERE w <> '')
        |GROUP BY key ORDER BY key""".stripMargin).as[MrJob.KV].collect().toSeq
    val oracle = MrJob.runSequential(MrApps.load("wc"), input)
    assert(viaSql.map(kv => (kv.key, kv.value)) == oracle)
  }

  test("unknown app name fails with the known-apps listing (E11 registry)") {
    val e = intercept[NoSuchElementException](MrApps.load("nope"))
    assert(e.getMessage.contains("wc"))
  }

  test("ServiceLoader discovers a classpath app by name (E11 dylib-loading twin)") {
    // svc_maxlen lives only on the test classpath and is published via
    // META-INF/services/graft.mr.MrApp — never register()ed, never in the
    // builtin map; resolving it exercises the dlopen-by-name analogue
    // (common/src/lib.rs:22-39) end to end through the engine
    val app = MrApps.load("svc_maxlen")
    assert(app.getClass.getName == "graft.mr.ServiceLoadedApp")
    assert(MrApps.names.contains("svc_maxlen"))
    val input = corpus(seed = 13, nDocs = 10)
    val expected = MrJob.runSequential(app, input).sorted
    assert(expected.nonEmpty)
    assert(runSpark(app, input).sorted == expected)
  }
}
