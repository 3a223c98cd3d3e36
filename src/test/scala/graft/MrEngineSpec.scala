package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.mr.{MrApp, MrApps, MrJob}

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

  test("whole-file scan + text sink round-trips through the reference's merge normalization") {
    val tmp = java.nio.file.Files.createTempDirectory("mr_e2e").toFile
    try {
      val texts = Map("f1.txt" -> "apple banana apple", "f2.txt" -> "banana Cherry",
                      "f3.txt" -> "apple")
      texts.foreach { case (n, s) =>
        java.nio.file.Files.writeString(new java.io.File(tmp, n).toPath, s)
      }
      val paths = texts.keys.map(n => new java.io.File(tmp, n).getPath).toSeq
      val result = MrJob.run(MrJob.wholeFileInput(spark, paths), MrApps.load("wc"))
      val outDir = new java.io.File(tmp, "out").getPath
      MrJob.writeText(result, outDir)
      // `sort mr-out* | grep .` ≙ readText (Makefile:33-34)
      val merged = MrJob.readText(spark, outDir).collect().toSeq
      assert(merged == Seq("Cherry 1", "apple 3", "banana 2"))
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm); f.delete()
      }
      rm(tmp)
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
