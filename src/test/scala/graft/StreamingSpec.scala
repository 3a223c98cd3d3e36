package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.EventStreams
import graft.streaming.EventStreams.SessionOut

/**
 * Differential stream-vs-batch tests: the same unified transforms run over
 * the sf0.001 events as one batch and as a 4-file micro-batched stream, and
 * must agree. This is the streaming analogue of the repo's DuckDB gate
 * (batch formulations are the oracle).
 */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private var srcDir: String = _

  /** Normalized events (ts as TimestampType micros) — used BOTH for
    * splitting into stream files and as the batch side, so the staged
    * stream schema matches [[EventStreams.eventsRawSchema]] whatever the
    * corpus' physical timestamp type. */
  private def rawEvents: DataFrame =
    graft.operators.Tables.events(spark, TestSpark.Sf0001)

  /** Batch view with normalized micros timestamps (= Tables.events). */
  private def batchEvents: DataFrame = rawEvents

  override def beforeAll(): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream")
    srcDir = tmp.toString
    // split the corpus into 4 event-time-ordered files = 4 micro-batches
    val rows = rawEvents.orderBy("ts", "event_id").collect()
    val schema = rawEvents.schema
    val chunks = rows.grouped(math.max(1, (rows.length + 3) / 4)).toSeq
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      val stage = s"$srcDir/_stage$i"
      spark.createDataFrame(
        java.util.Arrays.asList(chunk: _*), schema)
        .coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(srcDir, f"batch$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1000000L * (i + 1)) // enforce source ordering
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm); f.delete()
      }
      rm(new java.io.File(stage))
    }
  }

  override def afterAll(): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm); f.delete()
    }
    rm(new java.io.File(srcDir))
  }

  /** Run a streaming DataFrame to a memory sink until drained. */
  private def runToMemory(df: DataFrame, name: String, mode: String): DataFrame = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode)
      .option("checkpointLocation", s"$srcDir/_ckpt_$name")
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  private def asSortedSeq(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  test("hourly counts: 4-microbatch stream == single batch (complete mode)") {
    val streamed = runToMemory(
      EventStreams.hourlyCounts(EventStreams.readEventsStream(spark, srcDir)),
      "hourly_complete", "complete")
    val batch = EventStreams.hourlyCounts(batchEvents)
    assert(asSortedSeq(streamed) == asSortedSeq(batch))
    assert(streamed.count() > 0)
  }

  test("watermarked append mode emits exactly the watermark-passed windows") {
    val streamed = runToMemory(
      EventStreams.hourlyCountsAppend(EventStreams.readEventsStream(spark, srcDir)),
      "hourly_append", "append")
    val maxTsUs = batchEvents.agg(max(unix_micros(col("ts")))).head.getLong(0)
    val watermarkUs = maxTsUs - 2L * 3600 * 1000000
    // batch rows whose window END is strictly below the final watermark
    // must have emitted; nothing beyond the batch answer may ever emit
    val batch = EventStreams.hourlyCounts(batchEvents)
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    def winEndUs(winStart: String): Long = fmt.parse(winStart).getTime * 1000 + 3600L * 1000000
    val batchRows = batch.collect().map(r => (r.getString(0), r.mkString("|"))).toSeq
    val streamedSet = streamed.collect().map(_.mkString("|")).toSet
    assert(streamedSet.subsetOf(batchRows.map(_._2).toSet))
    val mustEmit = batchRows.filter { case (ws, _) => winEndUs(ws) < watermarkUs }
    assert(mustEmit.nonEmpty, "test data spans too little time to exercise the watermark")
    mustEmit.foreach { case (ws, row) =>
      assert(streamedSet.contains(row), s"window $ws should have passed the watermark")
    }
  }

  test("late-data gate: drop boundary follows the previous-batch watermark") {
    // Differential twin of the stream_late_data oracle, in plain Scala:
    // every 101st event of batches 1-2 arrives in batch 3; the stateful
    // agg must drop exactly the displaced rows whose hour-window end is
    // <= the watermark in effect during the PREVIOUS micro-batch (max
    // event time through batch 1, minus the 2 h delay) — Spark's
    // two-watermark design (late-events filter vs eviction) — and the
    // sink must hold exactly the final-watermark-passed windows of the
    // surviving rows.
    val lateMod = 101
    val hourUs = 3600L * 1000000
    val evs = rawEvents
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
              col("event_type"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .sortBy(e => (e._2, e._1))
    // exact ntile(3): the first (N mod 3) buckets hold ceil(N/3) rows
    val (q3, r3) = (evs.length / 3, evs.length % 3)
    def ntile3(i: Int): Int =
      if (i < r3 * (q3 + 1)) i / (q3 + 1) + 1
      else (i - r3 * (q3 + 1)) / q3 + r3 + 1
    val chunkOf = evs.zipWithIndex.map { case (e, i) => e._1 -> ntile3(i) }.toMap
    def displaced(id: Long) = chunkOf(id) <= 2 && id % lateMod == 0
    val wmLateUs = evs.filter(e => chunkOf(e._1) <= 1 && !displaced(e._1))
      .map(_._2).max - 2 * hourUs
    val finalWmUs = evs.map(_._2).max - 2 * hourUs
    def winEnd(tsUs: Long) = (tsUs / hourUs) * hourUs + hourUs
    val kept = evs.filter(e => !displaced(e._1) || winEnd(e._2) > wmLateUs)
    // activation: the boundary must cut through the displaced set — some
    // dropped, some merged — or the gate is vacuous
    val nDropped = evs.count(e => displaced(e._1) && winEnd(e._2) <= wmLateUs)
    val nMerged = evs.count(e => displaced(e._1) && winEnd(e._2) > wmLateUs)
    assert(nDropped > 0, "no displaced row was late enough to drop")
    assert(nMerged > 0, "no displaced row survived the watermark")
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    val expect = kept.filter(e => winEnd(e._2) <= finalWmUs)
      .groupBy(e => (winEnd(e._2) - hourUs, e._3))
      .map { case ((ws, tpe), rows) =>
        val cents = rows.map(e => math.round(e._4 * 100)).sum
        s"${fmt.format(new java.util.Date(ws / 1000))}|$tpe|${rows.size}|${cents / 100.0}"
      }.toSeq.sorted
    val streamed = SparkEntry.queries("stream_late_data")(spark, TestSpark.Sf0001)
    assert(asSortedSeq(streamed) == expect)
  }

  /** Plain-Scala sequential oracle: closed sessions per user (the open
    * tail never emits — mirrors the operator's contract). */
  private def oracleClosedSessions: Seq[SessionOut] = {
    val evs = batchEvents
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    evs.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      val sorted = es.sortBy(e => (e._3, e._2))
      val sessions = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
      var cur: Option[SessionOut] = None
      for ((_, _, ts, v) <- sorted) {
        val c = math.round(v * 100)
        cur = cur match {
          case Some(s) if ts - s.end_us > EventStreams.GapUs =>
            sessions += s; Some(SessionOut(u, ts, ts, 1, c))
          case Some(s) =>
            Some(SessionOut(u, s.start_us, ts, s.n_events + 1, s.sum_cents + c))
          case None => Some(SessionOut(u, ts, ts, 1, c))
        }
      }
      sessions.toSeq // open tail dropped
    }
  }

  test("stateful sessionizer: streaming across micro-batches == sequential oracle") {
    val streamed = runToMemory(
      EventStreams.sessionizeStateful(EventStreams.readEventsStream(spark, srcDir)).toDF(),
      "sessions_stream", "append")
    val got = streamed.collect().map(r =>
      SessionOut(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got.nonEmpty)
    assert(got.sortBy(s => (s.user_id, s.start_us)) ==
           oracleClosedSessions.sortBy(s => (s.user_id, s.start_us)))
  }

  test("StreamQueries.streamSessionize: self-staged micro-batch harness == oracle") {
    // the oracle-gated query surface stages its own micro-batches (ntile
    // over global event-time order, no driver collect) — this pins that
    // the staging preserves per-user event-time order across batch files
    val got = graft.streaming.StreamQueries.streamSessionize(spark, TestSpark.Sf0001)
      .collect().map(r =>
        SessionOut(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got.nonEmpty)
    assert(got.sortBy(s => (s.user_id, s.start_us)) ==
           oracleClosedSessions.sortBy(s => (s.user_id, s.start_us)))
  }

  test("StreamQueries.streamDedup: cross-batch key state emits exactly the distinct key set") {
    val got = graft.streaming.StreamQueries.streamDedup(spark, TestSpark.Sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val expect = batchEvents.select(col("user_id"), col("event_type")).distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(got.nonEmpty)
    assert(got == expect) // == also proves no key re-emitted across batches
  }

  test("StreamQueries.streamMinhash: cross-batch bucket state emits exactly the batch pair set") {
    val got = graft.streaming.StreamQueries.streamMinhash(spark, TestSpark.Sf0001)
    val gotPairs = got.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    // batch twin over the SAME signatures (one function for batch and
    // stream): per-band self-join
    val bands = graft.operators.Dedup.bandedSignaturesOf(
      graft.operators.Tables.t(spark, TestSpark.Sf0001, "documents"))
    val expect = bands.select(col("band"), col("sig"), col("doc_id").as("doc_a"))
      .join(bands.select(col("band"), col("sig"), col("doc_id").as("doc_b")),
            Seq("band", "sig"))
      .filter(col("doc_a") < col("doc_b"))
      .collect().map(r => (r.getInt(0), r.getLong(2), r.getLong(3))).sorted.toSeq
    assert(gotPairs.nonEmpty)
    assert(gotPairs == expect) // == also proves no pair re-emitted across batches
    // and the distinct pair projection IS the batch LSH operator's
    // candidate set (cap inert at this scale on both sides)
    val viaBatchOp = graft.operators.Dedup
      .dedupMinhashLsh(spark, TestSpark.Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(gotPairs.map(p => (p._2, p._3)).distinct.sorted == viaBatchOp)
  }

  test("StreamQueries.streamHourlyCounts: self-staged stream == batch aggregation") {
    val streamed = graft.streaming.StreamQueries.streamHourlyCounts(spark, TestSpark.Sf0001)
    val batch = EventStreams.hourlyCounts(batchEvents)
    assert(streamed.count() > 0)
    assert(asSortedSeq(streamed) == asSortedSeq(batch))
  }

  test("stateful sessionizer: batch run == streaming run (unified semantics)") {
    val batchRun = EventStreams.sessionizeStateful(batchEvents).collect().toSeq
    assert(batchRun.sortBy(s => (s.user_id, s.start_us)) ==
           oracleClosedSessions.sortBy(s => (s.user_id, s.start_us)))
  }

  test("checkpoint restart resumes stateful sessionization exactly-once") {
    // The reference's headline guarantee is fault tolerance: crash a
    // worker mid-job and the merged output is still exactly the oracle's
    // (test-mr.sh crash tests). Spark's twin guarantee is checkpoint
    // recovery — prove it: run the stateful sessionizer over HALF the
    // corpus, STOP the query (the crash), drop the remaining files in,
    // and restart a new query instance from the same checkpoint. The
    // open-session GroupState must survive the restart, no batch may
    // replay, and run1 ∪ run2 must equal the full-corpus oracle.
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    try {
      val rows = rawEvents.orderBy("ts", "event_id").collect()
      val schema = rawEvents.schema
      val chunks = rows.grouped(math.max(1, (rows.length + 3) / 4)).toSeq
      def dropBatch(i: Int): Unit = {
        val stage = s"$ckptDir/src/_stage$i"
        spark.createDataFrame(java.util.Arrays.asList(chunks(i): _*), schema)
          .coalesce(1).write.parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath,
          new java.io.File(s"$ckptDir/src", f"batch$i%02d.parquet").toPath)
      }
      new java.io.File(s"$ckptDir/src").mkdirs()
      // the memory sink can't recover a checkpoint; the parquet file sink
      // can — and its output dir accumulates BOTH runs' emissions, so
      // exactly-once shows up as "one directory == the oracle"
      def runOnce(): Unit = {
        val q = EventStreams
          .sessionizeStateful(EventStreams.readEventsStream(spark, s"$ckptDir/src"))
          .toDF().writeStream.format("parquet")
          .option("path", s"$ckptDir/out")
          .outputMode("append")
          .option("checkpointLocation", s"$ckptDir/ckpt") // SAME location
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      def emitted(): Seq[SessionOut] = {
        import spark.implicits._
        spark.read.schema(implicitly[org.apache.spark.sql.Encoder[SessionOut]].schema)
          .parquet(s"$ckptDir/out").as[SessionOut].collect().toSeq
      }
      dropBatch(0); dropBatch(1)
      runOnce()                                  // ... crash here
      val run1 = emitted()
      dropBatch(2); dropBatch(3)
      runOnce()                                  // restart from checkpoint
      val all = emitted()
      assert(run1.nonEmpty && all.size > run1.size)
      assert(all.sortBy(s => (s.user_id, s.start_us)) ==
             oracleClosedSessions.sortBy(s => (s.user_id, s.start_us)))
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm); f.delete()
      }
      rm(new java.io.File(ckptDir))
    }
  }

  test("streaming dedup drops cross-batch duplicates within the watermark") {
    // build a second stream where each batch replays the previous batch's
    // last 5 rows (inside the watermark -> caught by dedup state, not by
    // the late-row filter)
    val dupDir = java.nio.file.Files.createTempDirectory("graft_dup").toString
    try {
      val rows = rawEvents.orderBy("ts", "event_id").collect()
      val schema = rawEvents.schema
      val chunks = rows.grouped(250).toSeq
      val withDups = chunks.zipWithIndex.map { case (chunk, i) =>
        if (i == 0) chunk else chunks(i - 1).takeRight(5) ++ chunk
      }
      withDups.zipWithIndex.foreach { case (chunk, i) =>
        val stage = s"$dupDir/_stage$i"
        spark.createDataFrame(java.util.Arrays.asList(chunk: _*), schema)
          .coalesce(1).write.parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(dupDir, f"batch$i%02d.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(1000000L * (i + 1))
      }
      val streamed = runToMemory(
        EventStreams.dedupEvents(EventStreams.readEventsStream(spark, dupDir)),
        "dedup_stream", "append")
      assert(streamed.count() == rows.length) // each event exactly once
      val ids = streamed.select("event_id").collect().map(_.getLong(0)).toSet
      assert(ids == rows.map(_.getAs[Long]("event_id")).toSet)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm); f.delete()
      }
      rm(new java.io.File(dupDir))
    }
  }

  test("stream-stream interval self-join == batch join (view-purchase attribution)") {
    val s = EventStreams.readEventsStream(spark, srcDir)
    val streamed = runToMemory(
      EventStreams.viewPurchaseJoin(s, s), "ss_join", "append")
    val batch = EventStreams.viewPurchaseJoin(batchEvents, batchEvents)
    assert(streamed.count() > 0)
    assert(asSortedSeq(streamed) == asSortedSeq(batch))
  }

  test("stream-stream join: a match spanning the batch boundary comes from state") {
    // At sf0.001 no natural match straddles the 4-file split, so CRAFT
    // the cut: pick the batch-join pair whose purchase arrives furthest
    // after its view (in arrival order) and split the stream exactly at
    // the purchase — the view can then only match from the join's
    // buffered state carried across the micro-batch boundary.
    val pairs = EventStreams.viewPurchaseJoin(batchEvents, batchEvents)
      .select(col("view_id"), col("purchase_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "corpus has no view-purchase match at all")
    val evs = rawEvents.orderBy("ts", "event_id").collect()
    val arrival = evs.zipWithIndex
      .map { case (r, i) => r.getAs[Long]("event_id") -> i }.toMap
    val (vid, pid) = pairs.maxBy { case (v, p) => arrival(p) - arrival(v) }
    val cut = arrival(pid) // the purchase opens file 2
    assert(arrival(vid) < cut, "view must arrive in file 1")
    val dir = java.nio.file.Files.createTempDirectory("graft_span").toString
    try {
      val schema = rawEvents.schema
      Seq(evs.take(cut), evs.drop(cut)).zipWithIndex.foreach { case (chunk, i) =>
        val stage = s"$dir/_stage$i"
        spark.createDataFrame(java.util.Arrays.asList(chunk: _*), schema)
          .coalesce(1).write.parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(dir, f"batch$i%02d.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(1000000L * (i + 1))
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles.foreach(rm); f.delete()
        }
        rm(new java.io.File(stage))
      }
      val s = EventStreams.readEventsStream(spark, dir)
      val streamed = runToMemory(
        EventStreams.viewPurchaseJoin(s, s), "ss_span", "append")
      val got = streamed.select(col("view_id"), col("purchase_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.contains((vid, pid)),
        s"cross-batch match ($vid, $pid) missing from the drained join")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("stream-static broadcast join enriches every event exactly once") {
    val dim = batchEvents.groupBy("user_id").count()
      .withColumnRenamed("count", "user_total")
    val enriched = EventStreams.readEventsStream(spark, srcDir)
      .join(broadcast(dim), Seq("user_id"), "left")
    val streamed = runToMemory(enriched, "enrich_stream", "append")
    assert(streamed.count() == batchEvents.count())
    assert(streamed.filter(col("user_total").isNull).count() == 0)
    // spot-check: every row carries its user's correct total
    val expected = dim.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    streamed.select("user_id", "user_total").distinct().collect().foreach { r =>
      assert(expected(r.getLong(0)) == r.getLong(1))
    }
  }

  test("streaming parquet file sink lands exactly the input rows") {
    val outDir = s"$srcDir/_filesink_out"
    val q = EventStreams.readEventsStream(spark, srcDir)
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", s"$srcDir/_ckpt_filesink")
      .outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    val landed = spark.read.parquet(outDir)
    assert(landed.count() == batchEvents.count())
    assert(landed.select("event_id").collect().map(_.getLong(0)).toSet ==
           batchEvents.select("event_id").collect().map(_.getLong(0)).toSet)
  }

  test("exactly-once sink: crash between sink write and batch commit; replay adds no dupes") {
    // The E8 rename protocol's streaming twin. Crash the query AFTER
    // batch 1's parquet files are on disk but BEFORE Spark commits the
    // batch — the exact window where at-least-once redelivery would
    // double-write a naive append sink. On restart the batch replays
    // under the same id; the idempotent per-batch overwrite must replace,
    // not duplicate, the orphaned first attempt.
    val dir = java.nio.file.Files.createTempDirectory("graft_eo").toString
    val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
    def run(hook: Long => Unit): Option[Throwable] = {
      val q = EventStreams.exactlyOnceParquetSink(
        EventStreams.readEventsStream(spark, srcDir),
        s"$dir/out", s"$dir/ckpt", hook)
      try { q.processAllAvailable(); None }
      catch { case e: Throwable => Some(e) }
      finally q.stop()
    }
    try {
      val crash = run { id =>
        if (id == 1 && armed.getAndSet(false))
          throw new RuntimeException("injected crash between sink write and batch commit")
      }
      assert(crash.isDefined, "the injected crash must terminate the first run")
      // the dangerous state really exists: batch 1's output is on disk,
      // uncommitted — a restart WILL redeliver batch 1
      assert(new java.io.File(s"$dir/out/batch_id=1").exists())

      assert(run(_ => ()).isEmpty, "restart from the same checkpoint must succeed")
      val landed = spark.read.parquet(s"$dir/out")
      // no loss and — the point — no dupes from the replayed batch
      assert(landed.count() == batchEvents.count())
      assert(landed.select("event_id").collect().map(_.getLong(0)).toSet ==
             batchEvents.select("event_id").collect().map(_.getLong(0)).toSet)
      // all four micro-batches committed exactly one directory each
      assert(landed.select("batch_id").distinct().count() == 4)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("session_window agrees with the lag-based batch sessionization") {
    val declarative = EventStreams.sessionWindows(batchEvents)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    val lagBased = graft.operators.Events.eventsSessionize(spark, TestSpark.Sf0001)
      .select(col("user_id"), col("n_events"), col("sum_value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    assert(declarative == lagBased)
  }
}
