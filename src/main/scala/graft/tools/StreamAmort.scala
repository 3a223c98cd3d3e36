package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/**
 * Stream-floor AMORTIZATION evidence (VERDICT r14 item 6):
 * docs/STREAM_FLOOR.json pins the stream gates' residual cost to the
 * per-trigger micro-batch protocol and ARGUES it amortizes over trigger
 * size in production. This tool measures that claim instead of arguing
 * it: each gate runs with the SAME trigger count at sf0.1 and at the 10×
 * sf1 corpus (so rows-per-trigger grows 10×), and the artifact records
 * warm per-trigger addBatch medians and per-row cost at both volumes.
 * The protocol floor amortizes iff per-trigger time grows far slower
 * than 10× — equivalently, ns-per-row drops several-fold.
 *
 * r17 (VERDICT r16 item 2): the sweep extends to synthesized sf10 /
 * sf100 events corpora — sf1 replicated N× with event_id/user_id offset
 * per replica (event times unchanged, so the window structure and
 * watermark cadence hold; per-replica user spaces keep the dedup key
 * count and the attribution self-join LINEAR in the replication). Rows
 * per trigger reach 100–1000× sf0.1's, far past any plausible
 * production micro-batch at this corpus shape — where the per-trigger
 * cost curve flattens is the protocol floor's final verdict.
 *
 * Usage: sbt "runMain graft.tools.StreamAmort [gate ...]"
 * (defaults to the two stateful gates). SPARK_GRAFT_AMORT_SFS selects
 * the decades to run (comma list from sf0.1,sf1,sf10,sf100; default
 * the first three). Cells MERGE into docs/STREAM_AMORTIZATION.json by
 * (gate, sf), so a targeted one-gate/one-decade run extends the
 * artifact instead of clobbering the rest of the grid.
 */
object StreamAmort {

  /** Synthesize (once, cached under target/) an events-only corpus with
    * N× sf1's rows: each replica offsets event_id and user_id past the
    * previous one so stream_dedup's key space and stream_attribution's
    * per-user join both scale linearly; ts is unchanged so the event-time
    * window structure (and hence watermark/state cadence) is that of the
    * real corpus, just N× denser — exactly what a larger trigger means. */
  private def synthEventsDir(spark: SparkSession, factor: Int): String = {
    import org.apache.spark.sql.functions._
    val root = new java.io.File(s"target/sf${factor}_events")
    val out = new java.io.File(root, "events.parquet")
    if (!new java.io.File(out, "_SUCCESS").exists()) {
      val ev = spark.read.parquet("/root/repo/sf1_local/events.parquet")
      val mx = ev.agg(max(col("event_id")), max(col("user_id"))).head
      val eOff = mx.getLong(0) + 1
      val uOff = mx.getLong(1) + 1
      ev.crossJoin(spark.range(factor).select(col("id").as("rep")))
        .select((col("event_id") + col("rep") * eOff).as("event_id"),
                col("ts"),
                (col("user_id") + col("rep") * uOff).as("user_id"),
                col("event_type"), col("value"), col("props"))
        .write.mode("overwrite").parquet(out.toString)
      println(s"SAMORT synthesized $out (${factor}x sf1 events)")
    }
    root.toString
  }

  /** Synthesize (once, cached) an N×-sf1 DOCUMENTS table into the same
    * synth root, for the stream_minhash cells: doc_id offset per replica
    * AND every token suffixed with the replica id (the gen_sf1.py
    * policy) — token/shingle/minhash spaces stay disjoint across
    * replicas, so bucket occupancy and candidate-pair counts scale
    * LINEARLY in the replication instead of quadratically (replicating
    * identical texts would put N copies in every LSH bucket). */
  private def synthDocsInto(spark: SparkSession, root: String, factor: Int): Unit = {
    import org.apache.spark.sql.functions._
    val out = new java.io.File(root, "documents.parquet")
    if (!new java.io.File(out, "_SUCCESS").exists()) {
      val docs = spark.read.parquet("/root/repo/sf1_local/documents.parquet")
      val dOff = docs.agg(max(col("doc_id"))).head.getLong(0) + 1
      docs.crossJoin(spark.range(factor).select(col("id").as("rep")))
        .select(
          (col("doc_id") + col("rep") * dOff).as("doc_id"),
          array_join(transform(split(col("text"), " "),
            t => concat(t, lit("_r"), col("rep").cast("string"))), " ").as("text"))
        .write.mode("overwrite").parquet(out.toString)
      println(s"SAMORT synthesized $out (${factor}x sf1 documents)")
    }
  }

  def main(args: Array[String]): Unit = {
    val cpus = graft.Sessions.harnessCpus
    val spark = graft.Sessions.harness(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    val gates = if (args.nonEmpty) args.toSeq
                else Seq("stream_hourly_counts", "stream_sessionize")
    val sfSel = sys.env.getOrElse("SPARK_GRAFT_AMORT_SFS", "sf0.1,sf1,sf10")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val dirs = sfSel.map {
      case "sf0.1" => "sf0.1" -> "/root/testdata/sf0.1"
      case "sf1"   => "sf1" -> "/root/repo/sf1_local"
      case "sf10"  => "sf10" -> synthEventsDir(spark, 10)
      case "sf100" => "sf100" -> synthEventsDir(spark, 100)
      case other   => sys.error(s"unknown amortization sf '$other'")
    }
    // the docs-streaming gate needs a documents table in the synth dirs
    if (gates.contains("stream_minhash"))
      dirs.foreach {
        case ("sf10", d)  => synthDocsInto(spark, d, 10)
        case ("sf100", d) => synthDocsInto(spark, d, 100)
        case _            => ()
      }

    @volatile var sink: java.util.List[(Long, Long)] = null
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val s = sink
        if (s != null) s.add((e.progress.numInputRows,
          e.progress.durationMs.getOrDefault("addBatch", -1L).longValue()))
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })

    def med(xs: Seq[Long]): Long = if (xs.isEmpty) -1 else xs.sorted.apply(xs.size / 2)

    val cells = for (g <- gates; (sfName, dir) <- dirs) yield {
      // rep 1 warms plan/codegen; rep 2 is the measured protocol cost
      var rows = Seq.empty[(Long, Long)]
      var wall = 0.0
      for (rep <- 1 to 2) {
        val buf = java.util.Collections.synchronizedList(
          new java.util.ArrayList[(Long, Long)]())
        sink = buf
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(g)(spark, dir).count()
        wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300) // drain listener bus
        sink = null
        import scala.jdk.CollectionConverters._
        rows = buf.asScala.toSeq
        graft.operators.Checkpoints.releaseAll(spark)
      }
      val fed = rows.filter(_._1 > 0) // drop the zero-row watermark-flush trigger
      val totalRows = fed.map(_._1).sum
      val medBatch = med(fed.map(_._2))
      val nsPerRow =
        if (totalRows == 0) -1
        else fed.map(_._2).sum * 1000000L / totalRows
      println(f"SAMORT $g%-22s $sfName%-6s rows=$totalRows%8d triggers=${fed.size} medAddBatch=${medBatch}ms ns/row=$nsPerRow wall=$wall%.2f s")
      (g, sfName, totalRows, fed.size, medBatch, nsPerRow, wall)
    }
    // Merge with the committed artifact by (gate, sf): keep every prior
    // cell this run didn't re-measure, so targeted one-gate extensions
    // (e.g. attribution at sf100) grow the grid instead of replacing it.
    val cellRe = """"gate":"([^"]+)","sf":"([^"]+)"""".r.unanchored
    val fresh = cells.map { case (g, sf, _, _, _, _, _) => (g, sf) }.toSet
    val keptLines =
      try Files.readAllLines(Paths.get("docs/STREAM_AMORTIZATION.json"))
        .toArray(Array.empty[String]).toSeq
        .map(_.stripSuffix(","))
        .filter(l => cellRe.findFirstMatchIn(l) match {
          case Some(m) => !fresh((m.group(1), m.group(2)))
          case None    => false
        })
      catch { case _: java.io.IOException => Seq.empty }
    val freshLines = cells.map { case (g, sf, r, t, m, ns, w) =>
      s"""  {"gate":"$g","sf":"$sf","rows":$r,"fed_triggers":$t,"median_addBatch_ms":$m,"ns_per_row":$ns,"wall_sec":${f"$w%.3f"}}"""
    }
    val sfOrd = Seq("sf0.1", "sf1", "sf10", "sf100").zipWithIndex.toMap
    val json = (keptLines ++ freshLines)
      .sortBy { l =>
        val m = cellRe.findFirstMatchIn(l).get
        (m.group(1), sfOrd.getOrElse(m.group(2), 99))
      }
      .mkString("[\n", ",\n", "\n]")
    val out =
      s"""{"what":"warm per-trigger addBatch cost of the stateful stream gates at 1x (sf0.1) vs 10x (sf1) rows per trigger, same trigger count — measures the STREAM_FLOOR amortization claim: if the cost were dataflow, addBatch would grow ~10x; a far smaller growth means the floor is per-trigger protocol that amortizes over trigger size in production",
         |"measured_at":${System.currentTimeMillis / 1000},
         |"cpus":$cpus,
         |"load_avg":${java.lang.management.ManagementFactory
                        .getOperatingSystemMXBean.getSystemLoadAverage},
         |"cells":$json}""".stripMargin
    Files.writeString(Paths.get("docs/STREAM_AMORTIZATION.json"), out + "\n")
    println("SAMORT wrote docs/STREAM_AMORTIZATION.json")
    spark.stop()
  }
}
