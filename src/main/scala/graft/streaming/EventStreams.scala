package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

/**
 * Structured Streaming surface over the `events` stream [EXT] (the
 * reference is batch-only — SURVEY.md §2.3 "Streaming").
 *
 * The transforms are written once against `DataFrame` and run unchanged in
 * batch or streaming — Spark's unified model is the design: the batch twins
 * in [[graft.operators.Events]] are the DuckDB-oracle-able formulations,
 * these are the incremental ones, and StreamingSpec differentially checks
 * stream-vs-batch equivalence on the same files.
 *
 * Scale: a streaming deployment of these at 100 TB/day is the same plan as
 * batch — one hash exchange per aggregation, state store partitioned by
 * (window, key) or user — plus watermark-bounded state eviction.
 */
object EventStreams {

  /** File-source schema (streaming sources cannot infer). Staged stream
    * files are written by Spark from the [[graft.operators.Tables.events]]
    * normalized view, so `ts` is already TimestampType micros — whatever
    * physical timestamp type the source corpus used. */
  val eventsRawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Open a parquet-file event stream (one file per micro-batch — the test
    * harness's stand-in for a Kafka-like source). */
  def readEventsStream(spark: SparkSession, srcDir: String): DataFrame =
    spark.readStream
      .schema(eventsRawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)

  /** File-source schema for the staged DOCUMENTS stream (the similarity
    * gate's corpus — only the columns the minhash pipeline reads). */
  val docsRawSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  def readDocsStream(spark: SparkSession, srcDir: String): DataFrame =
    spark.readStream
      .schema(docsRawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)

  // ------------------------------------------------- unified transforms

  /** Tumbling 1-hour counts per event type — the incremental twin of
    * [[graft.operators.Events.eventsHourly]] (minus exact distinct-count,
    * which streaming aggregation cannot hold incrementally; a streaming
    * deployment would use approx_count_distinct). */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("win_start"),
              col("event_type"), col("n_events"), col("sum_value"))

  /** Production shape: watermarked append-mode hourly counts. A window
    * emits once the 2-hour watermark passes its end, and its state is
    * evicted — bounded state at any input rate. */
  def hourlyCountsAppend(events: DataFrame): DataFrame =
    hourlyCounts(events.withWatermark("ts", "2 hours"))

  /** Declarative gap-sessionization via `session_window` — runs in batch
    * and streaming. (Boundary semantics: an event exactly at gap distance
    * starts a new session, where the lag-based batch formulation in
    * [[graft.operators.Events.eventsSessionize]] keeps it — coincident
    * only for gaps of exactly 30:00.000000.) */
  def sessionWindows(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("user_id"), col("n_events"), col("sum_value"))

  /** Streaming exact dedup — the incremental twin of
    * [[graft.operators.Dedup.dedupExact]]'s idea: first occurrence wins,
    * with the watermark bounding the key state (an id older than 2 hours
    * of event time can no longer collide and is evicted). */
  def dedupEvents(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours").dropDuplicates(Seq("event_id"))

  /** Stream-stream inner join with an event-time interval bound: each
    * `view` joins the same user's `purchase`s within the following hour —
    * the ad-attribution shape. Both sides are watermarked and the join
    * condition bounds purchase time relative to view time, so Spark can
    * evict buffered rows once the watermark passes the interval: state
    * stays bounded at any input rate (an unconstrained stream-stream join
    * would buffer forever). The same function runs in batch (watermarks
    * are a no-op there) — StreamingSpec holds the two differentially
    * equal. */
  def viewPurchaseJoin(views: DataFrame, purchases: DataFrame): DataFrame = {
    val v = views.filter(col("event_type") === "view")
      .withWatermark("ts", "2 hours")
      .select(col("user_id"), col("event_id").as("view_id"),
              col("ts").as("view_ts"))
    val p = purchases.filter(col("event_type") === "purchase")
      .withWatermark("ts", "2 hours")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
              col("ts").as("purchase_ts"))
    v.join(p,
        col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("view_ts") &&
        col("purchase_ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("view_id"), col("purchase_id"),
              col("view_ts"), col("purchase_ts"))
  }

  // --------------------------------------------- exactly-once file sink

  /**
   * Exactly-once parquet sink via idempotent `foreachBatch` — the
   * streaming twin of the reference's atomic commit (E8: temp file,
   * fsync, `rename` to `out/mr-out-j`, `worker.rs:185-189`). Structured
   * Streaming's delivery to `foreachBatch` is at-least-once: a batch that
   * crashed between the sink write and the checkpoint commit is REPLAYED
   * with the SAME batch id on restart. Writing each micro-batch to its
   * own `batch_id=<id>/` directory in overwrite mode makes the replay
   * idempotent — the second attempt replaces the first's partial output
   * instead of appending next to it, exactly as the reference's rename
   * replaces rather than duplicates a re-executed reduce partition's
   * file. Readers see `outDir` as one hive-partitioned table.
   *
   * `afterWrite` is the crash-injection hook for specs: it fires after
   * the data is on disk but before Spark commits the batch — the window
   * where a naive append sink would double-write.
   */
  def exactlyOnceParquetSink(df: DataFrame, outDir: String, checkpointDir: String,
                             afterWrite: Long => Unit = _ => ()): StreamingQuery =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
        afterWrite(batchId)
      }
      .start()

  // ------------------------------------------- custom stateful operator

  /** Gap in microseconds splitting sessions (30 min). */
  val GapUs: Long = 30L * 60 * 1000000

  case class Ev(user_id: Long, event_id: Long, ts_us: Long, value: Double)
  /** Per-user state: the currently open session (money held as exact
    * cents — state must not accumulate float error across batches). */
  case class Open(start_us: Long, last_us: Long, n: Long, sum_cents: Long)
  case class SessionOut(user_id: Long, start_us: Long, end_us: Long,
                        n_events: Long, sum_cents: Long)

  private def cents(v: Double): Long = math.round(v * 100)

  /** The state transition: fold a micro-batch's events (sorted by event
    * time) into the user's open session, emitting the sessions closed by
    * >gap jumps and keeping the new open tail in state. */
  private def sessionStep(userId: Long, evs: Iterator[Ev],
                          state: GroupState[Open]): Iterator[SessionOut] = {
    val sorted = evs.toIndexedSeq.sortBy(e => (e.ts_us, e.event_id))
    val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
    var open = state.getOption
    for (e <- sorted) {
      open = open match {
        case Some(o) if e.ts_us - o.last_us > GapUs =>
          out += SessionOut(userId, o.start_us, o.last_us, o.n, o.sum_cents)
          Some(Open(e.ts_us, e.ts_us, 1, cents(e.value)))
        case Some(o) =>
          Some(Open(o.start_us, e.ts_us, o.n + 1, o.sum_cents + cents(e.value)))
        case None =>
          Some(Open(e.ts_us, e.ts_us, 1, cents(e.value)))
      }
    }
    open.foreach(state.update)
    out.iterator
  }

  /**
   * Custom stateful sessionizer via `flatMapGroupsWithState` — the engine
   * extension point `session_window` can't reach (arbitrary per-key state,
   * e.g. per-session ML features or cross-field invariants). Emits each
   * session when the gap that closes it arrives; the open tail stays in
   * state (a production pipeline adds EventTimeTimeout + watermark to
   * flush and evict idle users — kept minimal here so batch and streaming
   * runs are comparable: a batch run emits exactly the closed sessions).
   *
   * Assumes micro-batches arrive in event-time order per user (true for
   * the file harness; a Kafka source would pair this with the timeout).
   */
  def sessionizeStateful(events: DataFrame): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("event_id"),
              unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(sessionStep)
  }

  // ------------------------------------------- streaming LSH near-dup

  /** One emitted LSH candidate pair, tagged with the band that produced
    * it (the band is the natural dedup key — per band, an unordered pair
    * is emitted exactly once, when its later member arrives). */
  case class BandPair(band: Int, doc_a: Long, doc_b: Long)

  /** Per-bucket state transition: the bucket's membership so far (doc
    * ids, arrival order). New docs pair with every existing member and
    * with each other; a bucket already holding
    * [[graft.operators.Dedup.MaxBucketDocs]] members admits no more —
    * the STREAMING form of the batch pathological-bucket cap (a stream
    * cannot retroactively drop a bucket it already emitted pairs from,
    * so it prefix-caps instead; the two semantics agree whenever
    * occupancy stays under the cap, which the oracle corpus does by two
    * orders of magnitude). State is bounded by the cap per bucket. */
  private def bucketStep(key: (Int, String),
                         rows: Iterator[(Int, String, Long)],
                         state: GroupState[Seq[Long]]): Iterator[BandPair] = {
    var members = state.getOption.getOrElse(Seq.empty[Long])
    val out = scala.collection.mutable.ArrayBuffer.empty[BandPair]
    // sort within the batch so emission order (not just the emitted SET)
    // is deterministic under the staged doc_id-ordered arrival
    for (d <- rows.map(_._3).toVector.sorted
         if members.size < graft.operators.Dedup.MaxBucketDocs) {
      for (m <- members)
        out += BandPair(key._1, math.min(d, m), math.max(d, m))
      members = members :+ d
    }
    if (members.nonEmpty) state.update(members)
    out.iterator
  }

  /** Incremental MinHash-LSH candidate pairs over a documents stream:
    * row-local banded signatures (stateless — the batch chain's own
    * [[graft.operators.Dedup.bandedSignaturesOf]]), then ONE
    * stateful operator keyed by (band, sig) whose state is the bucket's
    * membership. Each arriving doc emits its pairs against the bucket's
    * prior members at arrival time — the streaming composition of the
    * batch LSH bucket-grouping, with identical hash family and bands.
    * Scale: state is per-bucket and cap-bounded; only (band, sig,
    * doc_id) rows cross the shuffle, never text or signatures-×-pairs. */
  def minhashPairsStateful(docs: DataFrame): Dataset[BandPair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.operators.Dedup.bandedSignaturesOf(docs)
      .select(col("band"), col("sig"), col("doc_id"))
      .as[(Int, String, Long)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(bucketStep)
  }
}
