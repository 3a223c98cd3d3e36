package graft.streaming

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Structured Streaming promoted to the oracle-gated query surface [EXT]:
 * each query here stages the events table as a 4-file micro-batched
 * stream, runs a [[EventStreams]] transform through a REAL streaming
 * query (file source → state store → memory sink, `processAllAvailable`),
 * and returns the drained sink table — which the driver then hash-compares
 * against a batch DuckDB oracle like any other query. Streaming is not a
 * spec-only side show: "the incremental plan computes exactly the batch
 * answer" is itself the gated claim.
 *
 * Scale shape: the staged file source stands in for a Kafka-like source;
 * the streaming plans are the same one-exchange aggregations/stateful
 * maps as their batch twins, with state partitioned by (window, key) or
 * user across `spark.sql.shuffle.partitions` state-store partitions.
 */
object StreamQueries {

  /** Memory-sink names must be unique per run (Bench re-runs each query
    * in one session). */
  private val runId = new AtomicInteger(0)

  private def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
    f.delete()
  }

  /** Staged micro-batch dirs, keyed by (events dir, chunk count): staging
    * is a deterministic function of the source table, so one session
    * stages each corpus ONCE and every later stream run (Bench reps, the
    * other stream queries, Verify) replays the same files. The dirs live
    * until JVM exit (a shutdown hook removes them). */
  private val staged =
    scala.collection.concurrent.TrieMap.empty[(String, Int), File]
  sys.addShutdownHook(staged.values.foreach(rm))

  /** Stage the normalized events table (ts as TimestampType micros, via
    * [[graft.operators.Tables.events]] — so the stream schema is stable
    * whatever the corpus' physical timestamp type) as
    * `chunks` event-time-ordered files — the micro-batch harness. The
    * global ntile window is STAGING, not the measured operator: it plays
    * the role of the upstream log's arrival order, and a real deployment
    * reads an already-ordered Kafka/log source. No driver-side collect —
    * rows move executor-to-disk in one [[stageFiles]] job. */
  private def stageMicroBatches(spark: SparkSession, dir: String,
                                chunks: Int): File = synchronized {
    staged.getOrElseUpdate((dir, chunks), {
      val raw = graft.operators.Tables.events(spark, dir)
      stageFiles(raw.withColumn("mb",
        ntile(chunks).over(Window.orderBy(col("ts"), col("event_id")))),
        chunks)
    })
  }

  /** Write the ranked frame as one file per micro-batch in a SINGLE job:
    * repartition by the batch column so each batch's rows live in exactly
    * one task, `partitionBy` to split the dirs (dropping `mb` from the
    * files), then lift each dir's one part-file out with the arrival-order
    * mtime. Replaces the old per-chunk filter+coalesce(1) writes (chunks+1
    * jobs and a localCheckpoint of the whole ranked corpus). */
  private def stageFiles(ranked: org.apache.spark.sql.DataFrame,
                         chunks: Int): File = {
    val tmp = graft.Sessions.ramTempDir("graft_stream_q")
    val stage = new File(tmp, "_stage")
    ranked.repartition(chunks, col("mb"))
      .write.partitionBy("mb").parquet(stage.toString)
    for (i <- 1 to chunks) {
      val dir = new File(stage, s"mb=$i")
      // exactly one part-file per batch dir is a correctness invariant of
      // the repartition(chunks, mb) write above: a config that splits
      // files (e.g. spark.sql.files.maxRecordsPerFile) would silently
      // drop rows from the staged stream — fail loudly instead
      val parts = Option(dir.listFiles()).getOrElse(
        sys.error(s"staging: batch dir $dir missing — expected mb=1..$chunks"))
        .filter(_.getName.endsWith(".parquet"))
      require(parts.length == 1,
        s"staging: expected exactly 1 part-file in $dir, found ${parts.length}")
      val part = parts.head
      val dst = new File(tmp, f"batch$i%02d.parquet")
      Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1000000L * i) // mtime = source arrival order
    }
    rm(stage)
    tmp
  }

  /** Late-arrival staging for the watermark gate: the same event-time-
    * ordered `chunks`-file split as [[stageMicroBatches]], except rows
    * with `event_id % lateMod == 0` from the first `chunks-1` batches are
    * DISPLACED to arrive in the final batch with their event time
    * unchanged — a deterministic stand-in for out-of-order delivery. By
    * the time they arrive, the watermark (advanced by the in-order
    * batches) has passed most of their windows, so the stateful agg must
    * drop exactly the displaced rows whose hour-window end is at or
    * before that watermark. Cached like [[staged]], keyed separately. */
  private def stageLateMicroBatches(spark: SparkSession, dir: String,
                                    chunks: Int, lateMod: Int): File =
    synchronized {
      staged.getOrElseUpdate((s"$dir#late$lateMod", chunks), {
        val raw = graft.operators.Tables.events(spark, dir)
        stageFiles(raw.withColumn("mb",
          ntile(chunks).over(Window.orderBy(col("ts"), col("event_id"))))
          .withColumn("mb",
            when(col("mb") < chunks && col("event_id") % lateMod === 0,
                 lit(chunks)).otherwise(col("mb"))),
          chunks)
      })
    }

  /** Run one micro-batched streaming query over the staged events to a
    * memory sink, drain it, clean up the per-run checkpoint, and hand
    * back the sink table. The staging dir is shared across runs (see
    * [[staged]]); the CHECKPOINT must be fresh per run — reusing one
    * would resume a finished query and see no new files. */
  private def runStream(spark: SparkSession, dir: String, mode: String,
                        needsNoDataBatch: Boolean,
                        xform: DataFrame => DataFrame): DataFrame = {
    // 3 chunks: the results of every runStream gate are chunk-count
    // invariant (complete-mode agg, global dedup, gap sessionization,
    // in-order interval join — each equals its batch twin for ANY
    // event-time-ordered split, which StreamingSpec pins), and state
    // crossing still binds with 3 batches (a key seen in batch 1 must be
    // remembered in batch 3). Only the late-data gate pins its chunk
    // count (its oracle replays the ntile(4) split verbatim).
    val src = stageMicroBatches(spark, dir, chunks = 3)
    runStagedStream(spark, src, mode, xform, needsNoDataBatch)
  }

  /** A streaming query pins `spark.sql.shuffle.partitions` state stores
    * per stateful operator per micro-batch, and each pays task launch,
    * snapshot and commit every trigger, data or not: a fixed cost sized
    * to stream throughput, not to the host's core count (r9: 32 stores
    * for a 25k-row micro-batch was ~4x pure overhead).
    *
    * Adaptive state-partition count (r14): one state store per ~512 KiB
    * of staged micro-batch parquet (~25k events), capped at 16 — i.e.
    * sized to TRIGGER VOLUME, which is what "size to stream throughput"
    * means in code. sf0.01's ~70 KiB batches keep 1 store; sf0.1's
    * ~0.7 MiB batches get 2 (measured cost-neutral vs the old fixed 1:
    * family 7.0 vs 7.5 s under like load — the 32-store 4×-overhead
    * lesson from r9 was about store COUNT ≫ trigger volume, not >1);
    * sf1's ~4 MiB batches get 8, because at 333k-row triggers the
    * single-task stateful fold is the cost, not the store fan-out —
    * measured on the session gate: addBatch 2.3 s → 0.7 s per trigger
    * (8.8 s → 3.6 s warm wall), closing the one stream cost that grew
    * with data (VERDICT r13 #1: sessionize sf1 growth 5.9× → 3.0×).
    * Results are store-count invariant (hash state keying), which
    * StreamingSpec's differentials and the oracle gates' local[7] and
    * explicit 1/2/4/8-store hash-match runs pin. */
  private def statePartitionsFor(src: File): Int = {
    val maxBatch = Option(src.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".parquet"))
      .foldLeft(0L)((m, f) => math.max(m, f.length()))
    math.min(16L, math.max(1L, (maxBatch + (1L << 19) - 1) / (1L << 19))).toInt
  }

  /** @param needsNoDataBatch whether the drained result depends on the
    *   trailing NO-DATA micro-batch (the extra trigger Spark runs so the
    *   watermark computed from the last data batch can still act). An
    *   append-mode windowed AGGREGATE needs it — final windows emit only
    *   when the watermark passes them, so skipping it would drop rows.
    *   The other gates provably don't: an INNER stream-stream join emits
    *   matches at match time (eviction produces no output), dedup and
    *   flatMapGroupsWithState emit on data arrival only, and a
    *   complete-mode agg just rewrites the sink with unchanged state.
    *   Skipping the batch where it cannot matter saves a full trigger of
    *   task launch + state commit per run (~0.6 s at bench scale).
    *   REQUIRED, no default (r11): a silently-inherited `false` on a
    *   future append-mode windowed aggregate would drop its final
    *   windows; forcing every gate author to state the policy (with the
    *   proof in a comment, as the existing gates do) makes the omission
    *   a compile error instead of a wrong answer. */
  private def runStagedStream(spark: SparkSession, src: File, mode: String,
                              xform: DataFrame => DataFrame,
                              needsNoDataBatch: Boolean,
                              read: (SparkSession, String) => DataFrame =
                                EventStreams.readEventsStream): DataFrame = {
    // per-run throwaway checkpoint (deleted as soon as the sink is
    // drained), so it goes to RAM scratch: on local disk the state-store
    // delta commits and offset/commit log fsyncs dominate small-trigger
    // cost. A real deployment points `checkpointLocation` at durable
    // storage sized to its recovery SLA.
    val ckpt = graft.Sessions.ramTempDir("graft_stream_ckpt")
    val name = s"graft_stream_${runId.incrementAndGet()}"
    // the partition count and the no-data-batch policy are read at query
    // START (the stream clones the session conf; each run's checkpoint
    // is fresh) — set them just for the start call and restore, so batch
    // queries in the session keep the session's settings
    val partKey = "spark.sql.shuffle.partitions"
    val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    // the checkpoint lives on throwaway local tmpfs — swap the checksummed
    // local FS out of its commit path (measured ~30 ms/trigger of CRC
    // shadow-file traffic across offset log + commit log + state deltas)
    val cfmKey = "spark.sql.streaming.checkpointFileManagerClass"
    // State-store RECOVERY features sized to the harness's recovery story
    // (none — the checkpoint is deleted when the sink drains): snapshot
    // consolidation and the background maintenance thread exist to bound
    // restart replay (re-apply deltas since the last snapshot), which a
    // 3-4-batch throwaway query never does. Deferring both removes
    // snapshot writes and maintenance-thread contention from the measured
    // window (StreamLab r12: family 4.85→4.60 s; the conf sweep also
    // ruled OUT the r11 hypotheses — RocksDBStateStoreProvider is ~2×
    // WORSE at this state size (9.1 s family: native column families +
    // changelog cost per commit vs an in-heap map holding <100k keys),
    // and format validation / in-memory batch retention are noise).
    // A durable deployment keeps the defaults — snapshot cadence is its
    // restart-SLA knob, not a latency knob.
    val snapKey = "spark.sql.streaming.stateStore.minDeltasForSnapshot"
    val maintKey = "spark.sql.streaming.stateStore.maintenanceInterval"
    val prev = spark.conf.get(partKey)
    val prevNoData = spark.conf.get(noDataKey)
    val prevCfm = spark.conf.getOption(cfmKey)
    val prevSnap = spark.conf.getOption(snapKey)
    val prevMaint = spark.conf.getOption(maintKey)
    try {
      spark.conf.set(partKey, statePartitionsFor(src).toString)
      spark.conf.set(noDataKey, needsNoDataBatch.toString)
      spark.conf.set(cfmKey, classOf[FastLocalCheckpointFileManager].getName)
      spark.conf.set(snapKey, "100")
      spark.conf.set(maintKey, "600s")
      val q = try {
        xform(read(spark, src.toString))
          .writeStream.format("memory").queryName(name)
          .outputMode(mode)
          .option("checkpointLocation", ckpt.toString)
          .start()
      } finally {
        spark.conf.set(partKey, prev)
        spark.conf.set(noDataKey, prevNoData)
        def restore(key: String, v: Option[String]): Unit = v match {
          case Some(x) => spark.conf.set(key, x)
          case None => spark.conf.unset(key)
        }
        restore(cfmKey, prevCfm)
        restore(snapKey, prevSnap)
        restore(maintKey, prevMaint)
      }
      try q.processAllAvailable() finally q.stop()
      // the memory sink holds the drained result; the checkpoint is no
      // longer needed. The sink's LocalTableScan would otherwise
      // parallelize a few thousand driver-local rows across
      // defaultParallelism (32) tasks for whatever action the caller
      // runs — coalesce(1) keeps the drained-result read a 1-task stage.
      spark.table(name).coalesce(1)
    } finally rm(ckpt)
  }

  /** Tumbling hourly counts computed INCREMENTALLY across 4 micro-batches
    * (complete-mode streaming aggregation) — must equal the batch GROUP
    * BY. */
  def streamHourlyCounts(spark: SparkSession, dir: String): DataFrame =
    // complete-mode agg: the no-data batch just rewrites the sink with
    // unchanged state — safe to skip
    runStream(spark, dir, "complete", needsNoDataBatch = false,
      EventStreams.hourlyCounts)

  val streamHourlyCountsSql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS win_start,
      |  event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Custom-state sessionization (`flatMapGroupsWithState`) run as a real
    * stream: per-user open-session state carried ACROSS micro-batch
    * boundaries, each session emitted when the >30 min gap that closes it
    * arrives. The stream emits exactly the CLOSED sessions (the final
    * open tail per user never closes on a finite input), so the oracle is
    * the lag-based batch sessionization minus each user's last session —
    * same strict-gap semantics, money as exact cents. */
  def streamSessionize(spark: SparkSession, dir: String): DataFrame =
    // flatMapGroupsWithState with no event-time timeout: emits on data
    // arrival only, so the trailing no-data batch can produce nothing
    runStream(spark, dir, "append", needsNoDataBatch = false,
      ev => EventStreams.sessionizeStateful(ev).toDF())

  /** Streaming exact dedup as a gated query: `dropDuplicates` on the
    * (user_id, event_type) key emits each key's FIRST arrival and
    * suppresses every later one — the suppression is the state-store
    * work carried across micro-batch boundaries (a key first seen in
    * batch 1 must still be dropped in batch 4). Projected to the key
    * columns BEFORE the dedup so the surviving row is deterministic
    * (which full row wins within a batch is not). No watermark here —
    * the gate claims exact global dedup, so key state is unbounded;
    * the watermark-bounded production form is
    * [[EventStreams.dedupEvents]] (spec-gated). */
  def streamDedup(spark: SparkSession, dir: String): DataFrame =
    // dedup emits each key's first arrival at arrival time; eviction
    // (none here — unbounded state) produces no output
    runStream(spark, dir, "append", needsNoDataBatch = false,
      ev => ev.select(col("user_id"), col("event_type"))
        .dropDuplicates(Seq("user_id", "event_type")))

  val streamDedupSql: String =
    "SELECT DISTINCT user_id, event_type FROM events"

  /** Staged documents (doc_id-ordered, (doc_id, text) only) for the
    * similarity stream gate — the corpus analog of [[stageMicroBatches]]:
    * a crawl frontier delivers documents in fetch order; doc_id order is
    * the deterministic stand-in. */
  private def stageDocMicroBatches(spark: SparkSession, dir: String,
                                   chunks: Int): File = synchronized {
    staged.getOrElseUpdate((s"$dir#docs", chunks), {
      val docs = graft.operators.Tables.t(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
      stageFiles(docs.withColumn("mb",
        ntile(chunks).over(Window.orderBy(col("doc_id")))), chunks)
    })
  }

  /** Streaming MinHash-LSH near-dup candidates as a gated query — the
    * first streaming+similarity composition on the surface: documents
    * arrive as a micro-batched stream, each computes its banded minhash
    * signature row-locally (stateless), and ONE stateful operator keyed
    * by (band, sig) holds each bucket's membership and emits an arriving
    * doc's pairs against the bucket's prior members — cross-batch pairs
    * (doc in batch 1, near-dup in batch 3) come from the bucket state.
    * Emitted per band (no distinct — the band tags the pair, so each
    * unordered pair appears exactly once per shared band and no second
    * stateful operator is needed); the oracle is the rank-bounded batch
    * self-join ([[graft.operators.Dedup.streamMinhashOracleSql]]),
    * identical to the drained result for ANY chunking because a pair
    * emits exactly when its later member arrives. */
  def streamMinhash(spark: SparkSession, dir: String): DataFrame =
    // flatMapGroupsWithState with no timeout: emits on data arrival only
    runStagedStream(spark, stageDocMicroBatches(spark, dir, chunks = 3),
      "append",
      docs => EventStreams.minhashPairsStateful(docs).toDF(),
      needsNoDataBatch = false,
      read = EventStreams.readDocsStream)

  val streamMinhashSql: String = graft.operators.Dedup.streamMinhashOracleSql

  /** Stream-STREAM interval self-join as a gated query (the hardest
    * streaming operator on the surface, previously only spec-
    * differential): each `view` joins the same user's `purchase`s within
    * the following hour, both sides watermarked, run as a real
    * micro-batched stream — cross-batch matches (view in batch 1,
    * purchase in batch 2) come from the join's buffered state.
    *
    * The drained append-mode result equals the FULL batch join,
    * deterministically: staged arrival is event-time-ordered, so no row
    * is ever late on entry (the 2 h watermark trails the in-order max),
    * and a view's state is evicted only once the watermark passes
    * view_ts + 1 h — by which point every matching purchase
    * (purchase_ts ≤ view_ts + 1 h ≤ max seen − 2 h) has already arrived
    * and emitted. Timestamps emitted as epoch micros so both engines
    * hash identical integers. */
  def streamAttribution(spark: SparkSession, dir: String): DataFrame =
    // INNER stream-stream join: matches emit at match time; state
    // eviction in the no-data batch produces no output
    runStream(spark, dir, "append", needsNoDataBatch = false, ev =>
      EventStreams.viewPurchaseJoin(ev, ev)
        .select(col("user_id"), col("view_id"), col("purchase_id"),
                unix_micros(col("view_ts")).as("view_us"),
                unix_micros(col("purchase_ts")).as("purchase_us")))

  val streamAttributionSql: String =
    """SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
      |  epoch_us(v.ts) AS view_us, epoch_us(p.ts) AS purchase_us
      |FROM events v JOIN events p
      |  ON p.user_id = v.user_id
      | AND v.event_type = 'view' AND p.event_type = 'purchase'
      | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR""".stripMargin

  /** Watermark late-data gate: append-mode hourly counts over the
    * LATE-ARRIVAL staging ([[stageLateMicroBatches]]: every 101st event
    * from batches 1–2 arrives in batch 3 — the minimum split where
    * displaced rows cross a watermark that advanced without them; 4→3
    * chunks in r11 shaves one trigger of fixed cost without weakening
    * the claim, since the drop boundary stays strictly inside the
    * displaced set, which StreamingSpec still asserts). The gated claim
    * is Spark's watermark semantics end to end, deterministically:
    *
    *  - stateful operators carry TWO watermarks since the multi-operator
    *    fix (Spark 3.4+, SPARK-40925): the LATE-EVENTS filter uses the
    *    watermark in effect during the PREVIOUS micro-batch, while
    *    eviction/emission uses the current one. A displaced row arriving
    *    in batch 3 is therefore DROPPED iff its hour window's end is
    *    ≤ (max event time through batch 1) − 2 h — the batch-1 cut, not
    *    the batch-2 one (StreamingSpec's plain-Scala twin asserts the
    *    boundary splits the displaced set: some dropped, some merged);
    *  - the filter predicate is on the WINDOW END (`window.end <= wm`,
    *    `WatermarkSupport.watermarkExpression`'s struct branch), not the
    *    row's event time — a late row whose open window still spans the
    *    watermark is merged normally;
    *  - append mode emits exactly the windows whose end is ≤ the FINAL
    *    watermark (max event time overall − 2 h, applied by a trailing
    *    no-data batch; the trailing windows stay in state forever on a
    *    finite input).
    *
    * The oracle replays those rules in batch SQL. All boundaries
    * are whole hours vs microsecond timestamps, so the ≤/< edge and
    * Spark's ms-truncated watermark cannot produce ties. */
  private val LateMod = 101

  def streamLateData(spark: SparkSession, dir: String): DataFrame =
    runStagedStream(spark, stageLateMicroBatches(spark, dir, 3, LateMod),
      "append", EventStreams.hourlyCountsAppend, needsNoDataBatch = true)

  val streamLateDataSql: String =
    s"""WITH ordered AS (
      |  SELECT ts, event_id, event_type, value,
      |    ntile(3) OVER (ORDER BY ts, event_id) AS mb
      |  FROM events),
      |wm_late AS (
      |  SELECT max(ts) - INTERVAL 2 HOUR AS wm FROM ordered
      |  WHERE mb <= 1 AND event_id % $LateMod <> 0),
      |final_wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS wm FROM events),
      |kept AS (
      |  SELECT ts, event_type, value FROM ordered
      |  WHERE NOT (mb <= 2 AND event_id % $LateMod = 0)
      |  UNION ALL
      |  SELECT o.ts, o.event_type, o.value FROM ordered o, wm_late
      |  WHERE o.mb <= 2 AND o.event_id % $LateMod = 0
      |    AND date_trunc('hour', o.ts) + INTERVAL 1 HOUR > wm_late.wm)
      |SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS win_start,
      |  event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM kept, final_wm
      |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= final_wm.wm
      |GROUP BY 1, 2""".stripMargin

  val streamSessionizeSql: String =
    """WITH g AS (
      |  SELECT user_id, event_id, ts, value,
      |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1)
      |                OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |              > 30*60*1000000 THEN 1
      |         WHEN lag(epoch_us(ts), 1)
      |                OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1
      |         ELSE 0 END AS is_new
      |  FROM events),
      |s AS (
      |  SELECT user_id, ts, value,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      |  FROM g),
      |sess AS (
      |  SELECT user_id, session_no,
      |    MIN(epoch_us(ts)) AS start_us, MAX(epoch_us(ts)) AS end_us,
      |    COUNT(*) AS n_events,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |  FROM s GROUP BY 1, 2),
      |last AS (SELECT user_id, MAX(session_no) AS last_no FROM sess GROUP BY 1)
      |SELECT sess.user_id, start_us, end_us, n_events, sum_cents
      |FROM sess JOIN last ON last.user_id = sess.user_id
      |WHERE session_no < last_no""".stripMargin
}
